#!/usr/bin/env python3
"""Seeded record-linkage benchmark on a local[nproc] Spark session.

    python3 linkbench/run.py --workload mirror_hot_blocks --seed 1 --seconds 10 --trace 0

Run from the repository root. One process builds the inputs from `--seed`
(`sources.pages.generate_pages`), runs an untimed warm-up, then times
operations back to back until `--seconds` of operation time is reached:
a full `plans.pipeline.run_linkage` with its links and clusters sinks
written to parquet (mirror_hot_blocks), or a closed-loop
stream of `streaming.er.apply_increment` micro-batches into a fresh state
directory (recrawl_stream). Every output is checked afterwards. With
`--trace 1` one more, instrumented run follows and the per-layer metrics
are reported instead of the end-to-end ones (see BENCHMARK.json).

The last stdout line is one JSON object: correct, attempted, failed,
metrics. Host context (nproc, load average, steal%) is printed on the line
before it, and with `--trace 1` the recorded spans before that. All
scratch data lives under .linkbench_work/ in the checkout and is removed
on exit.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPS = 3  # set-up is repeated and its median reported
WARMUP_LINKAGE_RUNS = 1
WARMUP_STREAM_BATCHES = 3
HEAP = "1g"  # driver JVM heap
DEADLINE_S = 150  # stop starting timed operations past this wall time
MB = 1024 * 1024


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


# ---------------------------------------------------------------------------
# host context and memory
# ---------------------------------------------------------------------------


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies from the aggregate /proc/stat cpu line."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return (vals[7] if len(vals) > 7 else 0), sum(vals)


def loadavg() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def _pss(pid: int) -> int:
    """Proportional set size in bytes: pages shared between processes (a
    forked Python worker and its daemon) are split, not counted twice."""
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def descendants(root_pid: int) -> list[int]:
    """root_pid and all its descendants, from the ppid links in /proc."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def tree_memory(root_pid: int) -> int:
    """Resident bytes (PSS) of root_pid and all its descendants."""
    total = 0
    for pid in descendants(root_pid):
        try:
            total += _pss(pid)
        except (OSError, IndexError, ValueError):
            pass  # the process ended between listing and reading
    return total


class RssSampler:
    """Peak resident memory (PSS) of this process tree, driver JVM and
    Python workers included, sampled every `period` seconds."""

    def __init__(self, period: float = 0.1) -> None:
        self.peak = 0
        self._period = period
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_memory(os.getpid()))
            self._stop.wait(self._period)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, tree_memory(os.getpid()))


def collect_garbage(spark) -> None:
    """Python and JVM GC between runs: dead localCheckpoint blocks are
    only released once their references are collected."""
    gc.collect()
    spark.sparkContext._jvm.System.gc()


def p90(xs: list[float]) -> float:
    if len(xs) < 2:
        return xs[0]
    return statistics.quantiles(xs, n=10, method="inclusive")[-1]


def log(t_start: float, msg: str) -> None:
    print(f"[linkbench +{time.perf_counter() - t_start:6.1f}s] {msg}",
          file=sys.stderr, flush=True)


def metric(value: float, unit: str) -> dict:
    return {"value": value, "unit": unit}


# ---------------------------------------------------------------------------
# the benchmark
# ---------------------------------------------------------------------------


class Bench:
    def __init__(self, spark, name: str, w, seed: int, work: str) -> None:
        import workloads

        self.wl = workloads
        self.spark, self.name, self.w, self.seed = spark, name, w, seed
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.digest: str | None = None  # output digest of this seed
        self._n = 0

    def fresh_dir(self, tag: str) -> str:
        self._n += 1
        return os.path.join(self.work, f"{tag}{self._n}")

    def setup(self) -> list[float]:
        times = []
        for _ in range(SETUP_REPS):
            self.inp = None
            collect_garbage(self.spark)
            t0 = time.perf_counter()
            self.inp = self.wl.make_inputs(self.spark, self.w, self.seed)
            times.append(time.perf_counter() - t0)
        return times

    # one operation = one linkage run, or one stream run of all batches
    def op(self) -> tuple[list[float], str]:
        if self.w.kind == "linkage":
            out = self.fresh_dir("run")
            return [self.wl.run_linkage_op(self.spark, self.w, self.inp, out)], out
        state = self.fresh_dir("state")
        return self.wl.run_stream_op(self.spark, self.inp, state), state

    def check(self, out: str):
        if self.w.kind == "linkage":
            return self.wl.check_linkage(self.spark, self.inp, out, self.w.gate_f1)
        return self.wl.check_stream(self.spark, self.inp, out)

    def ops_per_run(self) -> int:
        return 1 if self.w.kind == "linkage" else len(self.inp.batches)

    def warm_up(self) -> str | None:
        """Untimed: absorbs codegen, JIT and Python-worker start-up. The
        linkage warm-up output also gives the reference digest."""
        if self.w.kind == "linkage":
            digest = None
            for i in range(WARMUP_LINKAGE_RUNS):
                _lat, out = self.op()
                if i == 0:
                    digest = self.check(out).digest
                self.wl.remove(out)
            return digest
        state = self.fresh_dir("warm")
        self.wl.run_stream_op(self.spark, self.inp, state, WARMUP_STREAM_BATCHES)
        self.wl.remove(state)
        return None

    def timed(self, seconds: float, t_start: float) -> dict:
        runs = []  # (op latencies, run wall, out dir)
        spent = 0.0
        steal0, tot0 = cpu_ticks()
        load0 = loadavg()
        with RssSampler() as rss:
            while True:
                collect_garbage(self.spark)
                t0 = time.perf_counter()
                try:
                    lat, out = self.op()
                except Exception:  # noqa: BLE001 - count, report, go on
                    traceback.print_exc()
                    self.attempted += self.ops_per_run()
                    self.failed += self.ops_per_run()
                    lat, out = None, None
                wall = time.perf_counter() - t0
                spent += wall
                if lat is not None:
                    runs.append((lat, wall, out))
                if spent >= seconds or time.perf_counter() - t_start > DEADLINE_S:
                    break
        steal1, tot1 = cpu_ticks()
        return {
            "runs": runs,
            "peak_memory": rss.peak,
            "steal_pct": 100.0 * (steal1 - steal0) / max(tot1 - tot0, 1),
            "load": (load0, loadavg()),
        }

    def verify(self, runs, ref_digest: str | None) -> list:
        checks = []
        for _lat, _wall, out in runs:
            self.attempted += self.ops_per_run()
            try:
                c = self.check(out)
            except Exception:  # noqa: BLE001
                traceback.print_exc()
                self.failed += self.ops_per_run()
                self.problems.append("check raised")
                continue
            finally:
                self.wl.remove(out)
            if ref_digest is None:
                ref_digest = c.digest
            failed_ops = c.failed_ops
            if c.digest != ref_digest:
                failed_ops = self.ops_per_run()
                c.problems.append("output digest differs between runs of one seed")
            self.failed += failed_ops
            self.problems += c.problems
            checks.append(c)
        self.digest = ref_digest
        return checks

    def end_to_end(self, timed: dict, checks: list, setup_s: float) -> dict:
        n = self.inp.n_pages
        runs = timed["runs"]
        op_lat = [x for lat, _w, _o in runs for x in lat]
        walls = [w for _l, w, _o in runs]
        if not runs or not checks:
            return {}
        return {
            "pages_per_s": metric(statistics.median(n / w for w in walls), "pages/s"),
            "batch_p50_s": metric(statistics.median(op_lat), "s"),
            "batch_p90_s": metric(p90(op_lat), "s"),
            "pair_f1": metric(statistics.median(c.f1 for c in checks), "ratio"),
            "state_bytes_per_page": metric(
                statistics.median(c.out_bytes for c in checks) / n, "bytes/page"),
            "peak_rss_mb": metric(timed["peak_memory"] / MB, "MB"),
            "setup_s": metric(setup_s, "s"),
        }


def traced_run(b: Bench, untraced_median: float) -> tuple[dict, list[dict]]:
    """One instrumented run; returns the per-layer metrics and the spans."""
    import spans as sp

    spark, wl = b.spark, b.wl
    collect_garbage(spark)
    tracer = sp.Tracer(f"{b.name}-{b.seed}-traced", sp.EngineCounters(spark))
    cap = sp.Captured()
    out = b.fresh_dir("traced")
    b.attempted += b.ops_per_run()
    with sp.instrument(tracer, cap):
        w0 = time.perf_counter()
        if b.w.kind == "linkage":
            with tracer.span("run_linkage"):
                res = wl.run_linkage(spark, b.inp.pages, wl.linkage_config(b.w))
            with tracer.span("sink"):
                res.links.write.parquet(os.path.join(out, "links"))
                res.clusters.write.parquet(os.path.join(out, "clusters"))
        else:
            for i, batch in enumerate(b.inp.batches):
                wl.er.apply_increment(spark, out, batch, i)
        w1 = time.perf_counter()
    sp.check_partition(tracer.spans, w0, w1)

    m: dict[str, dict] = {}
    selfs = sp.layer_self_times(tracer.spans)
    counters = sp.layer_counters(tracer.spans)
    for layer, key in LAYERS.items():
        c = counters.get(key, dict.fromkeys(sp.COUNTER_KEYS, 0))
        m[f"{layer}.s"] = metric(selfs.get(key, 0.0), "s")
        m[f"{layer}.shuffle_read_mb"] = metric(c["shuffle_read_bytes"] / MB, "MB")
        m[f"{layer}.shuffle_write_mb"] = metric(c["shuffle_write_bytes"] / MB, "MB")
        m[f"{layer}.gc_s"] = metric(c["gc_ms"] / 1000.0, "s")
        m[f"{layer}.tasks"] = metric(c["tasks"], "count")
    tot = {k: sum(c[k] for c in counters.values()) for k in sp.COUNTER_KEYS}
    m["engine.spill_mb"] = metric(tot["spill_bytes"] / MB, "MB")
    m["engine.failed_tasks"] = metric(tot["failed_tasks"], "count")
    m["trace.wall_s"] = metric(w1 - w0, "s")
    m["trace.unspanned_s"] = metric(sp.unspanned(tracer.spans, w0, w1), "s")
    m["trace_overhead_s"] = metric((w1 - w0) - untraced_median, "s")
    m.update(layer_counts(b, cap, selfs, out))
    wl.remove(out)
    return m, tracer.to_json()


# metric prefix -> span layer
LAYERS = {
    "blocking": "blocking",
    "scoring": "scoring",
    "summary": "summary",
    "em": "em",
    "cc": "cc",
    "assignment": "assignment",
    "linkage_other": "run_linkage",
    "sink": "sink",
    "increment.link": "increment.link",
    "increment.state_read": "increment.load_state",
    "increment.state_write": "increment",
}


def layer_counts(b: Bench, cap, selfs: dict, out: str) -> dict:
    from pyspark.sql import functions as F

    wl, n = b.wl, b.inp.n_pages
    m = {}
    cand = truth = covered = 0
    if cap.blocking:
        c = cap.blocking[0].select("id_a", "id_b")
        for df in cap.blocking[1:]:
            c = c.unionByName(df.select("id_a", "id_b"))
        c = c.distinct().localCheckpoint()
        tp = wl.truth_pairs(b.inp.truth)
        cand, truth = c.count(), tp.count()
        covered = c.join(tp, ["id_a", "id_b"]).count()
    m["blocking.candidate_pairs"] = metric(cand, "count")
    m["blocking.pair_completeness"] = metric(covered / truth if truth else 0.0, "ratio")
    m["blocking.true_pair_share"] = metric(covered / cand if cand else 0.0, "ratio")
    sc = selfs.get("scoring", 0.0)
    m["scoring.pairs_per_s"] = metric(cand / sc if sc else 0.0, "pairs/s")
    m["summary.distinct_vectors"] = metric(cap.dvecs_rows, "count")
    m["em.iterations"] = metric(cap.em_iterations, "count")
    comps = capped = 0
    if cap.comps is not None:
        r = cap.comps.agg(
            F.countDistinct("component").alias("c"),
            F.count(F.when(F.col("capped"), 1)).alias("k"),
        ).collect()[0]
        comps, capped = r["c"], r["k"]
    m["cc.rounds"] = metric(cap.cc_passes, "count")
    m["cc.components"] = metric(comps, "count")
    m["cc.capped_nodes"] = metric(capped, "count")
    blocks = fast = solver = links = 0
    if cap.assignment_out is not None:
        pairs = cap.assignment_in.where(F.col("w") > 0)
        fast_ids = (cap.assignment_out.where(F.col("resolved_by") == "mutual")
                    .select("block_id").distinct())
        blocks = pairs.select("block_id").distinct().count()
        fast = fast_ids.count()
        solver = pairs.join(fast_ids, "block_id", "left_anti").count()
        links = cap.assignment_out.count()
    m["assignment.blocks"] = metric(blocks, "count")
    m["assignment.fast_path_share"] = metric(fast / blocks if blocks else 0.0, "ratio")
    m["assignment.solver_pairs"] = metric(solver, "count")
    m["assignment.links"] = metric(links, "count")
    inc_cand = matched = docs = 0
    for reps, batch, assign in cap.increments:
        inc_cand += wl.increment_candidates(reps, batch)
        r = assign.agg(F.count(F.lit(1)).alias("n"),
                       F.count(F.when(F.col("matched"), 1)).alias("m")).collect()[0]
        docs, matched = docs + r["n"], matched + r["m"]
    m["increment.candidates"] = metric(inc_cand, "count")
    m["increment.matched_share"] = metric(matched / docs if docs else 0.0, "ratio")
    nb = wl.WORKLOADS["recrawl_stream"].batches
    written = [wl.dir_bytes(os.path.join(out, f"v{i}")) if cap.increments else 0
               for i in range(nb)]
    for i, x in enumerate(written):
        m[f"increment.bytes_written.b{i + 1:02d}"] = metric(x, "bytes")
    m["increment.bytes_written_per_page"] = metric(sum(written) / n, "bytes/page")
    return m


def stop_spark(spark) -> None:
    """Stop the session, end the gateway JVM, and wait until it and the
    Python workers it started have exited."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    started = [p for p in descendants(os.getpid()) if p != os.getpid()]
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    for pid in started:
        while time.monotonic() < deadline:
            try:
                os.kill(pid, 0)
            except ProcessLookupError:
                break
            time.sleep(0.1)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    t_start = time.perf_counter()
    sys.path.insert(0, ROOT)
    try:
        import bayesianrecordlinkage_jl_spark  # noqa: F401
    except ImportError as e:
        print(f"linkbench: the package is not in {ROOT}: {e}", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"linkbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    w = workloads.WORKLOADS[args.workload]
    work = os.path.join(ROOT, ".linkbench_work", str(os.getpid()))
    os.makedirs(work, exist_ok=True)
    # keep every scratch file (shuffle, checkpoints, JVM and Python temp
    # files) inside the checkout
    os.environ["TMPDIR"] = work
    os.environ["SPARK_LOCAL_DIRS"] = work
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={work} "
        + os.environ.get("JAVA_TOOL_OPTIONS", "")).strip()
    nproc = len(os.sched_getaffinity(0))
    spark = None
    try:
        from bayesianrecordlinkage_jl_spark.session import get_spark

        spark = get_spark(
            "linkbench", cpus=nproc,
            # a fixed-size heap: peak memory then measures the program, not
            # when the collector chose to grow the heap
            extra_conf={
                "spark.driver.memory": HEAP,
                "spark.driver.extraJavaOptions": f"-Xms{HEAP}",
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t_start
        bench = Bench(spark, args.workload, w, args.seed, work)
        log(t_start, f"session up ({session_s:.1f}s)")
        setup_s = session_s + statistics.median(bench.setup())
        log(t_start, f"inputs: {bench.inp.n_pages} pages")
        ref = bench.warm_up()
        log(t_start, "warm-up done")
        timed = bench.timed(args.seconds, t_start)
        log(t_start, f"timed: {[round(w, 2) for _l, w, _o in timed['runs']]}")
        checks = bench.verify(timed["runs"], ref)
        log(t_start, "checks done")
        metrics = bench.end_to_end(timed, checks, setup_s)
        if args.trace and metrics:
            walls = [wall for _l, wall, _o in timed["runs"]]
            try:
                metrics, spans = traced_run(bench, statistics.median(walls))
                print(json.dumps({"spans": spans}))
            except Exception:  # noqa: BLE001
                traceback.print_exc()
                bench.failed += bench.ops_per_run()
                metrics = {}
            log(t_start, "traced run done")
        context = {
            "workload": args.workload, "seed": args.seed, "nproc": nproc,
            "pages": bench.inp.n_pages, "timed_runs": len(timed["runs"]),
            "ops": bench.attempted, "loadavg_1m": timed["load"],
            "steal_pct": round(timed["steal_pct"], 3),
            "error_rate": bench.failed / max(bench.attempted, 1),
            "digest": bench.digest,
            "problems": bench.problems[:10],
        }
        print(json.dumps({"context": context}))
        if not metrics:
            print("linkbench: no successful run to report", file=sys.stderr)
            return 1
        print(json.dumps({
            "correct": bench.failed == 0 and not bench.problems,
            "attempted": bench.attempted,
            "failed": bench.failed,
            "metrics": metrics,
        }))
        return 0
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main())
