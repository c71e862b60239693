"""Corpus-curation operators (operators/corpus.py): near-dup cluster
canonicalization, duplicated-span stats, decontamination, caps, packing."""

import hashlib
import re

import numpy as np
import pandas as pd
import pytest

from bayesianrecordlinkage_jl_spark.operators import corpus


@pytest.fixture(scope="module")
def docs(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": range(7),
            "text": [
                "the quick brown fox jumps over the lazy dog near the river",
                "the quick brown fox jumps over the lazy dog near the river",
                "a quick brown fox jumps over the lazy dog near the river bank today",
                "completely different text about spark engines and window functions",
                "spark window spark window customer table join table join customer",
                "unrelated words entirely here none shared with anything else at all",
                "customer table join",
            ],
        }
    )
    pdf["n_chars"] = pdf["text"].str.len()
    return spark.createDataFrame(pdf).cache()


def _tokens(t: str) -> list[str]:
    return [x for x in re.split(r"[^a-z0-9]+", t.lower()) if x]


def _grams(t: str, k: int) -> list[str]:
    toks = _tokens(t)
    n = max(len(toks) - (k - 1), 1)
    return [" ".join(toks[i : i + k]) for i in range(n)]


def _phash(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


# ---------------------------------------------------------------------------
# near_dup_clusters_keep
# ---------------------------------------------------------------------------


def test_cluster_keep_structure(docs):
    out = corpus.near_dup_clusters_keep(
        docs, "doc_id", "text", "n_chars"
    ).toPandas()
    # one row per document; keep <=> own rep
    assert sorted(out["doc_id"]) == list(range(7))
    assert (out["keep"] == (out["doc_id"] == out["rep_id"])).all()
    # exact dups 0/1 and near-dup 2 share a cluster; rep is the LONGEST (2)
    by_id = out.set_index("doc_id")
    assert by_id.loc[0, "rep_id"] == by_id.loc[1, "rep_id"] == 2
    assert by_id.loc[2, "keep"] and by_id.loc[2, "cluster_size"] == 3
    # isolated docs are singleton keepers
    assert by_id.loc[5, "keep"] and by_id.loc[5, "cluster_size"] == 1
    # exactly one keeper per rep_id
    assert out.groupby("rep_id")["keep"].sum().eq(1).all()


def test_cluster_keep_tiebreak_smaller_id(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": [10, 11],
            "text": ["same text here for both docs exactly"] * 2,
        }
    )
    pdf["n_chars"] = pdf["text"].str.len()
    out = corpus.near_dup_clusters_keep(
        spark.createDataFrame(pdf), "doc_id", "text", "n_chars"
    ).toPandas()
    # equal lengths: the smaller id wins
    assert set(out.loc[out["keep"], "doc_id"]) == {10}


# ---------------------------------------------------------------------------
# duplicated_span_stats
# ---------------------------------------------------------------------------


def test_dup_span_stats_matches_bruteforce(docs, spark):
    k = 4
    out = (
        corpus.duplicated_span_stats(docs, "doc_id", "text", k=k)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    pdf = docs.toPandas()
    gram_docs: dict[int, set[int]] = {}
    per_doc: dict[int, list[int]] = {}
    for _, r in pdf.iterrows():
        hs = [_phash(g) for g in _grams(r["text"], k)]
        per_doc[r["doc_id"]] = hs
        for h in set(hs):
            gram_docs.setdefault(h, set()).add(r["doc_id"])
    for did, hs in per_doc.items():
        n_grams = len(hs)
        dup = sum(1 for h in hs if len(gram_docs[h]) >= 2)
        assert out.loc[did, "n_grams"] == n_grams
        assert out.loc[did, "dup_grams"] == dup, did
        assert out.loc[did, "dup_frac"] == pytest.approx(dup / n_grams)
    # exact dups are 100% duplicated spans
    assert out.loc[0, "dup_frac"] == 1.0 and out.loc[1, "dup_frac"] == 1.0
    # the unrelated doc has none
    assert out.loc[5, "dup_grams"] == 0


def test_dup_span_within_doc_repeat_not_duplicated(spark):
    # a doc that repeats its own span is NOT duplicated unless another doc
    # shares the span
    pdf = pd.DataFrame(
        {
            "doc_id": [0],
            "text": ["alpha beta gamma alpha beta gamma alpha beta gamma"],
        }
    )
    out = corpus.duplicated_span_stats(
        spark.createDataFrame(pdf), "doc_id", "text", k=3
    ).toPandas()
    assert out.iloc[0]["dup_grams"] == 0


def test_hash_split_deterministic_and_stable(docs, spark):
    splits = {"train": 8, "val": 1, "test": 1}
    out = corpus.hash_split(docs, "doc_id", splits).toPandas()
    assert set(out["split"]) <= {"train", "val", "test"}
    assert len(out) == 7 and out["split"].notna().all()
    # pure function of the id: the same ids in a DIFFERENT df get the
    # same assignment (corpus growth never reassigns)
    sub = corpus.hash_split(
        docs.where("doc_id < 3"), "doc_id", splits
    ).toPandas()
    merged = sub.merge(out, on="doc_id", suffixes=("_sub", "_full"))
    assert (merged["split_sub"] == merged["split_full"]).all()
    # replicates the driver-side phash rule exactly
    for _, r in out.iterrows():
        b = int(
            hashlib.md5(f"split:{r['doc_id']}".encode()).hexdigest()[:15], 16
        ) % 10
        want = "train" if b < 8 else ("val" if b < 9 else "test")
        assert r["split"] == want


# ---------------------------------------------------------------------------
# repetition stats
# ---------------------------------------------------------------------------


def test_repetition_stats_bruteforce(docs):
    k = 2
    out = (
        corpus.ngram_repetition_stats(docs, "doc_id", "text", k=k)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    pdf = docs.toPandas()
    for _, r in pdf.iterrows():
        toks = _tokens(r["text"])
        grams = _grams(r["text"], k)
        counts: dict[str, int] = {}
        for g in grams:
            counts[g] = counts.get(g, 0) + 1
        dup_pos = sum(c for c in counts.values() if c >= 2)
        top = max(counts.values())
        did = r["doc_id"]
        assert out.loc[did, "n_tokens"] == len(toks)
        assert out.loc[did, "n_grams"] == len(grams)
        assert out.loc[did, "dup_gram_frac"] == pytest.approx(
            dup_pos / len(grams)
        )
        assert out.loc[did, "top_gram_frac"] == pytest.approx(
            top / len(grams)
        )
    # doc 4 ("spark window spark window customer table join table join
    # customer") is heavily repetitive; doc 6 ("customer table join") has
    # no repeated 2-gram
    assert out.loc[4, "dup_gram_frac"] > 0.3
    assert out.loc[6, "dup_gram_frac"] == 0.0 and out.loc[6, "top_gram_frac"] == pytest.approx(0.5)


# ---------------------------------------------------------------------------
# decontamination
# ---------------------------------------------------------------------------


def test_contamination_flags_bruteforce(docs, spark):
    k = 4
    bench = docs.where("doc_id IN (0, 4)")
    out = (
        corpus.contamination_flags(
            docs, "doc_id", "text", bench, "doc_id", "text", k=k
        )
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    pdf = docs.toPandas()
    bench_hashes = set()
    for _, r in pdf[pdf["doc_id"].isin([0, 4])].iterrows():
        bench_hashes |= {_phash(g) for g in _grams(r["text"], k)}
    for _, r in pdf.iterrows():
        hs = [_phash(g) for g in _grams(r["text"], k)]
        n_hits = sum(1 for h in hs if h in bench_hashes)
        assert out.loc[r["doc_id"], "n_hits"] == n_hits, r["doc_id"]
        assert out.loc[r["doc_id"], "contaminated"] == (n_hits >= 1)
    # benchmark members present in the corpus flag themselves
    assert out.loc[0, "contaminated"] and out.loc[4, "contaminated"]
    # the exact dup of a benchmark doc is contaminated; unrelated doc isn't
    assert out.loc[1, "contaminated"]
    assert not out.loc[5, "contaminated"]


def test_contamination_min_hits_threshold(docs):
    bench = docs.where("doc_id = 0")
    hi = corpus.contamination_flags(
        docs, "doc_id", "text", bench, "doc_id", "text", k=4, min_hits=10**6
    ).toPandas()
    assert not hi["contaminated"].any()
    assert (hi["n_hits"] >= 0).all() and len(hi) == 7


def _phash(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def test_frequency_cap_bruteforce(docs):
    pdf = docs.toPandas()
    pdf["key"] = ["a", "a", "a", "a", "b", "b", "b"]
    df = docs.sparkSession.createDataFrame(pdf)
    out = (
        corpus.frequency_cap(df, "doc_id", "key", cap=2)
        .toPandas()
        .sort_values(["key", "rank"], ignore_index=True)
    )
    # replay: per key, 2 smallest (phash, id)
    exp = []
    for key, grp in pdf.groupby("key"):
        order = sorted(
            (_phash(f"cap:{i}"), i) for i in grp["doc_id"]
        )[:2]
        exp.extend((i, key, r + 1) for r, (_, i) in enumerate(order))
    exp = sorted(exp, key=lambda t: (t[1], t[2]))
    assert list(map(tuple, out[["doc_id", "key", "rank"]].values)) == exp
    # per-key counts never exceed the cap
    assert (out.groupby("key").size() <= 2).all()


def test_frequency_cap_stable_under_corpus_growth(docs, spark):
    """Selection is a pure function of the id-hash ORDER within a key:
    docs kept at a loose cap remain a superset of those kept at a tight
    cap, and ranks are growth-independent for unchanged ids."""
    full = corpus.frequency_cap(docs, "doc_id", "text", cap=3)
    # key by a constant to get one global key
    pdf = docs.toPandas()
    pdf["key"] = "k"
    df = spark.createDataFrame(pdf)
    keep2 = set(
        corpus.frequency_cap(df, "doc_id", "key", 2).toPandas()["doc_id"]
    )
    keep4 = set(
        corpus.frequency_cap(df, "doc_id", "key", 4).toPandas()["doc_id"]
    )
    assert keep2 < keep4
    assert full.count() == 7  # every text unique -> all kept at cap 3


def test_pack_sequences_invariants(docs, spark):
    pdf = docs.toPandas()
    df = spark.createDataFrame(pdf)
    out = corpus.pack_sequences(
        df, "doc_id", "n_chars", budget=100, n_buckets=2
    ).toPandas()
    # every doc packed exactly once
    assert sorted(out["doc_id"]) == sorted(pdf["doc_id"])
    lens = dict(zip(pdf["doc_id"], pdf["n_chars"]))
    merged = out.copy()
    merged["len"] = merged["doc_id"].map(lens)
    for seq_id, grp in merged.groupby("seq_id"):
        grp = grp.sort_values("offset")
        # offsets are the prefix sums of member lengths, fill <= budget
        # unless the sequence is a single oversized doc
        offs = grp["offset"].to_numpy()
        ls = grp["len"].to_numpy()
        assert offs[0] == 0
        assert (offs[1:] == np.cumsum(ls)[:-1]).all()
        fill = int(ls.sum())
        assert fill <= 100 or len(grp) == 1
        # seq_id embeds the bucket
        assert (grp["bucket"] == (seq_id >> 40)).all()


def test_pack_sequences_oversized_doc_alone(spark):
    pdf = pd.DataFrame(
        {"doc_id": [1, 2, 3], "n": [500, 10, 10]}
    )
    df = spark.createDataFrame(pdf)
    out = corpus.pack_sequences(
        df, "doc_id", "n", budget=100, n_buckets=1
    ).toPandas()
    by_doc = out.set_index("doc_id")
    big_seq = by_doc.loc[1, "seq_id"]
    # the oversized doc shares its sequence with nobody
    assert (out["seq_id"] == big_seq).sum() == 1
    assert by_doc.loc[1, "offset"] == 0


def test_pack_sequences_greedy_replay(docs, spark):
    """Full greedy replay in pure Python against the operator."""
    pdf = docs.toPandas()
    out = corpus.pack_sequences(
        docs, "doc_id", "n_chars", budget=120, n_buckets=2
    ).toPandas()
    exp = {}
    rows = sorted(
        (
            _phash(f"pack:{i}") % 2,
            _phash(f"pack:{i}"),
            i,
            n,
        )
        for i, n in zip(pdf["doc_id"], pdf["n_chars"])
    )
    from collections import defaultdict

    per_bucket = defaultdict(list)
    for b, h, i, n in rows:
        per_bucket[b].append((h, i, n))
    for b, items in per_bucket.items():
        seq, fill = 0, None
        for h, i, n in sorted(items):
            if fill is not None and fill + n <= 120:
                off = fill
                fill += n
            else:
                if fill is not None:
                    seq += 1
                off = 0
                fill = n
            exp[i] = (b, (b << 40) + seq, off)
    got = {
        r.doc_id: (r.bucket, r.seq_id, r.offset)
        for r in out.itertuples()
    }
    assert got == exp


def test_pack_sequences_grouped_never_mixes_groups(docs, spark):
    pdf = docs.toPandas()
    pdf["grp"] = ["x", "y", "x", "y", "x", "y", "x"]
    df = spark.createDataFrame(pdf)
    out = corpus.pack_sequences(
        df, "doc_id", "n_chars", budget=200, n_buckets=1, group_col="grp"
    ).toPandas()
    grp_of = dict(zip(pdf["doc_id"], pdf["grp"]))
    out["grp_expect"] = out["doc_id"].map(grp_of)
    assert (out["grp"] == out["grp_expect"]).all()
    # grouped packing == packing each group independently (seq_id is
    # unique within a group; (grp, seq_id) is the global key)
    for g in ("x", "y"):
        solo = corpus.pack_sequences(
            df.where(f"grp = '{g}'"), "doc_id", "n_chars", 200, 1
        ).toPandas().sort_values("doc_id", ignore_index=True)
        sub = (
            out[out["grp"] == g][["doc_id", "bucket", "seq_id", "offset"]]
            .sort_values("doc_id", ignore_index=True)
        )
        pd.testing.assert_frame_equal(sub, solo)
    # ungrouped call unchanged (back-compat): no group column in output
    plain = corpus.pack_sequences(df, "doc_id", "n_chars", 200, 1)
    assert plain.columns == ["doc_id", "bucket", "seq_id", "offset"]


def test_curation_pipeline_invariants(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = corpus.curation_pipeline(
        docs, "doc_id", "text", "source"
    ).toPandas()
    pdf = docs.toPandas().set_index("doc_id")
    # survivors are real docs, each packed exactly once
    assert out["doc_id"].is_unique
    assert set(out["doc_id"]) <= set(pdf.index)
    # the domain cap held: <= 15 survivors per source
    out["source"] = out["doc_id"].map(pdf["source"])
    assert (out.groupby("source").size() <= 15).all()
    # gates held: every survivor passes quality + repetition thresholds
    from bayesianrecordlinkage_jl_spark.operators.corpus import (
        ngram_repetition_stats,
    )
    rep = ngram_repetition_stats(docs, "doc_id", "text", k=2).toPandas()
    rep = rep.set_index("doc_id").loc[out["doc_id"]]
    assert (rep["dup_gram_frac"] <= 0.125).all()
    # offsets stay inside the budget for multi-doc sequences
    out["len"] = rep["n_tokens"].to_numpy()
    for seq_id, grp in out.groupby(["split", "seq_id"]):
        fill = grp["len"].sum()
        assert fill <= 256 or len(grp) == 1


# ---------------------------------------------------------------------------
# split_decontamination
# ---------------------------------------------------------------------------


def test_split_decontamination_bruteforce(docs):
    splits = {"train": 1, "test": 1}  # 50/50 so collisions are plentiful
    k = 3

    def split_of(i: int) -> str:
        return "train" if _phash(f"split:{i}") % 2 == 0 else "test"

    rows = {r["doc_id"]: r["text"] for r in docs.collect()}
    test_spans = set()
    for i, t in rows.items():
        if split_of(i) == "test":
            test_spans.update(_grams(t, k))
    want = {}
    for i, t in rows.items():
        if split_of(i) == "train":
            hits = sum(1 for g in _grams(t, k) if g in test_spans)
            want[i] = (hits, hits >= 1)
    got = {
        r["doc_id"]: (r["n_hits"], r["contaminated"])
        for r in corpus.split_decontamination(
            docs, "doc_id", "text", splits, k=k
        ).collect()
    }
    assert got == want
    assert any(v[1] for v in want.values())  # the fixture must exercise hits


def test_longest_dup_span_bruteforce(docs):
    k = 4
    out = (
        corpus.longest_dup_span(docs, "doc_id", "text", k=k)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    pdf = docs.toPandas()
    gram_docs: dict[int, set[int]] = {}
    per_doc: dict[int, list[int]] = {}
    for _, r in pdf.iterrows():
        hs = [_phash(g) for g in _grams(r["text"], k)]
        per_doc[r["doc_id"]] = hs
        for h in set(hs):
            gram_docs.setdefault(h, set()).add(r["doc_id"])
    for did, hs in per_doc.items():
        best = run = 0
        for h in hs:
            run = run + 1 if len(gram_docs[h]) >= 2 else 0
            best = max(best, run)
        assert out.loc[did, "n_grams"] == len(hs)
        assert out.loc[did, "max_run"] == best, did
        want_words = best + k - 1 if best else 0
        assert out.loc[did, "max_dup_words"] == want_words, did
    # the exact-dup pair is one unbroken run covering the whole doc
    assert out.loc[0, "max_run"] == out.loc[0, "n_grams"]
    # the unrelated doc has no duplicated span at all
    assert out.loc[5, "max_run"] == 0 and out.loc[5, "max_dup_words"] == 0


def test_longest_dup_span_interrupted_run(spark):
    # two docs share a long prefix AND a long suffix with a unique middle:
    # the max run must be the longer shared block, not the sum
    pre = " ".join(f"p{i}" for i in range(6))
    suf = " ".join(f"s{i}" for i in range(9))
    rows = [
        (1, f"{pre} uniqmid1a uniqmid1b {suf}"),
        (2, f"{pre} uniqmid2a uniqmid2b uniqmid2c {suf}"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    k = 4
    got = {
        r["doc_id"]: r
        for r in corpus.longest_dup_span(df, "doc_id", "text", k=k).collect()
    }
    # shared suffix has 9 words -> 9-k+1 = 6 consecutive duplicated grams
    assert got[1]["max_run"] == 6 and got[1]["max_dup_words"] == 9
    assert got[2]["max_run"] == 6 and got[2]["max_dup_words"] == 9


def test_group_language_profile_replica(spark):
    rows = [
        ("h1", "en"), ("h1", "en"), ("h1", "de"),
        ("h2", "fr"),
        ("h3", "en"), ("h3", "de"),  # tie -> lexicographically smaller lang
    ]
    df = spark.createDataFrame(rows, "host string, lang string")
    got = {
        r["grp"]: r
        for r in corpus.group_language_profile(df, "host", "lang").collect()
    }
    h1 = got["h1"]
    assert (h1["n_docs"], h1["n_langs"]) == (3, 2)
    assert (h1["top_lang"], h1["top_lang_docs"]) == ("en", 2)
    assert h1["simpson"] == (4 + 1) / 9.0
    assert got["h2"]["simpson"] == 1.0 and got["h2"]["top_lang"] == "fr"
    assert got["h3"]["top_lang"] == "de"  # tie broken lexicographically
    assert got["h3"]["simpson"] == (1 + 1) / 4.0


# --- exact group quantiles ----------------------------------------------------


def test_exact_group_quantiles_matches_numpy_rank(spark):
    import math

    from bayesianrecordlinkage_jl_spark.operators.corpus import (
        exact_group_quantiles,
    )

    vals_a = [3, 1, 4, 1, 5, 9, 2, 6, 5, 3]   # dups included
    vals_b = [10]                              # singleton group
    rows = [("a", v) for v in vals_a] + [("b", v) for v in vals_b]
    df = spark.createDataFrame(rows, "g string, v long")
    got = {
        r["g"]: r.asDict()
        for r in exact_group_quantiles(df, ["g"], "v").collect()
    }

    def rank_q(vs, p):
        s = sorted(vs)
        return s[math.ceil(len(s) * p / 100) - 1]

    for g, vs in (("a", vals_a), ("b", vals_b)):
        assert got[g]["n"] == len(vs)
        assert got[g]["vmin"] == min(vs) and got[g]["vmax"] == max(vs)
        for p in (25, 50, 75, 90, 99):
            assert got[g][f"q{p}"] == rank_q(vs, p), (g, p)


# ---------------------------------------------------------------------------
# span_rewrite (exact-substring dedup rewrite)
# ---------------------------------------------------------------------------


def _span_rewrite_brute(texts: dict[int, str], k: int) -> dict[int, tuple]:
    """All-but-global-first removal of duplicated k-gram spans, union of
    windows — the documented one-pass rule."""
    occ = []  # (gh, doc_id, start 1-based, n_tokens)
    toks = {d: _tokens(t) for d, t in texts.items()}
    for d in sorted(texts):
        gs = _grams(texts[d], k)
        for i, g in enumerate(gs, start=1):
            occ.append((_phash(g), d, i, len(toks[d])))
    cnt: dict[int, int] = {}
    first: dict[int, tuple] = {}
    for gh, d, i, _n in occ:
        cnt[gh] = cnt.get(gh, 0) + 1
        if gh not in first or (d, i) < first[gh]:
            first[gh] = (d, i)
    removed: dict[int, set] = {d: set() for d in texts}
    for gh, d, i, n in occ:
        if cnt[gh] >= 2 and (d, i) != first[gh] and n >= i:
            removed[d].update(range(i, min(i + k - 1, n) + 1))
    out = {}
    for d in texts:
        kept = [t for j, t in enumerate(toks[d], start=1)
                if j not in removed[d]]
        out[d] = (len(toks[d]), len(toks[d]) - len(kept), " ".join(kept))
    return out


def test_span_rewrite_matches_bruteforce(docs, spark):
    for k in (3, 8):
        out = (
            corpus.span_rewrite(docs, "doc_id", "text", k=k)
            .toPandas().set_index("doc_id").sort_index()
        )
        texts = {r["doc_id"]: r["text"] for _, r in docs.toPandas().iterrows()}
        exp = _span_rewrite_brute(texts, k)
        for d, (nt, nr, txt) in exp.items():
            assert out.loc[d, "n_tokens"] == nt, (k, d)
            assert out.loc[d, "n_removed"] == nr, (k, d)
            assert out.loc[d, "new_text"] == txt, (k, d)


def test_span_rewrite_exact_dup_keeps_first_only(spark):
    t = "alpha beta gamma delta epsilon zeta"
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": [0, 1, 2], "text": [t, t, t]})
    )
    out = (
        corpus.span_rewrite(df, "doc_id", "text", k=4)
        .toPandas().set_index("doc_id").sort_index()
    )
    # doc 0 is the global first occurrence of every span: untouched
    assert out.loc[0, "new_text"] == t and out.loc[0, "n_removed"] == 0
    # exact copies are fully cut
    assert out.loc[1, "new_text"] == "" and out.loc[1, "n_removed"] == 6
    assert out.loc[2, "new_text"] == ""


def test_span_rewrite_within_doc_repeat_removed(spark):
    # Lee et al. semantics: a WITHIN-document second occurrence is cut too
    df = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": [0],
             "text": ["alpha beta gamma tail alpha beta gamma"]}
        )
    )
    out = corpus.span_rewrite(df, "doc_id", "text", k=3).toPandas()
    assert out.iloc[0]["new_text"] == "alpha beta gamma tail"
    assert out.iloc[0]["n_removed"] == 3


def test_span_rewrite_unique_corpus_is_identity(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": [0, 1],
            "text": [
                "one two three four five six seven",
                "eight nine ten eleven twelve thirteen",
            ],
        }
    )
    out = (
        corpus.span_rewrite(spark.createDataFrame(pdf), "doc_id", "text", k=3)
        .toPandas().set_index("doc_id").sort_index()
    )
    for d in (0, 1):
        assert out.loc[d, "n_removed"] == 0
        assert out.loc[d, "new_text"] == pdf.loc[d, "text"]


try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    @settings(max_examples=60, deadline=None)
    @given(
        st.lists(
            st.text(alphabet="ab x", min_size=0, max_size=24),
            min_size=1, max_size=6,
        )
    )
    def test_span_rewrite_sql_twin_property(texts):
        """Property: the DuckDB twin equals the python replica on
        arbitrary tiny corpora (duplicate-heavy alphabet). Spark<->DuckDB
        parity is covered by the catalog sweep; this pins the SEMANTICS
        of the shared rule at high example count without a Spark job."""
        import duckdb

        from bayesianrecordlinkage_jl_spark.operators.corpus import (
            span_rewrite_sql,
        )

        con = duckdb.connect()
        con.execute("CREATE TABLE sr_docs (doc_id BIGINT, text VARCHAR)")
        for i, t in enumerate(texts):
            con.execute("INSERT INTO sr_docs VALUES (?, ?)", [i, t])
        out = con.execute(
            span_rewrite_sql("sr_docs", "doc_id", "text", k=2)
        ).df().set_index("doc_id").sort_index()
        exp = _span_rewrite_brute(dict(enumerate(texts)), k=2)
        for d, (nt, nr, txt) in exp.items():
            assert int(out.loc[d, "n_tokens"]) == nt
            assert int(out.loc[d, "n_removed"]) == nr
            assert out.loc[d, "new_text"] == txt

except ImportError:  # pragma: no cover
    pass
