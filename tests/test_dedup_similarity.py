"""Dedup suite + similarity search + streaming ingest."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from bayesianrecordlinkage_jl_spark.operators import dedup, similarity


@pytest.fixture(scope="module")
def docs(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": range(6),
            "text": [
                "the quick brown fox jumps over the lazy dog",
                "the quick brown fox jumps over the lazy dog",  # exact dup of 0
                "the quick brown fox leaps over the lazy dog",  # near dup
                "completely different text about spark engines",
                "spark engines text completely different about",  # token perm of 3
                "unrelated words entirely here none shared",
            ],
            "lang": ["en"] * 6,
        }
    )
    return spark.createDataFrame(pdf).cache()


def test_exact_dedup(docs):
    out = dedup.exact_dedup(docs, "doc_id", "text").toPandas()
    dup = out[out["n_dups"] > 1]
    assert len(dup) == 1 and dup.iloc[0]["n_dups"] == 2
    assert dup.iloc[0]["canonical_id"] == 0


def test_ngram_jaccard_pairs(docs):
    out = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", ["lang"], 50).toPandas()
    got = set(zip(out["id_a"], out["id_b"]))
    assert (0, 1) in got and (0, 2) in got and (1, 2) in got
    assert (3, 4) in got  # token permutation: identical distinct-token sets
    assert not any(5 in p for p in got)


def test_ngram_jaccard_via_lsh_subset_and_recall(docs):
    """The LSH-verified scale path emits a subset of the exact blocked
    result (precision 1) and keeps the high-similarity pairs (exact dup +
    token permutation collide in >= 1 band)."""
    exact = dedup.ngram_jaccard_pairs(docs, "doc_id", "text", ["lang"], 50).toPandas()
    lsh = dedup.ngram_jaccard_pairs_via_lsh(docs, "doc_id", "text", 50).toPandas()
    exact_pairs = set(zip(exact["id_a"], exact["id_b"]))
    lsh_pairs = set(zip(lsh["id_a"], lsh["id_b"]))
    assert lsh_pairs <= exact_pairs
    assert (0, 1) in lsh_pairs  # exact dup
    assert (0, 2) in lsh_pairs or (1, 2) in lsh_pairs  # near dup
    # known recall trade of the scale path: shingle-based candidates are
    # word-ORDER-sensitive, so the token-permuted pair (3,4) — identical
    # distinct-token SET, no shared 3-shingles — is legitimately missed
    assert (3, 4) not in lsh_pairs
    # jac_pct values agree with the exact path on shared pairs
    em = exact.set_index(["id_a", "id_b"])["jac_pct"]
    for (a, b), v in lsh.set_index(["id_a", "id_b"])["jac_pct"].items():
        assert v == em.loc[(a, b)]


def test_minhash_lsh_finds_exact_and_near(docs):
    out = dedup.minhash_lsh_pairs(docs, "doc_id", "text", n_bands=4, rows_per_band=1).toPandas()
    got = set(zip(out["id_a"], out["id_b"]))
    assert (0, 1) in got  # exact dup always collides
    assert (0, 2) in got or (1, 2) in got  # near dup collides in >=1 band


def test_hot_bucket_salting_bounds_degenerate_keys(spark):
    """200 identical documents collapse every band/chunk/sign bucket into
    one key. With a bucket cap the self-join must stay sub-quadratic, and
    the Spark result must still equal the DuckDB oracle exactly (the salt
    is mirrored in both emitters)."""
    import duckdb

    n, cap = 200, 25
    pdf = pd.DataFrame(
        {"doc_id": range(n), "text": ["same boilerplate page text"] * n}
    )
    df = spark.createDataFrame(pdf).cache()
    full = n * (n - 1) // 2  # 19900 uncapped pairs

    got = dedup.minhash_lsh_pairs(
        df, "doc_id", "text", max_bucket_rows=cap
    ).toPandas()
    assert 0 < len(got) < full / 3
    con = duckdb.connect()
    con.register("documents", pdf)
    want = con.execute(
        dedup.minhash_lsh_pairs_sql("documents", "doc_id", "text", max_bucket_rows=cap)
    ).df()
    cols = ["id_a", "id_b", "n_bands_hit"]
    g = got[cols].sort_values(cols).reset_index(drop=True)
    w = want[cols].sort_values(cols).reset_index(drop=True).astype(g.dtypes.to_dict())
    assert g.equals(w)

    got_sh = dedup.simhash_pairs(df, "doc_id", "text", max_bucket_rows=cap).toPandas()
    assert 0 < len(got_sh) < full / 3
    want_sh = con.execute(
        dedup.simhash_pairs_sql("documents", "doc_id", "text", max_bucket_rows=cap)
    ).df()
    cols = ["id_a", "id_b", "hamming"]
    g = got_sh[cols].sort_values(cols).reset_index(drop=True)
    w = (
        want_sh[cols].sort_values(cols).reset_index(drop=True)
        .astype(g.dtypes.to_dict())
    )
    assert g.equals(w)

    # observability: the hot buckets are reported, not silently split
    from bayesianrecordlinkage_jl_spark.operators import blocking as B

    banded = df.select(
        F.col("doc_id").alias("_id"),
        F.explode(
            F.array(
                *[
                    F.concat_ws("_", F.lit(str(b)), F.md5("text"))
                    for b in range(4)
                ]
            )
        ).alias("band_key"),
    )
    stats = B.bucket_cap_stats(banded, "band_key", cap).toPandas()
    assert len(stats) == 4 and (stats["n_rows"] == n).all()
    assert (stats["n_salts"] == -(-n // cap)).all()


def test_ngram_jaccard_block_cap(spark):
    """Degenerate one-block fixture: 200 near-identical docs under a single
    (lang) blocking key. The exact path's in-block self-join must be
    salt-capped to a bounded pair count (not n^2/2), Spark must equal the
    DuckDB oracle exactly with the cap mirrored, and an under-cap corpus
    must be byte-identical to the uncapped semantics."""
    import duckdb

    n, cap = 200, 25
    pdf = pd.DataFrame(
        {
            "doc_id": range(n),
            "text": [f"same boilerplate page text variant {i % 3}" for i in range(n)],
            "lang": ["en"] * n,
        }
    )
    df = spark.createDataFrame(pdf).cache()
    full = n * (n - 1) // 2

    got = dedup.ngram_jaccard_pairs(
        df, "doc_id", "text", ["lang"], 50, max_block_rows=cap
    ).toPandas()
    # every pair passes the Jaccard threshold, so the pair count IS the
    # join size: the cap must bound it well under the 19900 uncapped pairs
    assert 0 < len(got) < full / 3

    con = duckdb.connect()
    con.register("documents", pdf)
    want = con.execute(
        dedup.ngram_jaccard_pairs_sql(
            "documents", "doc_id", "text", ["lang"], 50, max_block_rows=cap
        )
    ).df()
    cols = ["id_a", "id_b", "jac_pct"]
    g = got[cols].sort_values(cols).reset_index(drop=True)
    w = want[cols].sort_values(cols).reset_index(drop=True).astype(g.dtypes.to_dict())
    assert g.equals(w)

    # under-cap blocks: capped call == uncapped call (salt 0 everywhere)
    small = spark.createDataFrame(pdf.head(20)).cache()
    capped = dedup.ngram_jaccard_pairs(
        small, "doc_id", "text", ["lang"], 50, max_block_rows=cap
    ).toPandas().sort_values(cols).reset_index(drop=True)
    uncapped = dedup.ngram_jaccard_pairs(
        small, "doc_id", "text", ["lang"], 50, max_block_rows=None
    ).toPandas().sort_values(cols).reset_index(drop=True)
    assert capped.equals(uncapped)
    assert len(uncapped) == 20 * 19 // 2


def test_hot_bucket_salting_embedding(spark):
    """Same degenerate-bucket bound for sign-LSH embedding dedup: identical
    vectors all share one bucket; the cap keeps the verify join bounded and
    oracle-exact."""
    import duckdb

    n, cap, dim = 120, 20, 8
    vec = [float(i % 3 + 1) for i in range(dim)]
    pdf = pd.DataFrame({"vec_id": range(n), "embedding": [vec] * n})
    df = spark.createDataFrame(
        pdf, schema="vec_id long, embedding array<double>"
    ).cache()
    got = dedup.embedding_cosine_pairs(
        df, "vec_id", "embedding", dim=dim, max_bucket_rows=cap
    ).toPandas()
    full = n * (n - 1) // 2
    assert 0 < len(got) < full / 2
    con = duckdb.connect()
    con.register("embeddings", pdf)
    want = con.execute(
        dedup.embedding_cosine_pairs_sql(
            "embeddings", "vec_id", "embedding", dim=dim, max_bucket_rows=cap
        )
    ).df()
    cols = ["id_a", "id_b", "sim"]
    g = got[cols].sort_values(cols).reset_index(drop=True)
    w = want[cols].sort_values(cols).reset_index(drop=True).astype(g.dtypes.to_dict())
    assert g.equals(w)


def test_simhash_pairs(docs):
    out = dedup.simhash_pairs(docs, "doc_id", "text", max_hamming=10).toPandas()
    got = set(zip(out["id_a"], out["id_b"]))
    assert (0, 1) in got
    ham01 = out[(out["id_a"] == 0) & (out["id_b"] == 1)]["hamming"].iloc[0]
    assert ham01 == 0  # identical text -> identical fingerprint
    assert (3, 4) in got  # simhash is order-insensitive over distinct tokens


def test_brute_force_topk(spark):
    rng = np.random.default_rng(0)
    vecs = rng.normal(size=(20, 8)).astype("float32")
    vecs[1] = vecs[0] * 2.0  # colinear with 0 -> cosine 1
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(20), "embedding": [v.tolist() for v in vecs]})
    )
    out = similarity.brute_force_topk(
        df, "vec_id", "embedding", df.where(F.col("vec_id") == 0), k=3
    ).toPandas()
    assert out.iloc[0]["item_id"] == 1
    assert out.iloc[0]["sim"] == pytest.approx(1.0, abs=1e-6)
    # verify against numpy
    sims = vecs @ vecs[0] / (np.linalg.norm(vecs, axis=1) * np.linalg.norm(vecs[0]))
    want = [i for i in np.argsort(-sims) if i != 0][:3]
    assert list(out.sort_values("rank")["item_id"]) == want


def test_lsh_bucketed_topk_recall(spark):
    rng = np.random.default_rng(1)
    vecs = rng.normal(size=(60, 8)).astype("float32")
    vecs[7] = vecs[3] + rng.normal(scale=0.01, size=8).astype("float32")
    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": range(60), "embedding": [v.tolist() for v in vecs]})
    )
    out = similarity.lsh_bucketed_topk(
        df, "vec_id", "embedding", df.where(F.col("vec_id") == 3), dim=8, k=3, n_planes=4
    ).toPandas()
    # the near-identical vector must share all hyperplane signs -> found
    assert 7 in set(out["item_id"])


def test_band_key_kernel_matches_expression(spark):
    """The numpy band-key kernel must emit bit-identical keys to the
    Catalyst expression twin — on real fixture vectors AND on the
    adversarial all-zero / negative-zero / single-axis vectors where the
    fold-vs-cumsum -0.0 nuance could only ever surface."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    adv = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": [100000, 100001, 100002, 100003],
                "embedding": [
                    [0.0] * 64,
                    [-0.0] * 64,
                    [1.0] + [0.0] * 63,
                    [-0.0] * 63 + [1e-300],
                ],
            }
        )
    )
    both = emb.select("vec_id", "embedding").unionByName(adv)
    ex = (
        both.select(
            "vec_id",
            similarity.band_set_keys("embedding", 64, 8, 8).alias("k"),
        )
        .orderBy("vec_id")
        .collect()
    )
    kern = similarity.band_set_keys_kernel(64, 8, 8)
    ar = (
        both.select("vec_id", kern(F.col("embedding")).alias("k"))
        .orderBy("vec_id")
        .collect()
    )
    assert [list(r["k"]) for r in ex] == [list(r["k"]) for r in ar]
    # and the full topk query is impl-invariant
    q = emb.where(F.col("vec_id") < 5)
    a = similarity.lsh_bucketed_topk(
        emb, "vec_id", "embedding", q, dim=64, k=3, key_impl="arrow"
    ).toPandas()
    b = similarity.lsh_bucketed_topk(
        emb, "vec_id", "embedding", q, dim=64, k=3, key_impl="expr"
    ).toPandas()
    cols = ["query_id", "item_id", "sim", "rank"]
    pd.testing.assert_frame_equal(
        a[cols].sort_values(cols, ignore_index=True),
        b[cols].sort_values(cols, ignore_index=True),
    )


def test_cosine_kernel_matches_expression(spark):
    """The Arrow cosine kernel must be BIT-identical to the Catalyst fold
    (the values are oracle-compared downstream) — checked on real fixture
    pairs plus zero / negative-zero / denormal adversaries."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    pairs = (
        emb.select(F.col("vec_id").alias("ia"), F.col("embedding").alias("va"))
        .join(
            emb.select(
                F.col("vec_id").alias("ib"), F.col("embedding").alias("vb")
            ),
            F.col("ia") + 1 == F.col("ib"),
        )
    )
    # adversaries with nonzero norms: alternating zeros make EVERY product
    # -0.0 (the dot is -0.0 before the kernel's +0.0 guard), opposed unit
    # vectors hit sim = -1 exactly, denormal products exercise underflow
    alt_a = [1.0 if i % 2 == 0 else -0.0 for i in range(64)]
    alt_b = [-0.0 if i % 2 == 0 else 1.0 for i in range(64)]
    adv = spark.createDataFrame(
        pd.DataFrame(
            {
                "ia": [-1, -2, -3],
                "va": [alt_a, [1.0] * 64, [-1e-160] * 64],
                "ib": [-11, -12, -13],
                "vb": [alt_b, [-1.0] * 64, [1e-160] * 64],
            }
        ),
        schema="ia long, va array<double>, ib long, vb array<double>",
    )
    both = pairs.select(
        "ia", "ib", F.col("va").cast("array<double>").alias("va"),
        F.col("vb").cast("array<double>").alias("vb"),
    ).unionByName(adv)
    got = (
        both.select(
            "ia", "ib",
            similarity.cosine(F.col("va"), F.col("vb")).alias("s_expr"),
            similarity.cosine_kernel()(F.col("va"), F.col("vb")).alias("s_arr"),
        )
        .orderBy("ia", "ib")
        .toPandas()
    )
    ebits = got["s_expr"].to_numpy().view("int64")
    abits = got["s_arr"].to_numpy().view("int64")
    neq = ebits != abits
    assert not neq.any(), got[neq]


def test_multiband_lsh_recall_at_production_threshold(spark):
    """Round-3 contract: multi-band sign-LSH must recall >= 0.95 of the
    TRUE near-dup pairs (exact cosine >= 0.95) that a single plane set
    misses ~half of. Ground truth is numpy brute force over a planted
    fixture (120 random bases, 100 of them with a perturbed near-copy)."""
    rng = np.random.default_rng(5)
    dim, n_base = 16, 120
    base = rng.normal(size=(n_base, dim))
    rows = [(i, [float(x) for x in base[i]]) for i in range(n_base)]
    for j in range(100):
        v = base[j] + 0.08 * rng.normal(size=dim)  # cos ~ 0.97 vs base[j]
        rows.append((n_base + j, [float(x) for x in v]))
    X = np.array([r[1] for r in rows])
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    S = Xn @ Xn.T
    iu = np.triu_indices(len(X), k=1)
    true_pairs = {
        (int(a), int(b)) for a, b in zip(iu[0][S[iu] >= 0.95], iu[1][S[iu] >= 0.95])
    }
    assert len(true_pairs) >= 90  # the fixture actually plants near-dups

    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>").cache()
    got = dedup.embedding_cosine_pairs(
        df, "vec_id", "embedding", dim=dim, min_cosine=0.95
    ).toPandas()
    got_pairs = set(zip(got["id_a"].astype(int), got["id_b"].astype(int)))
    assert got_pairs <= true_pairs  # exact verify -> precision 1
    recall = len(got_pairs & true_pairs) / len(true_pairs)
    assert recall >= 0.95, f"multi-band recall {recall:.3f} < 0.95"

    # single plane set is materially worse — the multi-band OR is load-bearing
    got1 = dedup.embedding_cosine_pairs(
        df, "vec_id", "embedding", dim=dim, min_cosine=0.95, n_band_sets=1
    ).toPandas()
    recall1 = len(
        set(zip(got1["id_a"].astype(int), got1["id_b"].astype(int))) & true_pairs
    ) / len(true_pairs)
    assert recall1 < recall

    # topk twin: for queries with a planted near-dup, the near-dup must
    # appear in the LSH top-k result (it is the rank-1 brute-force hit)
    q = df.where(F.col("vec_id") < 20)
    out = similarity.lsh_bucketed_topk(
        df, "vec_id", "embedding", q, dim=dim, k=3
    ).toPandas()
    found = 0
    for qq in range(20):
        hits = set(out[out["query_id"] == qq]["item_id"].astype(int))
        if (qq, n_base + qq) in true_pairs and n_base + qq in hits:
            found += 1
    n_expected = sum((qq, n_base + qq) in true_pairs for qq in range(20))
    assert found >= 0.95 * n_expected


def test_ivf_topk_recall_and_determinism(spark):
    """IVF top-k: trained centroids are deterministic; with clustered data
    and nprobe=2 the IVF result recovers most of the brute-force top-k
    (recall knob), every emitted (query,item) also appears in brute force
    at the same sim."""
    rng = np.random.default_rng(3)
    centers = rng.normal(size=(4, 16))
    rows = []
    for i in range(200):
        c = i % 4
        v = centers[c] + 0.15 * rng.normal(size=16)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>").cache()
    c1 = similarity.train_centroids(df, "vec_id", "embedding", n_centroids=4)
    c2 = similarity.train_centroids(df, "vec_id", "embedding", n_centroids=4)
    assert c1 == c2
    q = df.where(F.col("vec_id") < 8)
    ivf = similarity.ivf_topk(df, "vec_id", "embedding", q, c1, k=5, nprobe=2).toPandas()
    bf = similarity.brute_force_topk(df, "vec_id", "embedding", q, k=5).toPandas()
    bf_pairs = set(zip(bf["query_id"], bf["item_id"]))
    ivf_pairs = set(zip(ivf["query_id"], ivf["item_id"]))
    assert len(ivf_pairs & bf_pairs) / len(bf_pairs) >= 0.8
    bsim = bf.set_index(["query_id", "item_id"])["sim"]
    for (qq, it), s in ivf.set_index(["query_id", "item_id"])["sim"].items():
        if (qq, it) in bf_pairs:
            assert s == bsim.loc[(qq, it)]


def test_streaming_ingest(spark, tmp_path):
    from bayesianrecordlinkage_jl_spark.sources.pages import generate_pages
    from bayesianrecordlinkage_jl_spark.streaming import ingest

    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    pages = generate_pages(spark, n_clusters=40, seed=9).select(
        "url", "warc_ts", "html", F.lit(None).cast("string").alias("text"), "lang"
    )
    pages.write.parquet(src)
    q = ingest.start_ingest(spark, src, out, ck)
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.count() == pages.count()  # all urls distinct -> none dropped
    assert set(got.columns) >= {"url", "text", "n_tokens", "fingerprint", "simhash"}
    # extraction populated text from html
    assert got.where(F.length("text") > 0).count() == pages.count()


def test_train_centroids_distributed(spark):
    """Distributed trainer: unit-norm deterministic centroids that recover
    the planted cluster structure and serve IVF at >= the same recall bar
    as the driver-sample trainer."""
    rng = np.random.default_rng(9)
    centers = rng.normal(size=(4, 16))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)
    rows = []
    for i in range(240):
        v = centers[i % 4] + 0.15 * rng.normal(size=16)
        rows.append((i, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>").cache()

    c1 = similarity.train_centroids_distributed(
        df, "vec_id", "embedding", n_centroids=4, iters=5
    )
    c2 = similarity.train_centroids_distributed(
        df, "vec_id", "embedding", n_centroids=4, iters=5
    )
    assert c1 == c2  # same session/partitioning -> bit-identical
    C = np.array(c1)
    assert np.allclose(np.linalg.norm(C, axis=1), 1.0)
    # every planted center is captured by some centroid (loose bar: k-means
    # from hash init may land a split/merge local optimum on this noisy
    # fixture; the serving-recall assertion below is the real criterion)
    for t in centers:
        assert (C @ t).max() > 0.8
    # serving-path recall with the distributed-trained quantizer
    q = df.where(F.col("vec_id") < 8)
    ivf = similarity.ivf_topk(df, "vec_id", "embedding", q, c1, k=5, nprobe=2).toPandas()
    bf = similarity.brute_force_topk(df, "vec_id", "embedding", q, k=5).toPandas()
    bf_pairs = set(zip(bf["query_id"], bf["item_id"]))
    ivf_pairs = set(zip(ivf["query_id"], ivf["item_id"]))
    assert len(ivf_pairs & bf_pairs) / len(bf_pairs) >= 0.8


# --- containment (asymmetric near-dup) -------------------------------------


def test_containment_replica(spark):
    import hashlib
    import re as _re

    from bayesianrecordlinkage_jl_spark.operators.dedup import containment_pairs

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    pdf = docs.select("doc_id", "text").toPandas()

    def spans(text):
        toks = [t for t in _re.split("[^a-z0-9]+", text.lower()) if t]
        n = max(len(toks) - 7, 1)
        return {
            int(hashlib.md5(" ".join(toks[i:i + 8]).encode()).hexdigest()[:15], 16)
            for i in range(n)
        }

    sets = {int(r.doc_id): spans(r.text) for r in pdf.itertuples()}
    from collections import Counter

    dfreq = Counter(h for s in sets.values() for h in s)
    kept = {h for h, c in dfreq.items() if 2 <= c <= 20}
    exp = {}
    ids = sorted(sets)
    # pair candidates via postings (mirror the operator, not all-pairs)
    by_span = {}
    for i in ids:
        for h in sets[i] & kept:
            by_span.setdefault(h, []).append(i)
    cand = {}
    for h, ds in by_span.items():
        for x in range(len(ds)):
            for y in range(x + 1, len(ds)):
                k = (ds[x], ds[y])
                cand[k] = cand.get(k, 0) + 1
    for (a, b), n_shared in cand.items():
        ca = (100 * n_shared) // len(sets[a])
        cb = (100 * n_shared) // len(sets[b])
        if max(ca, cb) >= 60:
            exp[(a, b)] = (n_shared, len(sets[a]), len(sets[b]), ca, cb)

    got = {
        (r["id_a"], r["id_b"]): (
            r["n_shared"], r["n_spans_a"], r["n_spans_b"],
            r["cont_a_pct"], r["cont_b_pct"],
        )
        for r in containment_pairs(docs, "doc_id", "text").collect()
    }
    assert got == exp and len(exp) > 0


def test_containment_catches_quote_inclusion(spark):
    from bayesianrecordlinkage_jl_spark.operators.dedup import containment_pairs

    long_text = " ".join(f"w{i}" for i in range(100))
    short_text = " ".join(f"w{i}" for i in range(30, 50))  # verbatim excerpt
    other = " ".join(f"x{i}" for i in range(40))
    df = spark.createDataFrame(
        [(1, long_text), (2, short_text), (3, other)],
        "doc_id long, text string",
    )
    rows = containment_pairs(df, "doc_id", "text").collect()
    assert len(rows) == 1
    r = rows[0]
    assert (r["id_a"], r["id_b"]) == (1, 2)
    # the excerpt is fully contained; the long side is not
    assert r["cont_b_pct"] == 100 and r["cont_a_pct"] < 60


def test_bitext_topk_cross_lingual_replica(spark):
    """Catalog bitext query: results never pair en with en, and the
    per-query ranking matches a numpy cosine replica exactly."""
    import numpy as np

    from bayesianrecordlinkage_jl_spark.plans import oracle_queries as oq

    sf = "/root/testdata/sf0.001"
    cat = oq.build_catalog()
    got = cat["bitext_topk"]["spark"](spark, sf).toPandas()
    emb = spark.read.parquet(f"{sf}/embeddings.parquet").toPandas()
    lang = (
        spark.read.parquet(f"{sf}/documents.parquet")
        .select("doc_id", "lang").toPandas().set_index("doc_id")["lang"]
    )
    vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
            for _, r in emb.iterrows()}
    non_en = [i for i in vecs if lang.get(i) != "en"]
    assert set(got["item_id"]) <= set(non_en)  # queries only hit non-en
    q_ids = [i for i in vecs if lang.get(i) == "en" and i < 30]
    assert set(got["query_id"]) == set(q_ids)
    for q in q_ids:
        def cos(a, b):
            na, nb = np.linalg.norm(a), np.linalg.norm(b)
            return float(a @ b / (na * nb)) if na and nb else 0.0

        sims = sorted(
            ((cos(vecs[q], vecs[c]), c) for c in non_en if c != q),
            key=lambda t: (-t[0], t[1]),
        )[:5]
        mine = got[got["query_id"] == q].sort_values("rank")
        assert list(mine["item_id"]) == [c for _s, c in sims], q


# --- content-defined chunking (CDC) -----------------------------------------


def _cdc_replica(text: str, window: int = 16, div: int = 64):
    """Pure-Python CDC replica (same phash boundary rule)."""
    import hashlib

    def ph(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    if not text:
        return []
    bounds = [
        i
        for i in range(window, len(text) + 1)
        if ph(text[i - window : i]) % div == 0
    ]
    starts = [1] + [b + 1 for b in bounds]
    ends = bounds + [len(text)]
    out = []
    idx = 0
    for s, e in zip(starts, ends):
        if s > e:
            continue
        chunk = text[s - 1 : e]
        out.append((idx, s, e - s + 1, ph(chunk)))
        idx += 1
    return out


def _cdc_rand_text(seed: int, n_words: int = 160) -> str:
    """Seeded word-salad with enough window diversity to produce real
    CDC boundaries (a short-period repeated phrase can have NO window
    hitting the 1/64 boundary condition — degenerate single chunks)."""
    import random

    rng = random.Random(seed)
    words = [
        "".join(rng.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(rng.randrange(2, 9)))
        for _ in range(n_words)
    ]
    return " ".join(words)


def test_cdc_chunks_match_replica(spark):
    base = _cdc_rand_text(7)
    assert len(_cdc_replica(base)) > 5  # fixture really exercises boundaries
    rows = [
        (0, base),
        (1, base),                       # exact dup of 0
        (2, "xyz " + base),              # shifted -> tail chunks shared
        (3, "short"),                    # below window: one whole chunk
        (4, ""),                         # empty: no chunks
        (5, "a" * 16),                   # exactly window length
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {}
    for r in dedup.cdc_chunks(df, "doc_id", "text").collect():
        got.setdefault(r["doc_id"], []).append(
            (r["chunk_idx"], r["chunk_start"], r["chunk_len"], r["chunk_hash"])
        )
    for doc_id, text in rows:
        want = _cdc_replica(text)
        assert sorted(got.get(doc_id, [])) == want, doc_id
    # reconstruction: chunks tile the document exactly
    for doc_id, text in rows:
        if not text:
            continue
        spans = sorted(got[doc_id], key=lambda c: c[1])
        assert spans[0][1] == 1
        assert sum(c[2] for c in spans) == len(text)


def test_cdc_insertion_locality(spark):
    """The CDC property: a prefix insertion leaves the chunk-hash
    multiset largely intact (only the edit neighborhood re-chunks),
    whereas fixed-width blocks would shift every boundary."""
    base = _cdc_rand_text(11, n_words=400)
    a = _cdc_replica(base)
    assert len(a) > 8
    b = _cdc_replica("INSERTED! " + base)
    ha = [c[3] for c in a]
    hb = [c[3] for c in b]
    shared = len(set(ha) & set(hb))
    assert shared >= max(1, len(ha) - 3)


def test_cdc_chunk_dedup_counts(spark):
    base = _cdc_rand_text(23)
    rows = [(0, base), (1, base), (2, "unique text here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = dedup.cdc_chunk_dedup(df, "doc_id", "text").collect()
    per_doc = _cdc_replica(base)
    # every chunk of the duplicated doc appears in >= 2 docs
    want_hashes = {c[3] for c in per_doc}
    assert {r["chunk_hash"] for r in got} == want_hashes
    for r in got:
        assert r["n_occ"] >= 2 and r["n_docs"] == 2


# ---------------------------------------------------------------------------
# Round-5: AllPairs prefix-filter exact Jaccard join
# ---------------------------------------------------------------------------


def test_jaccard_prefix_filter_matches_brute(spark):
    """Exactness on the real fixture: the prefix-filter join emits EXACTLY
    the brute-force >= pct pair set with identical jac_pct values (recall
    1.0 is the operator's contract — no LSH curve, no blocking key)."""
    import itertools
    import re

    from bayesianrecordlinkage_jl_spark.functions.text import TOKEN_RE
    from bayesianrecordlinkage_jl_spark.operators import dedup

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    got = {
        (r["id_a"], r["id_b"]): r["jac_pct"]
        for r in dedup.jaccard_prefix_filter_pairs(
            docs, "doc_id", "text", 50
        ).collect()
    }
    rows = [(r["doc_id"], r["text"]) for r in docs.select("doc_id", "text").collect()]
    ts = {
        i: set(x for x in re.split(TOKEN_RE, t.lower()) if x != "")
        for i, t in rows
    }
    brute = {}
    for (a, sa), (b, sb) in itertools.combinations(sorted(ts.items()), 2):
        if not sa or not sb:
            continue
        i_, u_ = len(sa & sb), len(sa | sb)
        if i_ * 100 >= u_ * 50:
            brute[(a, b)] = i_ * 100 / u_
    assert got == brute and len(brute) > 0


def test_jaccard_prefix_filter_edge_cases(spark):
    """Empty-token docs never pair; exact dups score 100; the length
    filter respects the boundary (3 vs 5 tokens at 60% fails: J<=3/5)."""
    from bayesianrecordlinkage_jl_spark.operators import dedup

    rows = [
        (1, "a b c d e"), (2, "a b c d e"),      # exact dup pair
        (3, "a b c"),                             # J(3,1)=3/5=0.6
        (4, ""), (5, "???"),                      # tokenless
        (6, "x y z w"),                           # unrelated
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["id_a"], r["id_b"]): r["jac_pct"]
        for r in dedup.jaccard_prefix_filter_pairs(df, "doc_id", "text", 60).collect()
    }
    assert got == {(1, 2): 100.0, (1, 3): 60.0, (2, 3): 60.0}


def test_jaccard_prefix_filter_salt_cap_contract(spark):
    """Adversarial corpus (all docs identical): every prefix token bucket
    is hot. Default (None) keeps exactness; a cap deterministically
    misses cross-salt pairs — same contract as clk_band_pairs."""
    import hashlib

    from bayesianrecordlinkage_jl_spark.operators import dedup

    n, cap = 30, 10
    df = spark.createDataFrame(
        [(i, "alpha beta gamma") for i in range(1, n + 1)],
        "doc_id long, text string",
    )
    unc = {
        (r["id_a"], r["id_b"])
        for r in dedup.jaccard_prefix_filter_pairs(df, "doc_id", "text", 90).collect()
    }
    all_pairs = {(a, b) for a in range(1, n + 1) for b in range(a + 1, n + 1)}
    assert unc == all_pairs
    capped = {
        (r["id_a"], r["id_b"])
        for r in dedup.jaccard_prefix_filter_pairs(
            df, "doc_id", "text", 90, max_bucket_rows=cap
        ).collect()
    }
    salt = {
        i: int(hashlib.md5(str(i).encode()).hexdigest()[:15], 16) % 3
        for i in range(1, n + 1)
    }
    assert capped == {(a, b) for (a, b) in all_pairs if salt[a] == salt[b]}
