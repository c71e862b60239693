"""Exact similarity joins with filter-then-verify plans: TF-cosine over a
DF-bounded vocabulary and an Ed-Join-style edit-distance join.

Both operators are the classic ER "signature join" shape (complementary to
the LSH families in dedup.py, which are probabilistic): generate candidates
from an inverted-postings equi-join whose per-key fan-out is bounded, apply
cheap count/length filters that provably dominate the target predicate,
then verify the exact predicate ONCE per surviving pair.

Reference analog: the reference compares only pairs its index lists supply
(/root/reference/README.md:160-183) — these operators are the index-list
*builders* web-scale dirty sources need, with exact (non-LSH) guarantees
over the retained vocabulary.

  - tf_cosine_pairs: exact cosine^2 between term-frequency vectors over
    the DF-filtered vocabulary (terms with min_df <= df <= max_df). All
    state is integer (dot products, squared norms) and the similarity is
    one integer fixed-point division — bit-strict across engines. Dropping
    df>max_df stop-terms is the standard bound (they carry no
    discriminative signal and would emit C(df,2) pairs each); the cosine
    is EXACT on the retained vector space, not an approximation of the
    unfiltered one.
  - edit_similarity_pairs: all pairs of short keys with levenshtein <= d,
    via PREFIX filtering over char q-grams (Ed-Join, Xiao/Wang/Lin VLDB
    2008, on the Gravano et al. VLDB 2001 gram bound): one edit destroys
    at most q grams, so lev <= d implies bag overlap >= max(|Ga|,|Gb|) -
    d*q; by the prefix-filter theorem a true pair must then share at
    least one gram among each side's d*q+1 FIRST gram occurrences in a
    global total order (doc frequency asc, gram asc — identical in both
    engines: integer dfs + ASCII binary collation). Only those prefix
    grams are indexed, so the postings join touches d*q+1 rows per key
    regardless of key length and hot grams land in prefixes only for
    keys that have nothing rarer. No df cap is needed for correctness —
    unlike count filtering, where dropping stop-grams silently breaks
    the bound (the trap this implementation replaces). Keys shorter than
    q produce no grams and never pair; pairs whose overlap bound
    max(|Ga|,|Gb|) - d*q < 1 are likewise out of contract (a postings
    join cannot see zero-overlap pairs). Verification computes Spark's
    BANDED levenshtein (threshold=d, early abandon, -1 beyond the band)
    exactly once per candidate behind a pair-key aggregate barrier (repo
    invariant: expensive kernels evaluate once — the barrier stops
    Catalyst from inlining the filter copy).

100-TB notes: per-term join work is bounded at C(max_df, 2) for the
cosine join; the edit join indexes d*q+1 gram occurrences per key and
its only window is doc-partitioned (bounded by key length). Per-doc
term/gram relations are aggregated map-side before any join; nothing ever
sorts or windows the pair set.
The per-doc key relation is localCheckpoint'ed (consumed by the prefix
emitter and the verify join). Corpora with millions of IDENTICAL keys
make the output itself quadratic — dedupe exact keys upstream
(exact_dedup) before an edit join, as at web scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from ..functions import text as T
from .dedup import _spread

COS_SCALE = 10_000  # cosine^2 reported in 1e-4 units (integer fixed point)


# ---------------------------------------------------------------------------
# TF-cosine postings join
# ---------------------------------------------------------------------------


def tf_cosine_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_cos2_e4: int = 2500,
    min_df: int = 2,
    max_df: int = 100,
) -> DataFrame:
    """-> (id_a, id_b, dot, norm2_a, norm2_b, cos2_e4): document pairs
    whose term-frequency cosine^2 (over the retained vocabulary) is >=
    min_cos2_e4 / 1e4. cos2_e4 = (dot^2 * 1e4) div (norm2_a * norm2_b) —
    exact integer arithmetic end to end.

    Plan: tokenize once per doc -> (doc, term, tf) via one map-side-
    combined aggregate; vocabulary filter min_df <= df <= max_df (df=1
    terms cannot form a pair; df>max_df stop-terms are dropped — per-term
    pair work is bounded at C(max_df, 2)); norms over the SAME retained
    vocabulary so the cosine is exact on that space; postings self-join on
    term accumulates dot products with one aggregate."""
    tf = (
        _spread(df, id_col)
        .select(
            F.col(id_col).cast("long").alias("doc_id"),
            F.explode(T.tokens(F.col(text_col))).alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    keep = (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("_df"))
        .where((F.col("_df") >= min_df) & (F.col("_df") <= max_df))
        .select("term")
    )
    kept = tf.join(keep, on="term", how="left_semi").localCheckpoint()
    norms = kept.groupBy("doc_id").agg(
        F.sum(F.expr("tf * tf")).cast("long").alias("norm2")
    )
    a = kept.select(
        "term", F.col("doc_id").alias("id_a"), F.col("tf").alias("tf_a")
    )
    b = kept.select(
        "term", F.col("doc_id").alias("id_b"), F.col("tf").alias("tf_b")
    )
    dots = (
        a.join(b, on="term")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.sum(F.expr("tf_a * tf_b")).cast("long").alias("dot"))
    )
    out = (
        dots.join(
            norms.select(F.col("doc_id").alias("id_a"),
                         F.col("norm2").alias("norm2_a")), on="id_a")
        .join(
            norms.select(F.col("doc_id").alias("id_b"),
                         F.col("norm2").alias("norm2_b")), on="id_b")
        .withColumn(
            "cos2_e4",
            F.expr(f"(dot * dot * {COS_SCALE}) div (norm2_a * norm2_b)"),
        )
        .where(F.col("cos2_e4") >= min_cos2_e4)
    )
    return out.select("id_a", "id_b", "dot", "norm2_a", "norm2_b", "cos2_e4")


def tf_cosine_pairs_sql(
    table: str,
    id_col: str,
    text_col: str,
    min_cos2_e4: int = 2500,
    min_df: int = 2,
    max_df: int = 100,
) -> str:
    toks = T.tokens_sql(text_col)
    return f"""
    WITH tf AS MATERIALIZED (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT CAST({id_col} AS BIGINT) AS doc_id,
                   unnest({toks}) AS term
            FROM {table})
      GROUP BY doc_id, term
    ),
    keep AS (SELECT term FROM tf GROUP BY term
             HAVING count(*) >= {min_df} AND count(*) <= {max_df}),
    kept AS MATERIALIZED (SELECT tf.* FROM tf SEMI JOIN keep USING (term)),
    norms AS (SELECT doc_id, CAST(sum(tf * tf) AS BIGINT) AS norm2
              FROM kept GROUP BY doc_id),
    dots AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             CAST(sum(a.tf * b.tf) AS BIGINT) AS dot
      FROM kept a JOIN kept b
        ON a.term = b.term AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b, dot, norm2_a, norm2_b, cos2_e4
    FROM (
      SELECT id_a, id_b, dot,
             na.norm2 AS norm2_a, nb.norm2 AS norm2_b,
             (dot * dot * {COS_SCALE}) // (na.norm2 * nb.norm2) AS cos2_e4
      FROM dots
      JOIN norms na ON dots.id_a = na.doc_id
      JOIN norms nb ON dots.id_b = nb.doc_id
    ) WHERE cos2_e4 >= {min_cos2_e4}
    """


# ---------------------------------------------------------------------------
# Ed-Join: edit-distance join via q-gram count filtering
# ---------------------------------------------------------------------------


def _char_qgrams(key: Column, q: int) -> Column:
    """Overlapping character q-grams (with multiplicity). Spark's
    sequence(1, 0) DESCENDS, so short keys are guarded to array()."""
    n = F.length(key) - (q - 1)
    return F.when(
        n >= 1,
        F.transform(F.sequence(F.lit(1), n), lambda i: F.substring(key, i, q)),
    ).otherwise(F.array().cast("array<string>"))


def _char_qgrams_sql(key: str, q: int) -> str:
    return (
        f"(CASE WHEN length({key}) >= {q} THEN "
        f"list_transform(generate_series(1, length({key}) - {q - 1}), "
        f"i -> substr({key}, i, {q})) "
        f"ELSE [] END)"
    )


def edit_similarity_pairs(
    df: DataFrame,
    id_col: str,
    key: Column,
    max_dist: int = 2,
    q: int = 2,
) -> DataFrame:
    """-> (id_a, id_b, len_a, len_b, lev): key pairs with
    levenshtein(key_a, key_b) <= max_dist, among pairs whose gram-overlap
    lower bound max(|Ga|,|Gb|) - max_dist*q is >= 1 (see module
    docstring; shorter keys are out of the postings-join contract).

    Plan: per-key gram bags once behind a unique-key aggregate barrier;
    global gram doc-frequencies; each key indexes its max_dist*q+1 first
    gram OCCURRENCES in (df asc, gram asc) order — a doc-partitioned
    window bounded by key length; candidates = prefix-postings self-join
    + distinct; |len_a-len_b| <= max_dist length filter; banded
    levenshtein verified ONCE behind a pair-key aggregate barrier."""
    prefix_slots = max_dist * q  # rows whose preceding cum-count <= this
    keys = (
        _spread(df, id_col)
        .select(
            F.col(id_col).cast("long").alias("doc_id"),
            key.alias("k"),
        )
        .groupBy("doc_id")
        .agg(F.first("k").alias("k"))
        .select(
            "doc_id", "k",
            F.length("k").cast("long").alias("klen"),
            _char_qgrams(F.col("k"), q).alias("_g"),
        )
        .localCheckpoint()
    )
    grams = (
        keys.select("doc_id", F.explode("_g").alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    dfs = grams.groupBy("g").agg(F.count(F.lit(1)).cast("long").alias("gdf"))
    w = Window.partitionBy("doc_id").orderBy("gdf", "g")
    prefix = (
        grams.join(dfs, on="g")
        .withColumn("_cs", F.sum("cnt").over(w))
        .where(F.col("_cs") - F.col("cnt") <= prefix_slots)
        .select("doc_id", "g")
    )
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"), on="g")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
        )
        .distinct()
    )
    sides = keys.select("doc_id", "k", "klen")
    joined = (
        cand.join(
            sides.select(F.col("doc_id").alias("id_a"),
                         F.col("k").alias("_ka"),
                         F.col("klen").alias("len_a")), on="id_a")
        .join(
            sides.select(F.col("doc_id").alias("id_b"),
                         F.col("k").alias("_kb"),
                         F.col("klen").alias("len_b")), on="id_b")
        .where(F.abs(F.col("len_a") - F.col("len_b")) <= max_dist)
    )
    # banded kernel evaluated once, then the barrier, then the filter
    raw = joined.select(
        "id_a", "id_b", "len_a", "len_b",
        F.levenshtein("_ka", "_kb", max_dist).cast("long").alias("_lev"),
    )
    barrier = raw.groupBy("id_a", "id_b").agg(
        F.first("len_a").alias("len_a"),
        F.first("len_b").alias("len_b"),
        F.first("_lev").alias("lev"),
    )
    return barrier.where(F.col("lev") >= 0).select(
        "id_a", "id_b", "len_a", "len_b", "lev"
    )


def edit_similarity_pairs_sql(
    table: str,
    id_col: str,
    key_sql: str,
    max_dist: int = 2,
    q: int = 2,
) -> str:
    g = _char_qgrams_sql("k", q)
    prefix_slots = max_dist * q
    return f"""
    WITH keys AS MATERIALIZED (
      SELECT doc_id, k, CAST(length(k) AS BIGINT) AS klen, {g} AS _g
      FROM (SELECT CAST({id_col} AS BIGINT) AS doc_id, {key_sql} AS k
            FROM {table})
    ),
    grams AS (
      SELECT doc_id, g, CAST(count(*) AS BIGINT) AS cnt
      FROM (SELECT doc_id, unnest(_g) AS g FROM keys)
      GROUP BY doc_id, g
    ),
    dfs AS (SELECT g, CAST(count(*) AS BIGINT) AS gdf FROM grams GROUP BY g),
    prefix AS (
      SELECT doc_id, g FROM (
        SELECT grams.doc_id, grams.g, grams.cnt,
               sum(grams.cnt) OVER (PARTITION BY grams.doc_id
                                    ORDER BY dfs.gdf, grams.g
                                    ROWS UNBOUNDED PRECEDING) AS _cs
        FROM grams JOIN dfs USING (g)
      ) WHERE _cs - cnt <= {prefix_slots}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM prefix a JOIN prefix b ON a.g = b.g AND a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, len_a, len_b,
           CAST(levenshtein(_ka, _kb) AS BIGINT) AS lev
    FROM (
      SELECT id_a, id_b, ka.klen AS len_a, kb.klen AS len_b,
             ka.k AS _ka, kb.k AS _kb
      FROM cand
      JOIN keys ka ON cand.id_a = ka.doc_id
      JOIN keys kb ON cand.id_b = kb.doc_id
      WHERE abs(ka.klen - kb.klen) <= {max_dist}
    )
    WHERE levenshtein(_ka, _kb) <= {max_dist}
    """


# ---------------------------------------------------------------------------
# Monge-Elkan token-set comparator join
# ---------------------------------------------------------------------------


def monge_elkan_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: tuple = ("lang", "source"),
    max_tokens: int = 8,
) -> DataFrame:
    """-> (id_a, id_b, n_tok_a, n_tok_b, me_ab_micro, me_ba_micro,
    me_sym_micro): Monge-Elkan hybrid similarity (Monge & Elkan 1996) over
    blocked candidate pairs — the mean over A's tokens of the best
    Jaro-Winkler match in B (and vice versa), the standard secondary
    comparator for multi-token fields (names, addresses) that plain JW on
    the concatenated string mis-scores under token reorderings.

    The reference compares whole fields only (src/comparisonsummary.jl
    comparators are scalar per column); this supplies the token-set hybrid
    its dirty-source users add first.

    Token set: the first `max_tokens` DISTINCT tokens in lexicographic
    order (a total order both engines share on lowercased ASCII tokens),
    so per-pair work is bounded at max_tokens^2. Pairs where either side
    has no tokens are out of contract (no rows survive the explode).

    Bit-strict: jw is floored to integer micro-units per token pair
    (jaro_winkler_micro), per-token maxes and per-pair sums are integer
    (order-free), and the two means are floor(IEEE double division) of
    exact-representable integers — identical in both engines.
    me_sym_micro = (me_ab + me_ba) div 2.

    100-TB notes: tokenization + token-set slice happen once per DOCUMENT
    below the join; JW evaluates once per DISTINCT surviving token pair
    (a Zipf-shaped relation, localCheckpoint'ed and broadcast — web text
    re-pairs the same frequent tokens constantly), not per cross row; the
    blocked pair relation is localCheckpoint'ed because two directional
    aggregates consume it. Nothing sorts or windows the pair set."""
    from ..functions import comparators as C

    bcols = list(block_cols)
    tok = _spread(df, id_col).select(
        F.col(id_col).cast("long").alias("doc_id"),
        *[F.col(c) for c in bcols],
        F.slice(
            F.array_sort(F.array_distinct(T.tokens(F.col(text_col)))),
            1, max_tokens,
        ).alias("toks"),
    )
    a = tok.select(
        F.col("doc_id").alias("id_a"), *bcols, F.col("toks").alias("toks_a")
    )
    b = tok.select(
        F.col("doc_id").alias("id_b"), *bcols, F.col("toks").alias("toks_b")
    )
    pairs = (
        a.join(b, on=bcols)
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "toks_a", "toks_b")
        .localCheckpoint()
    )
    cross = pairs.select(
        "id_a", "id_b", F.explode("toks_a").alias("tok_a"), "toks_b"
    ).select("id_a", "id_b", "tok_a", F.explode("toks_b").alias("tok_b"))
    dim = (
        cross.select("tok_a", "tok_b")
        .distinct()
        .withColumn(
            "jw_micro",
            C.jaro_winkler_micro(F.col("tok_a"), F.col("tok_b")),
        )
        .localCheckpoint()
    )
    # size-gated broadcast (repo convention): the dim is usually tiny
    # (Zipf — web text re-pairs the same frequent tokens), but a hard
    # broadcast hint on a pathological vocabulary would OOM the driver;
    # the count is one cheap job on the already-materialized checkpoint
    dim_b = F.broadcast(dim) if dim.count() <= 2_000_000 else dim
    scored = cross.join(dim_b, on=["tok_a", "tok_b"])

    def _direction(tok_side: str, s_name: str, n_name: str) -> DataFrame:
        return (
            scored.groupBy("id_a", "id_b", tok_side)
            .agg(F.max("jw_micro").alias("_m"))
            .groupBy("id_a", "id_b")
            .agg(
                F.sum("_m").cast("long").alias(s_name),
                F.count(F.lit(1)).cast("long").alias(n_name),
            )
        )

    ab = _direction("tok_a", "_s_ab", "n_tok_a")
    ba = _direction("tok_b", "_s_ba", "n_tok_b")
    return (
        ab.join(ba, on=["id_a", "id_b"])
        .select(
            "id_a", "id_b", "n_tok_a", "n_tok_b",
            F.floor(F.col("_s_ab") / F.col("n_tok_a"))
            .cast("long").alias("me_ab_micro"),
            F.floor(F.col("_s_ba") / F.col("n_tok_b"))
            .cast("long").alias("me_ba_micro"),
        )
        .withColumn(
            "me_sym_micro",
            F.expr("(me_ab_micro + me_ba_micro) div 2").cast("long"),
        )
    )


def monge_elkan_pairs_sql(
    table: str,
    id_col: str,
    text_col: str,
    block_cols: tuple = ("lang", "source"),
    max_tokens: int = 8,
) -> str:
    """DuckDB twin of monge_elkan_pairs (chained unnests form the token
    cross product; jw via jaro_winkler_micro_sql on the distinct-pair
    dim)."""
    from ..functions import comparators as C

    on = " AND ".join(f"a.{c} = b.{c}" for c in block_cols)
    toks = T.tokens_sql(text_col)
    jw = C.jaro_winkler_micro_sql("tok_a", "tok_b")
    return f"""
    WITH tok AS MATERIALIZED (
      SELECT CAST({id_col} AS BIGINT) AS doc_id,
             {', '.join(block_cols)},
             list_slice(list_sort(list_distinct({toks})), 1, {max_tokens})
               AS toks
      FROM {table}
    ),
    pairs AS MATERIALIZED (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             a.toks AS toks_a, b.toks AS toks_b
      FROM tok a JOIN tok b ON {on} AND a.doc_id < b.doc_id
    ),
    xa AS (SELECT id_a, id_b, unnest(toks_a) AS tok_a, toks_b FROM pairs),
    xab AS MATERIALIZED (
      SELECT id_a, id_b, tok_a, unnest(toks_b) AS tok_b FROM xa
    ),
    dim AS MATERIALIZED (
      SELECT tok_a, tok_b, {jw} AS jw_micro
      FROM (SELECT DISTINCT tok_a, tok_b FROM xab)
    ),
    scored AS MATERIALIZED (
      SELECT x.id_a, x.id_b, x.tok_a, x.tok_b, d.jw_micro
      FROM xab x JOIN dim d USING (tok_a, tok_b)
    ),
    ab AS (
      SELECT id_a, id_b, CAST(sum(_m) AS BIGINT) AS _s_ab,
             CAST(count(*) AS BIGINT) AS n_tok_a
      FROM (SELECT id_a, id_b, tok_a, max(jw_micro) AS _m
            FROM scored GROUP BY id_a, id_b, tok_a)
      GROUP BY id_a, id_b
    ),
    ba AS (
      SELECT id_a, id_b, CAST(sum(_m) AS BIGINT) AS _s_ba,
             CAST(count(*) AS BIGINT) AS n_tok_b
      FROM (SELECT id_a, id_b, tok_b, max(jw_micro) AS _m
            FROM scored GROUP BY id_a, id_b, tok_b)
      GROUP BY id_a, id_b
    )
    SELECT id_a, id_b, n_tok_a, n_tok_b, me_ab_micro, me_ba_micro,
           (me_ab_micro + me_ba_micro) // 2 AS me_sym_micro
    FROM (
      SELECT ab.id_a, ab.id_b, n_tok_a, n_tok_b,
             CAST(floor(CAST(_s_ab AS DOUBLE) / n_tok_a) AS BIGINT)
               AS me_ab_micro,
             CAST(floor(CAST(_s_ba AS DOUBLE) / n_tok_b) AS BIGINT)
               AS me_ba_micro
      FROM ab JOIN ba ON ab.id_a = ba.id_a AND ab.id_b = ba.id_b
    )
    """


# ---------------------------------------------------------------------------
# Soft-TF-IDF: the Cohen-Ravikumar-Fienberg hybrid comparator join
# ---------------------------------------------------------------------------

SOFT_TFIDF_W_CAP = 99_999  # idf clip (also the packed-argmax scale guard)
_W_SCALE = SOFT_TFIDF_W_CAP + 1


def soft_tfidf_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: tuple = ("lang", "source"),
    max_tokens: int = 8,
    theta_micro: int = 850_000,
) -> DataFrame:
    """-> (id_a, id_b, n_close_a, n_close_b, st_ab_e6, st_ba_e6,
    st_sym_e6): soft-TF-IDF (Cohen, Ravikumar & Fienberg, IIWeb 2003) over
    blocked candidate pairs — for each of A's tokens whose best
    Jaro-Winkler match in B clears `theta_micro`, accumulate
    w(tok_a) * w(best_b) * jw(tok_a, best_b), then normalize by the full
    TF-IDF vector norms. The hybrid that beats both plain TF-IDF cosine
    (no typo tolerance) and plain JW (no rarity weighting) on dirty names;
    complements monge_elkan_pairs (unweighted mean) with the
    frequency-weighted form. The reference compares whole fields with
    scalar kernels (src/comparisonsummary.jl); this is the standard
    secondary comparator its dirty-source users reach for next.

    Weights are log-free integers so the oracle is bit-strict (repo
    invariant: no exp/log in oracle-checked columns): w(term) =
    least(N div df(term), 99_999) — raw inverse document frequency,
    clipped. The clip is principled (rare-term weight saturation) and
    doubles as the scale guard for the packed argmax key below. TF is 1 by
    construction (token sets are distinct). Norms use the doc's FULL
    capped token set (the normalized-vector definition), so scores are
    comparable across pairs; a score can exceed 1e6 when several A-tokens
    share one best B-token (inherent to soft-TF-IDF, not a bug).

    Bit-strict float tail: dot sums are pure BIGINT (order-free); the
    final st_*_e6 = floor(dot / sqrt(double(norm2_a) * double(norm2_b)))
    uses only IEEE exactly-rounded ops (int64->double conversion, *, sqrt,
    /) on identical inputs, so both engines produce the identical double
    and floor. No exp/log anywhere.

    Argmax without sorting the pair set: per (pair, tok_a) the best
    qualifying B-token is max(jw_micro * 1e5 + w_b) — a single BIGINT max
    (jw_micro <= 1e6, w_b <= 99_999, key <= ~1.1e11). Ties beyond
    (jw, w_b) are irrelevant: the contribution depends only on that pair.

    100-TB notes: tokenize + df-weight once per DOCUMENT below the join;
    JW evaluates once per DISTINCT surviving token pair and the dim is
    theta-filtered BEFORE the size-gated broadcast (web text re-pairs the
    same frequent tokens constantly); the theta filter also prunes the
    cross relation ahead of both directional aggregates. tok and the
    blocked pair relation are localCheckpoint'ed (each is consumed 2-3x).
    Nothing sorts or windows the pair set."""
    from ..functions import comparators as C

    bcols = list(block_cols)
    tok = (
        _spread(df, id_col)
        .select(
            F.col(id_col).cast("long").alias("doc_id"),
            *[F.col(c) for c in bcols],
            F.slice(
                F.array_sort(F.array_distinct(T.tokens(F.col(text_col)))),
                1, max_tokens,
            ).alias("toks"),
        )
        .localCheckpoint()  # consumed by terms, pairs-a, pairs-b
    )
    n_docs = tok.count()  # corpus size for IDF (cheap: checkpointed)
    terms = tok.select("doc_id", F.explode("toks").alias("term"))
    wdim = (
        terms.groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("_df"))
        .select(
            "term",
            F.expr(
                f"least({n_docs} div _df, {SOFT_TFIDF_W_CAP})"
            ).cast("long").alias("w"),
        )
        .localCheckpoint()  # consumed by norms + two weight joins
    )
    wdim_b = F.broadcast(wdim) if wdim.count() <= 2_000_000 else wdim
    norms = (
        terms.join(wdim_b, on="term")
        .groupBy("doc_id")
        .agg(F.sum(F.expr("w * w")).cast("long").alias("norm2"))
    )
    a = tok.select(
        F.col("doc_id").alias("id_a"), *bcols, F.col("toks").alias("toks_a")
    )
    b = tok.select(
        F.col("doc_id").alias("id_b"), *bcols, F.col("toks").alias("toks_b")
    )
    pairs = (
        a.join(b, on=bcols)
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "toks_a", "toks_b")
        .localCheckpoint()
    )
    cross = pairs.select(
        "id_a", "id_b", F.explode("toks_a").alias("tok_a"), "toks_b"
    ).select("id_a", "id_b", "tok_a", F.explode("toks_b").alias("tok_b"))
    dim = (
        cross.select("tok_a", "tok_b")
        .distinct()
        .withColumn(
            "jw_micro",
            C.jaro_winkler_micro(F.col("tok_a"), F.col("tok_b")),
        )
        .where(F.col("jw_micro") >= theta_micro)  # CLOSE(theta) pre-filter
        .localCheckpoint()
    )
    dim_b = F.broadcast(dim) if dim.count() <= 2_000_000 else dim
    scored = (
        cross.join(dim_b, on=["tok_a", "tok_b"])  # inner: drops far pairs
        .join(
            wdim_b.select(F.col("term").alias("tok_a"),
                          F.col("w").alias("w_a")), on="tok_a")
        .join(
            wdim_b.select(F.col("term").alias("tok_b"),
                          F.col("w").alias("w_b")), on="tok_b")
    )

    def _direction(tok_side: str, w_side: str, other_w: str,
                   s_name: str, n_name: str) -> DataFrame:
        best = (
            scored.groupBy("id_a", "id_b", tok_side, w_side)
            .agg(
                F.max(
                    F.expr(f"jw_micro * {_W_SCALE} + {other_w}")
                ).alias("_k")
            )
        )
        return best.groupBy("id_a", "id_b").agg(
            F.sum(
                F.expr(f"{w_side} * (_k div {_W_SCALE}) * (_k % {_W_SCALE})")
            ).cast("long").alias(s_name),
            F.count(F.lit(1)).cast("long").alias(n_name),
        )

    ab = _direction("tok_a", "w_a", "w_b", "_dot_ab", "n_close_a")
    ba = _direction("tok_b", "w_b", "w_a", "_dot_ba", "n_close_b")
    # jw is symmetric, so a pair qualifying in one direction qualifies in
    # both — inner joins lose nothing
    return (
        ab.join(ba, on=["id_a", "id_b"])
        .join(norms.select(F.col("doc_id").alias("id_a"),
                           F.col("norm2").alias("_n2a")), on="id_a")
        .join(norms.select(F.col("doc_id").alias("id_b"),
                           F.col("norm2").alias("_n2b")), on="id_b")
        .select(
            "id_a", "id_b", "n_close_a", "n_close_b",
            F.expr(
                "CAST(floor(CAST(_dot_ab AS DOUBLE) / "
                "sqrt(CAST(_n2a AS DOUBLE) * CAST(_n2b AS DOUBLE))) "
                "AS BIGINT)"
            ).alias("st_ab_e6"),
            F.expr(
                "CAST(floor(CAST(_dot_ba AS DOUBLE) / "
                "sqrt(CAST(_n2a AS DOUBLE) * CAST(_n2b AS DOUBLE))) "
                "AS BIGINT)"
            ).alias("st_ba_e6"),
        )
        .withColumn(
            "st_sym_e6",
            F.expr("(st_ab_e6 + st_ba_e6) div 2").cast("long"),
        )
    )


def soft_tfidf_pairs_sql(
    table: str,
    id_col: str,
    text_col: str,
    block_cols: tuple = ("lang", "source"),
    max_tokens: int = 8,
    theta_micro: int = 850_000,
) -> str:
    """DuckDB twin of soft_tfidf_pairs. The corpus size N is a scalar
    subquery over the tok CTE (static SQL, computed at run time — both
    engines count the same parquet); everything else mirrors the Spark
    plan CTE-for-CTE."""
    from ..functions import comparators as C

    on = " AND ".join(f"a.{c} = b.{c}" for c in block_cols)
    toks = T.tokens_sql(text_col)
    jw = C.jaro_winkler_micro_sql("tok_a", "tok_b")
    return f"""
    WITH tok AS MATERIALIZED (
      SELECT CAST({id_col} AS BIGINT) AS doc_id,
             {', '.join(block_cols)},
             list_slice(list_sort(list_distinct({toks})), 1, {max_tokens})
               AS toks
      FROM {table}
    ),
    terms AS (SELECT doc_id, unnest(toks) AS term FROM tok),
    wdim AS MATERIALIZED (
      SELECT term,
             least((SELECT count(*) FROM tok) // count(*),
                   {SOFT_TFIDF_W_CAP}) AS w
      FROM terms GROUP BY term
    ),
    norms AS (
      SELECT doc_id, CAST(sum(w * w) AS BIGINT) AS norm2
      FROM terms JOIN wdim USING (term) GROUP BY doc_id
    ),
    pairs AS MATERIALIZED (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             a.toks AS toks_a, b.toks AS toks_b
      FROM tok a JOIN tok b ON {on} AND a.doc_id < b.doc_id
    ),
    xa AS (SELECT id_a, id_b, unnest(toks_a) AS tok_a, toks_b FROM pairs),
    xab AS MATERIALIZED (
      SELECT id_a, id_b, tok_a, unnest(toks_b) AS tok_b FROM xa
    ),
    dim AS MATERIALIZED (
      SELECT tok_a, tok_b, jw_micro
      FROM (SELECT tok_a, tok_b, {jw} AS jw_micro
            FROM (SELECT DISTINCT tok_a, tok_b FROM xab))
      WHERE jw_micro >= {theta_micro}
    ),
    scored AS MATERIALIZED (
      SELECT x.id_a, x.id_b, x.tok_a, x.tok_b, d.jw_micro,
             wa.w AS w_a, wb.w AS w_b
      FROM xab x
      JOIN dim d USING (tok_a, tok_b)
      JOIN wdim wa ON x.tok_a = wa.term
      JOIN wdim wb ON x.tok_b = wb.term
    ),
    ab AS (
      SELECT id_a, id_b,
             CAST(sum(w_a * (_k // {_W_SCALE}) * (_k % {_W_SCALE}))
                  AS BIGINT) AS _dot_ab,
             CAST(count(*) AS BIGINT) AS n_close_a
      FROM (SELECT id_a, id_b, tok_a, w_a,
                   max(jw_micro * {_W_SCALE} + w_b) AS _k
            FROM scored GROUP BY id_a, id_b, tok_a, w_a)
      GROUP BY id_a, id_b
    ),
    ba AS (
      SELECT id_a, id_b,
             CAST(sum(w_b * (_k // {_W_SCALE}) * (_k % {_W_SCALE}))
                  AS BIGINT) AS _dot_ba,
             CAST(count(*) AS BIGINT) AS n_close_b
      FROM (SELECT id_a, id_b, tok_b, w_b,
                   max(jw_micro * {_W_SCALE} + w_a) AS _k
            FROM scored GROUP BY id_a, id_b, tok_b, w_b)
      GROUP BY id_a, id_b
    )
    SELECT id_a, id_b, n_close_a, n_close_b, st_ab_e6, st_ba_e6,
           (st_ab_e6 + st_ba_e6) // 2 AS st_sym_e6
    FROM (
      SELECT ab.id_a, ab.id_b, n_close_a, n_close_b,
             CAST(floor(CAST(_dot_ab AS DOUBLE) /
                  sqrt(CAST(na.norm2 AS DOUBLE) * CAST(nb.norm2 AS DOUBLE)))
                  AS BIGINT) AS st_ab_e6,
             CAST(floor(CAST(_dot_ba AS DOUBLE) /
                  sqrt(CAST(na.norm2 AS DOUBLE) * CAST(nb.norm2 AS DOUBLE)))
                  AS BIGINT) AS st_ba_e6
      FROM ab
      JOIN ba ON ab.id_a = ba.id_a AND ab.id_b = ba.id_b
      JOIN norms na ON ab.id_a = na.doc_id
      JOIN norms nb ON ab.id_b = nb.doc_id
    )
    """
