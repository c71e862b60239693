"""Text-analysis column functions for web-scale training-data pipelines.

All functions are pure Catalyst expressions (JVM-side, codegen-friendly;
zero Python UDFs) and each has a DuckDB-SQL twin generated from the same
constants so the driver's oracle check can verify them value-for-value.

Cross-engine portable hash: the first 15 hex chars of md5 parsed as a
60-bit non-negative bigint — identical in Spark (conv) and DuckDB (0x cast).

Covers: tokenization/token counts, k-word shingles, MinHash signatures,
SimHash fingerprints, n-gram language-ID heuristic, quality scoring,
document fingerprinting (sorted-token md5).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# ---------------------------------------------------------------------------
# portable 60-bit hash
# ---------------------------------------------------------------------------


def phash(c: Column) -> Column:
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def phash_sql(c: str) -> str:
    return f"CAST(('0x' || substr(md5({c}), 1, 15)) AS BIGINT)"


# ---------------------------------------------------------------------------
# tokens & shingles
# ---------------------------------------------------------------------------

TOKEN_RE = "[^a-z0-9]+"


def tokens(text: Column) -> Column:
    """Whitespace/punct tokenization of lowercased text (BPE-ish regex split)."""
    return F.filter(F.split(F.lower(text), TOKEN_RE), lambda t: t != "")


def tokens_sql(text: str) -> str:
    return (
        f"list_filter(string_split_regex(lower({text}), '{TOKEN_RE}'), t -> t != '')"
    )


def token_count(text: Column) -> Column:
    return F.size(tokens(text)).cast("long")


def token_count_sql(text: str) -> str:
    return f"CAST(len({tokens_sql(text)}) AS BIGINT)"


def word_shingles(text: Column, k: int = 3) -> Column:
    """k-word shingles: array of space-joined token windows."""
    toks = tokens(text)
    n = F.greatest(F.size(toks) - (k - 1), F.lit(1))
    return F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.array_join(F.slice(toks, i, k), " "),
    )


def word_shingles_sql(text: str, k: int = 3) -> str:
    toks = tokens_sql(text)
    return (
        f"list_transform(generate_series(1, greatest(len({toks}) - {k - 1}, 1)), "
        f"i -> array_to_string(list_slice({toks}, i, i + {k - 1}), ' '))"
    )


# ---------------------------------------------------------------------------
# MinHash via universal hashing: shingles are content-hashed ONCE
# (md5 -> 31-bit), then each hash function j is the affine transform
# h_j(x) = (a_j*x + b_j) mod p with p = 2^31-1 and (a_j, b_j) derived
# deterministically in Python from the seed — so the expensive string
# hashing runs one pass per document regardless of signature width, and
# products stay < 2^62 (no overflow divergence between engines).
# ---------------------------------------------------------------------------

MH_PRIME = 2147483647  # 2^31 - 1


def _mh_params(seed: int) -> tuple[int, int]:
    import hashlib

    h = hashlib.md5(f"mh{seed}".encode()).hexdigest()
    return int(h[:8], 16) % (MH_PRIME - 1) + 1, int(h[8:16], 16) % MH_PRIME


def shingle_hashes(text: Column, k: int = 3) -> Column:
    """array<long>: 31-bit content hash per k-word shingle (one md5 pass)."""
    return F.transform(word_shingles(text, k), lambda s: phash(s) % MH_PRIME)


def shingle_hashes_sql(text: str, k: int = 3) -> str:
    return (
        f"list_transform({word_shingles_sql(text, k)}, "
        f"s -> {phash_sql('s')} % {MH_PRIME})"
    )


def minhash_from_hashes(hs: Column, seed: int) -> Column:
    a, b = _mh_params(seed)
    return F.array_min(
        F.transform(hs, lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(MH_PRIME))
    )


def minhash_from_hashes_sql(hs: str, seed: int) -> str:
    a, b = _mh_params(seed)
    return f"list_min(list_transform({hs}, h -> ({a} * h + {b}) % {MH_PRIME}))"


def band_key_from_hashes(hs: Column, band: int, rows_per_band: int = 2) -> Column:
    """LSH band key from a precomputed shingle-hash array column."""
    parts = [
        minhash_from_hashes(hs, band * rows_per_band + r).cast("string")
        for r in range(rows_per_band)
    ]
    return F.concat_ws("_", F.lit(str(band)), *parts)


def band_key_from_hashes_sql(hs: str, band: int, rows_per_band: int = 2) -> str:
    parts = [
        f"CAST({minhash_from_hashes_sql(hs, band * rows_per_band + r)} AS VARCHAR)"
        for r in range(rows_per_band)
    ]
    return f"concat_ws('_', '{band}', " + ", ".join(parts) + ")"


# ---------------------------------------------------------------------------
# SimHash (nbits-wide) over distinct tokens.
# bit b set  <=>  sum over distinct tokens of (+1 if bit b of phash(tok) else -1) > 0
# ---------------------------------------------------------------------------

SIMHASH_BITS = 32


def simhash(text: Column, nbits: int = SIMHASH_BITS) -> Column:
    """Single-pass formulation: ONE aggregate over the token-hash array
    carries all nbits vote counters in an array accumulator, so tokens are
    hashed exactly once per document (the per-bit formulation re-evaluates
    the tokenize+hash subtree nbits times — measured ~20x slower). The
    finish lambda folds votes into the bigint fingerprint; values are
    identical to the per-bit form (bit b set <=> vote_b > 0)."""
    if nbits > 60:
        raise ValueError("simhash nbits must be <= 60 (phash is 60-bit; and 2^63 overflows a signed long)")
    toks = F.array_distinct(tokens(text))
    hashes = F.transform(toks, lambda t: phash(t))
    zeros = F.array_repeat(F.lit(0), nbits)
    # coalesce: NULL text -> 0, matching the per-bit/SQL form (CASE ... ELSE 0)
    return F.coalesce(F.aggregate(
        hashes,
        zeros,
        # bit b of h via modular arithmetic (shiftright needs a literal
        # shift in PySpark; 2^b is exact in double for b < 53)
        lambda acc, h: F.transform(
            acc,
            lambda v, b: v
            + F.when(
                (h % (F.pow(F.lit(2.0), b + 1).cast("long")))
                >= F.pow(F.lit(2.0), b).cast("long"),
                F.lit(1),
            ).otherwise(F.lit(-1)),
        ),
        lambda acc: F.aggregate(
            F.transform(
                acc,
                lambda v, b: F.when(
                    v > 0, F.pow(F.lit(2.0), b).cast("long")
                ).otherwise(F.lit(0).cast("long")),
            ),
            F.lit(0).cast("long"),
            lambda s, x: s + x,
        ),
    ), F.lit(0).cast("long"))


def simhash_sql(text: str, nbits: int = SIMHASH_BITS) -> str:
    toks = f"list_distinct({tokens_sql(text)})"
    hashes = f"list_transform({toks}, t -> {phash_sql('t')})"
    terms = []
    for b in range(nbits):
        vote = (
            f"list_sum(list_transform({hashes}, "
            f"h -> CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END))"
        )
        terms.append(f"(CASE WHEN {vote} > 0 THEN CAST({2**b} AS BIGINT) ELSE 0 END)")
    return "(" + " + ".join(terms) + ")"


def hamming64(a: Column, b: Column) -> Column:
    """Hamming distance between two bigint fingerprints."""
    return F.bit_count(a.bitwiseXOR(b))


def hamming64_sql(a: str, b: str) -> str:
    return f"bit_count(xor({a}, {b}))"


# ---------------------------------------------------------------------------
# language-ID heuristic: stopword-hit ratio per language, argmax with
# deterministic tie-break on language code.
# ---------------------------------------------------------------------------

STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it", "that", "for"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein", "mit", "auf", "zu"],
    "fr": ["le", "la", "les", "et", "est", "un", "une", "dans", "pour", "que"],
    "es": ["el", "la", "los", "y", "es", "un", "una", "en", "por", "como"],
}


def lang_id(text: Column) -> Column:
    toks = F.array_distinct(tokens(text))
    scores = {
        lang: F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in words])))
        for lang, words in STOPWORDS.items()
    }
    langs = sorted(STOPWORDS)  # deterministic tie-break: first in code order wins
    best = F.lit("und")
    best_score = F.lit(0)
    for lang in reversed(langs):
        s = scores[lang]
        best = F.when(s >= F.greatest(best_score, F.lit(1)), F.lit(lang)).otherwise(best)
        best_score = F.greatest(best_score, s)
    return best


def lang_id_sql(text: str) -> str:
    toks = f"list_distinct({tokens_sql(text)})"
    langs = sorted(STOPWORDS)
    score = {
        lang: f"len(list_intersect({toks}, {STOPWORDS[lang]!r}))" for lang in langs
    }
    # Mirror the Spark fold exactly: iterate langs reversed, prefer s >= max(best,1).
    best = "'und'"
    best_score = "0"
    for lang in reversed(langs):
        s = score[lang]
        best = f"(CASE WHEN {s} >= greatest({best_score}, 1) THEN '{lang}' ELSE {best} END)"
        best_score = f"greatest({best_score}, {s})"
    return best


# ---------------------------------------------------------------------------
# quality score: deterministic 0..1-ish composite (integer ratios scaled).
# Uses only integer counts and one final division so doubles match.
# ---------------------------------------------------------------------------


def quality_score(text: Column) -> Column:
    n_chars = F.length(text)
    toks = tokens(text)
    n_tok = F.size(toks)
    n_distinct = F.size(F.array_distinct(toks))
    # length component (0..40) + diversity component (0..60), /100
    len_pts = F.least(n_chars, F.lit(400)) / F.lit(10.0)
    div_pts = (n_distinct * F.lit(60.0)) / F.greatest(n_tok, F.lit(1))
    return (len_pts + div_pts) / F.lit(100.0)


def quality_score_sql(text: str) -> str:
    toks = tokens_sql(text)
    len_pts = f"(least(length({text}), 400) / 10.0)"
    div_pts = f"(len(list_distinct({toks})) * 60.0 / greatest(len({toks}), 1))"
    return f"(({len_pts} + {div_pts}) / 100.0)"


# ---------------------------------------------------------------------------
# document fingerprint: md5 of space-joined sorted distinct tokens
# (rolling-hash-style content identity robust to token order).
# ---------------------------------------------------------------------------


def doc_fingerprint(text: Column) -> Column:
    return F.md5(F.array_join(F.array_sort(F.array_distinct(tokens(text))), " "))


def doc_fingerprint_sql(text: str) -> str:
    return f"md5(array_to_string(list_sort(list_distinct({tokens_sql(text)})), ' '))"


# ---------------------------------------------------------------------------
# phonetic key (simplified American Soundex, engine-portable variant)
# ---------------------------------------------------------------------------

# Letter -> digit map (A..Z): the standard Soundex groups with H and W
# coded 0 like vowels.  This is the documented "simplified Soundex"
# variant: H/W act as separators (exactly like vowels) instead of the
# full rule's transparent letters — chosen because it is expressible as
# pure translate/regexp string algebra identical in Spark and DuckDB
# (the full H/W rule needs backreferences, which DuckDB's RE2 lacks).
# Both emitters implement THIS definition, so cross-engine parity is
# exact by construction.
SOUNDEX_MAP = "01230120022455012623010202"


def _phonetic_sql(c: str, g: str) -> str:
    """Shared construction for both engines; `g` is the global-replace
    flag suffix (DuckDB regexp_replace replaces only the first match
    without the 'g' flag; Spark always replaces all and takes no flag).

    Steps (classic Soundex pipeline):
      u   = letters only, uppercased
      d   = per-letter digits via SOUNDEX_MAP
      c1  = adjacent duplicate digits collapsed (one regexp per digit —
            RE2-safe, no backreferences)
      key = first letter ++ first 3 digits of c1 after dropping the
            first letter's own digit and all 0s, right-padded with '0'.
    Strings with no letters key to '000' (one shared bucket; the salt
    cap bounds it like any other hot key). NULL input -> NULL."""
    u = f"regexp_replace(upper({c}), '[^A-Z]', ''{g})"
    d = f"translate({u}, 'ABCDEFGHIJKLMNOPQRSTUVWXYZ', '{SOUNDEX_MAP}')"
    for dig in "0123456":
        d = f"regexp_replace({d}, '{dig}{dig}+', '{dig}'{g})"
    rest = f"translate(substr({d}, 2), '0', '')"
    return f"concat(left({u}, 1), rpad(substr({rest}, 1, 3), 3, '0'))"


def phonetic_key(c: Column | str) -> Column:
    """Simplified-Soundex phonetic code (see _phonetic_sql) as a pure
    Catalyst expression — the classic record-linkage blocking key for
    misspelling-tolerant name/word grouping (soundex(surname)-style
    blocking; Fellegi-Sunter practice since Newcombe 1959). Accepts a
    column NAME (compiled via the shared SQL construction) or an
    arbitrary Column (same tree built with F functions)."""
    if isinstance(c, str):
        return F.expr(_phonetic_sql(c, ""))
    u = F.regexp_replace(F.upper(c), "[^A-Z]", "")
    d = F.translate(u, "ABCDEFGHIJKLMNOPQRSTUVWXYZ", SOUNDEX_MAP)
    for dig in "0123456":
        d = F.regexp_replace(d, f"{dig}{dig}+", dig)
    rest = F.translate(d.substr(F.lit(2), F.length(d)), "0", "")
    return F.concat(u.substr(1, 1), F.rpad(rest.substr(1, 3), 3, "0"))


def phonetic_key_sql(c: str) -> str:
    """DuckDB twin (same construction, 'g' replace flag)."""
    return _phonetic_sql(c, ", 'g'")
