"""Text-analysis primitives for the documents pipeline.

These are the building blocks a large-scale training-data pipeline needs
(tokenization, shingling, fingerprinting, minhash/simhash signatures),
expressed as JVM-side Column expressions — no Python UDFs in the hot
path, so everything stays inside whole-stage codegen and scales to any
corpus size by partitioning.

Cross-engine determinism contract: every hash is a 60-bit integer
derived from md5 (identical bytes in Spark and DuckDB), so the DuckDB
oracles can replay the exact pipeline.  Reference analogues: Presto's
ngrams()/word-stem scalar functions (operator/scalar/WordStemFunction
.java, ArrayNgramsFunction) and the checksum pattern
(operator/aggregation/ChecksumAggregationFunction.java).

Every ``X`` Column helper has a ``sql_X`` twin emitting the equivalent
DuckDB SQL so query oracles stay literally parallel to the Spark plan.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Stopword list used by quality scoring / lang-id (fixture vocabulary).
STOPWORDS = ("the", "a", "of", "and", "to", "in")

# BPE-ish token pattern: letter runs, digit runs, single non-alnum marks.
BPE_RE = "[a-z]+|[0-9]+|[^a-z0-9\\s]"
# Spark-side twin with POSSESSIVE quantifiers (round 11): the three
# alternatives match disjoint character classes, so no backtracking can
# ever change a match — `[a-z]++` only drops java.util.regex's
# backtracking bookkeeping (~10% on the documents corpus, measured via
# regexp_count A/B; counts proven equal on the full corpus by the
# DuckDB oracle on every run).  DuckDB's RE2-style engine doesn't parse
# possessive quantifiers, so the oracle keeps BPE_RE — same language,
# same counts.
BPE_RE_SPARK = "[a-z]++|[0-9]++|[^a-z0-9\\s]"


# ---- hashing --------------------------------------------------------------
def hash60(col: Column) -> Column:
    """60-bit non-negative integer hash via md5 (engine-portable)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def sql_hash60(e: str) -> str:
    return f"('0x' || substr(md5({e}), 1, 15))::BIGINT"


# ---- tokenization ---------------------------------------------------------
def tokens(col: Column) -> Column:
    """Whitespace tokenization (Presto split(text, ...) ≈ Spark split)."""
    return F.split(F.trim(col), "\\s+")


def sql_tokens(e: str) -> str:
    return f"regexp_split_to_array(trim({e}), '\\s+')"


def bpe_token_count(col: Column) -> Column:
    """Token count under the BPE-ish regex.

    CORRECTION of the round-10 note: Spark's regexp_count is
    RuntimeReplaceable — the physical plan shows it rewrites to
    size(regexp_extract_all(...)), so the per-token string allocation
    the r10 change claimed to remove is still paid (verified via
    .explain this round).  What DOES help is the possessive-quantifier
    pattern (BPE_RE_SPARK): ~10% off the regex walk with provably
    identical counts (disjoint alternatives, no backtracking).  The
    remaining engine-vs-DuckDB gap on this path is parquet string
    decode + the extract_all allocation, profiled in r10's sf3x run.

    Round-11 measured-worse alternative, for the record: the count
    decomposes exactly as letter_runs + digit_runs + punct_chars, where
    punct needs NO regex (length/translate arithmetic) and the two run
    counts are single-class patterns — verified equal on the full
    corpus, but 2.2x SLOWER warm (0.29 vs 0.13 s at sf0.1): five
    translate/length string passes lose to one fused regex walk."""
    return F.regexp_count(col, F.lit(BPE_RE_SPARK))


def sql_bpe_token_count(e: str) -> str:
    return f"len(regexp_extract_all({e}, '{BPE_RE}'))"


# ---- shingles -------------------------------------------------------------
def shingles(tok: Column, k: int = 3) -> Column:
    """Distinct k-token shingles of a token array (ngrams()).

    Built by zip_with over k shifted slices rather than
    transform(sequence(...)) with per-index element_at lookups: the
    higher-order functions are interpreted either way, but the zip form
    walks each array linearly instead of paying a function-call lookup
    per (index, offset) — measured 3.6x faster on the sf0.1 shingle
    index (0.57s -> 0.16s) with identical output."""
    n = F.size(tok)
    arr = F.slice(tok, 1, n - (k - 1))
    for j in range(1, k):
        arr = F.zip_with(
            arr,
            F.slice(tok, j + 1, n - (k - 1)),
            lambda a, b: F.concat_ws(" ", a, b),
        )
    return F.when(n >= k, F.array_distinct(arr)).otherwise(
        F.array().cast("array<string>")
    )


def sql_shingles_cte(k: int = 3, src: str = "documents", text: str = "text") -> str:
    """CTE body producing (doc_id, shingle) DISTINCT rows — the inverted
    index the Spark side builds with explode(shingles(...))."""
    grams = " || ' ' || ".join(f"tk[i+{j}]" for j in range(k))
    return f"""
  SELECT DISTINCT doc_id, {grams} AS shingle
  FROM (SELECT doc_id, {sql_tokens(text)} AS tk FROM {src}) t,
       unnest(generate_series(1, len(tk) - {k - 1})) AS g(i)
"""


# ---- minhash --------------------------------------------------------------
# One md5 per shingle, then n_hashes cheap universal-hash mixers
# h_i = (h * A_i + B_i) mod M over the base hash — 16x fewer md5 calls
# than hashing per-function.  M prime < 2^31 keeps every product under
# 2^62: no 64-bit overflow, so Spark (Java wrap) and DuckDB (overflow
# error) behave identically.
MINHASH_M = 2_147_483_647  # 2^31 - 1 (Mersenne prime)


def _mix_constants(n: int) -> list[tuple[int, int]]:
    """Deterministic LCG-derived (A, B) pairs, identical in SQL twins."""
    out, x = [], 1_103_515_245
    for _ in range(n):
        a = x % (MINHASH_M - 2) + 1
        x = (x * 1_103_515_245 + 12_345) % (2**31)
        b = x % MINHASH_M
        x = (x * 1_103_515_245 + 12_345) % (2**31)
        out.append((a, b))
    return out


def minhash_cols(shingle: Column, n_hashes: int = 16) -> list[Column]:
    """Per-shingle hash columns h_0..h_{n-1}; min() of each per doc is the
    MinHash signature (one aggregation pass, no UDF)."""
    base = hash60(shingle) % MINHASH_M
    return [
        ((base * a + b) % MINHASH_M).alias(f"h{i}")
        for i, (a, b) in enumerate(_mix_constants(n_hashes))
    ]


def sql_minhash_min_terms(n_hashes: int = 16, shingle: str = "shingle") -> str:
    base = f"({sql_hash60(shingle)} % {MINHASH_M})"
    return ",\n         ".join(
        f"min((({base}) * {a} + {b}) % {MINHASH_M}) AS h{i}"
        for i, (a, b) in enumerate(_mix_constants(n_hashes))
    )


def spark_band_exprs(n_hashes: int, n_bands: int) -> list[Column]:
    """Band signatures: md5 over each contiguous row of the signature
    matrix.  Docs sharing any band signature are candidates.  Must be
    called with an active SparkSession (builds JVM Columns)."""
    rows = n_hashes // n_bands
    return [
        F.md5(F.concat_ws(",", *[F.col(f"h{b * rows + j}").cast("string") for j in range(rows)]))
        for b in range(n_bands)
    ]


def sql_band_exprs(n_hashes: int, n_bands: int) -> list[str]:
    """Pure-string SQL twin of spark_band_exprs (safe at import time)."""
    rows = n_hashes // n_bands
    return [
        "md5(" + " || ',' || ".join(f"CAST(h{b * rows + j} AS VARCHAR)" for j in range(rows)) + ")"
        for b in range(n_bands)
    ]


# ---- simhash --------------------------------------------------------------
# 60-bit signature (the full hash60 width), banded as 4 x 15 bits for
# candidate generation — the Manku/Das/Sarma WWW'07 near-duplicate design
# (64-bit fingerprint, k<=3, 4 band tables).  With HAMMING_T=3 and 4
# bands, pigeonhole guarantees every pair within the threshold shares at
# least one untouched band: recall is exact, and chance collisions per
# band are C(n,2)/2^15 instead of the 8-bit C(n,2)/2^8 (measured at
# sf0.1: 203k candidate pairs -> ~2k for 5000 docs).
SIMHASH_BITS = 60
SIMHASH_BANDS = 4
SIMHASH_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS  # 15
SIMHASH_BAND_MASK = (1 << SIMHASH_BAND_BITS) - 1


def simhash_sum_cols(tok_hash: Column) -> list[Column]:
    """Per-bit ±1 sums; sign of each sum is one SimHash bit."""
    return [
        F.sum(F.shiftright(tok_hash, b).bitwiseAND(1) * 2 - 1).alias(f"b{b}")
        for b in range(SIMHASH_BITS)
    ]


def simhash_assemble() -> Column:
    out = F.lit(0).cast("long")
    for b in range(SIMHASH_BITS):
        out = out + F.when(F.col(f"b{b}") > 0, F.lit(1 << b).cast("long")).otherwise(0)
    return out.alias("simhash")


def sql_simhash_terms(hash_expr: str) -> str:
    """DuckDB: per-bit sum terms over (doc_id, token-hash h) rows."""
    return ",\n         ".join(
        f"sum(((h >> {b}) & 1) * 2 - 1) AS b{b}" for b in range(SIMHASH_BITS)
    )


def sql_simhash_assemble() -> str:
    return (
        "("
        + " + ".join(f"CASE WHEN b{b} > 0 THEN {1 << b}::BIGINT ELSE 0 END" for b in range(SIMHASH_BITS))
        + ") AS simhash"
    )


# ---- quality metrics ------------------------------------------------------
def quality_metrics(text: Column) -> dict[str, Column]:
    """Per-doc quality signals (all engine-portable expressions)."""
    tok = tokens(text)
    n_tok = F.size(tok)
    stop_hits = F.size(F.filter(tok, lambda t: t.isin(*STOPWORDS)))
    distinct_ratio = F.size(F.array_distinct(tok)).cast("double") / n_tok
    mean_len = (F.length(F.concat_ws("", tok)).cast("double")) / n_tok
    return {
        "n_tokens": n_tok,
        "stop_ratio": stop_hits.cast("double") / n_tok,
        "distinct_ratio": distinct_ratio,
        "mean_token_len": mean_len,
    }


SQL_QUALITY = {
    "n_tokens": "len(tk)",
    "stop_ratio": (
        "len(list_filter(tk, t -> t IN ({stops})))::DOUBLE / len(tk)"
    ),
    "distinct_ratio": "len(list_distinct(tk))::DOUBLE / len(tk)",
    "mean_token_len": "length(list_aggregate(tk, 'string_agg', ''))::DOUBLE / len(tk)",
}


def sql_quality(name: str) -> str:
    stops = ", ".join(f"'{s}'" for s in STOPWORDS)
    return SQL_QUALITY[name].format(stops=stops)
