"""Text analysis + deduplication over the ``documents`` fixture.

The training-data-pipeline operator set: tokenization/token stats,
quality scoring, language-ID heuristic, document fingerprinting, exact
dedup, n-gram Jaccard near-dup, MinHash+LSH near-dup, SimHash near-dup.
All pure DataFrame plans over the primitives in operators/text.py —
no Python UDFs, every hash md5-derived so the DuckDB oracle replays the
pipeline bit-for-bit.

Scale design (100 TB corpus):
- the shingle inverted index (explode → distinct) is the only row
  multiplier (~tokens per doc); it shuffles on `shingle`, so hot
  shingles are the skew risk — dedup_ngram_jaccard applies the
  document-frequency stop-shingle cap (DF_CAP_FRAC/DF_CAP_MIN) before
  the pair join, with the identical cap in its oracle.
- MinHash/LSH is the scale path for pair generation: per-doc signatures
  come from one codegen'd hash aggregation over the exploded index
  (_minhash_profile — near-free shuffle since explode preserves doc
  partitioning), candidates from an equi-join on (band_idx, band_sig) —
  O(near-dups), not O(n²) — then verified with true Jaccard only on
  candidates.
- SimHash collapses each doc to one 60-bit signature the same way;
  4 x 15-bit banding (Manku et al., WWW'07) makes candidate generation
  an equi-join with exact recall at Hamming <= 3.

Reference: ngrams()/array functions (SURVEY §2.9); checksum-style
hashing ChecksumAggregationFunction.java; the dedup/LSH operators have
no Presto counterpart — they're the §"beyond the reference" surface.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.text import (
    SIMHASH_BAND_BITS,
    SIMHASH_BAND_MASK,
    SIMHASH_BANDS,
    SIMHASH_BITS,
    STOPWORDS,
    bpe_token_count,
    hash60,
    minhash_cols,
    quality_metrics,
    shingles,
    simhash_assemble,
    sql_bpe_token_count,
    sql_hash60,
    sql_minhash_min_terms,
    sql_quality,
    sql_shingles_cte,
    simhash_sum_cols,
    sql_simhash_assemble,
    sql_simhash_terms,
    sql_tokens,
    spark_band_exprs,
    sql_band_exprs,
    tokens,
)
from .qutil import spread_scan
from .registry import query

N_HASHES, N_BANDS = 16, 4
JACCARD_T = 0.8
# SimHash Hamming threshold: with SIMHASH_BANDS=4 band tables, pigeonhole
# guarantees any pair within Hamming distance 3 collides on >=1 band
# (Manku/Das/Sarma, "Detecting Near-Duplicates for Web Crawling", WWW'07).
HAMMING_T = 3


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # NOT spread here: a blanket parallelism floor on this loader was
    # measured a net LOSS in full-bench conditions (round 9: +0.03-0.2 s
    # per cheap query for the extra exchange vs wins only on the
    # genuinely CPU-bound ones) — spread_scan is applied per-query
    # where the map work dominates (text_quality; pii_scrub in
    # pipeline.py).  Shingle pipelines already repartition in
    # _shingle_index.
    return load_table(spark, sf_dir, "documents")


def _shingle_index(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle) distinct — the inverted index.

    The scan is repartitioned first: documents.parquet is a few small
    row groups, but explode() multiplies rows ~100x, so input-bytes
    partitioning would put all shingle work on one task.  At 100 TB the
    same applies — size partitions by post-explode rows, not scan bytes
    (or lower spark.sql.files.maxPartitionBytes for document tables).

    The exchange hashes on ``doc_id`` rather than round-robin, at the
    same partition count: explode keeps that partitioning, so a
    per-document aggregation over the index (``_minhash_profile``'s
    ``groupBy("doc_id")``) needs no second exchange.
    """
    par = docs.sparkSession.sparkContext.defaultParallelism
    return docs.repartition(par, "doc_id").select(
        "doc_id", F.explode(shingles(tokens(F.col("text")))).alias("shingle")
    )


SQL_SH = sql_shingles_cte()


# ---------------------------------------------------------------------------
@query(
    "text_token_stats",
    oracle=f"""
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(len(tk)) AS BIGINT) AS total_tokens,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       min(len(tk)) AS min_tokens, max(len(tk)) AS max_tokens
FROM (SELECT lang, n_chars, {sql_tokens('text')} AS tk FROM documents) t
GROUP BY lang
""",
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counting aggregated per language."""
    d = _docs(spark, sf_dir)
    n_tok = F.size(tokens(F.col("text")))
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n_tok).alias("total_tokens"),
        F.sum("n_chars").alias("total_chars"),
        F.min(n_tok).alias("min_tokens"),
        F.max(n_tok).alias("max_tokens"),
    )


@query(
    "text_quality",
    oracle=f"""
SELECT doc_id,
       {sql_quality('n_tokens')} AS n_tokens,
       {sql_quality('stop_ratio')} AS stop_ratio,
       {sql_quality('distinct_ratio')} AS distinct_ratio,
       {sql_quality('mean_token_len')} AS mean_token_len,
       CASE WHEN {sql_quality('n_tokens')} >= 40
             AND {sql_quality('distinct_ratio')} >= 0.2 THEN 'good'
            WHEN {sql_quality('n_tokens')} >= 15 THEN 'fair'
            ELSE 'poor' END AS quality
FROM (SELECT doc_id, {sql_tokens('text')} AS tk FROM documents) t
""",
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality scoring (length / stopword / diversity).

    CPU-bound map (tokenize + 4 metric folds per doc): the scan gets
    the spread_scan parallelism floor (measured 0.15 -> 0.08 s at
    sf0.1 in full-bench conditions; no-op once the table splits)."""
    d = spread_scan(spark, _docs(spark, sf_dir))
    m = quality_metrics(F.col("text"))
    q = (
        F.when((m["n_tokens"] >= 40) & (m["distinct_ratio"] >= 0.2), "good")
        .when(m["n_tokens"] >= 15, "fair")
        .otherwise("poor")
    )
    return d.select(
        "doc_id",
        m["n_tokens"].alias("n_tokens"),
        m["stop_ratio"].alias("stop_ratio"),
        m["distinct_ratio"].alias("distinct_ratio"),
        m["mean_token_len"].alias("mean_token_len"),
        q.alias("quality"),
    )


_LANG_MARKERS = {
    "en": ("the", "a", "of"),
    "de": ("der", "die", "und"),
    "fr": ("le", "la", "et"),
    "es": ("el", "los", "y"),
}


@query(
    "text_lang_id",
    oracle=f"""
WITH scored AS (
  SELECT lang,
         CASE
           {' '.join(f"WHEN len(list_filter(tk, t -> t IN ({', '.join(chr(39) + m + chr(39) for m in ms)}))) >= 1 THEN '{lg}'" for lg, ms in _LANG_MARKERS.items())}
           ELSE 'und' END AS predicted
  FROM (SELECT lang, {sql_tokens('text')} AS tk FROM documents) t
)
SELECT lang, predicted, count(*) AS n
FROM scored GROUP BY lang, predicted
""",
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language-ID heuristic; agreement matrix vs the label."""
    d = _docs(spark, sf_dir)
    # Stage the whitespace split as its OWN column (round 10): inlining
    # `tokens(text)` into every language's marker test re-ran the split
    # once per EVALUATED branch of the when-chain — a document that
    # falls through to 'und' split L times.  As a staged multi-reference
    # column it splits exactly once per row (CollapseProject keeps
    # non-cheap multi-referenced projections un-inlined).
    staged = d.select("lang", tokens(F.col("text")).alias("tok"))
    tok = F.col("tok")
    pred = None
    for lg, ms in _LANG_MARKERS.items():
        # exists() short-circuits on the first marker hit and allocates
        # nothing (round 11 — the old size(filter(...)) >= 1 built a
        # filtered ARRAY per language just to test emptiness; ~20%
        # measured).  A single-pass bitmask fold over a marker->lang
        # map was ALSO measured and lost (0.18 vs 0.16 s): the per-token
        # map lookup costs more than the when-chain's short-circuit
        # saves.  Semantics unchanged: first language (declaration
        # order) with any marker present, as in the oracle's CASE.
        cond = F.exists(tok, lambda t: t.isin(*ms))
        pred = F.when(cond, lg) if pred is None else pred.when(cond, lg)
    pred = pred.otherwise("und")
    return (
        staged.select("lang", pred.alias("predicted"))
        .groupBy("lang", "predicted")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@query(
    "text_fingerprint",
    oracle=f"""
WITH sh AS ({SQL_SH})
SELECT d.doc_id,
       {sql_hash60('d.text')} AS fp_full,
       m.fp_winnow
FROM documents d
LEFT JOIN (SELECT doc_id, min({sql_hash60('shingle')}) AS fp_winnow
           FROM sh GROUP BY doc_id) m ON d.doc_id = m.doc_id
""",
)
def text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: whole-doc hash + winnowing-style minimum
    shingle hash (the k=1 MinHash).

    Pure projection — fp_winnow is array_min over the row-local shingle
    array (md5 once per shingle, zero shuffle, no join); an empty array
    yields NULL, matching the oracle's LEFT JOIN on the inverted index.
    """
    d = _docs(spark, sf_dir)
    par = spark.sparkContext.defaultParallelism
    winnow = F.array_min(F.transform(shingles(tokens(F.col("text"))), hash60))
    return d.repartition(par).select(
        "doc_id",
        hash60(F.col("text")).alias("fp_full"),
        winnow.alias("fp_winnow"),
    )


@query(
    "text_bpe_tokens",
    oracle=f"""
SELECT source,
       count(*) AS n_docs,
       CAST(sum({sql_bpe_token_count('text')}) AS BIGINT) AS total_bpe_tokens,
       max({sql_bpe_token_count('text')}) AS max_bpe_tokens
FROM documents
GROUP BY source
""",
)
def text_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex token counting per source."""
    d = _docs(spark, sf_dir)
    c = bpe_token_count(F.col("text"))
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(c).alias("total_bpe_tokens"),
        F.max(c).alias("max_bpe_tokens"),
    )


# ---------------------------------------------------------------------------
@query(
    "dedup_exact",
    oracle=f"""
WITH all_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0
)
SELECT {sql_hash60('text')} AS fp,
       min(doc_id) AS canonical_doc,
       count(*) AS n_copies
FROM all_docs
GROUP BY 1
HAVING count(*) > 1
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy, keep-first (min doc_id) canonical.

    The fixture has no exact dups, so the query unions in a shifted copy
    of every 7th doc to exercise the operator.  At scale this is one
    shuffle on the 60-bit fingerprint; dropDuplicates() compiles to the
    same plan.
    """
    d = _docs(spark, sf_dir).select("doc_id", "text")
    dup = (
        d.filter(F.col("doc_id") % 7 == 0)
        .select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    )
    return (
        d.unionByName(dup)
        .groupBy(hash60(F.col("text")).alias("fp"))
        .agg(F.min("doc_id").alias("canonical_doc"), F.count(F.lit(1)).alias("n_copies"))
        .filter(F.col("n_copies") > 1)
    )


# ---------------------------------------------------------------------------
# Sub-document (line-level) exact dedup — Lee et al. 2022 "Deduplicating
# Training Data Makes Language Models Better" / RefinedWeb: duplicated
# SPANS are removed corpus-wide keeping the first occurrence, at a
# granularity below whole documents (dedup_exact) and orthogonal to
# near-dup similarity (minhash/simhash).  The fixture text is a flat
# token stream with no newlines, so a "line" is a fixed LINE_TOKENS
# chunk — the operator under test is the plumbing (explode units -> one
# hash-partition first-occurrence pass over long-only rows -> per-doc
# counts), not the boundary heuristic.
LINE_TOKENS = 10
# first-occurrence key: doc_id * 2^31 + line_idx.  Bounds documented:
# line_idx < 2^31 means docs up to ~21B tokens, doc_id < 2^32 keeps the
# key in int64 — both far above any real corpus's per-writer ranges.
_OCC = 2**31


@query(
    "dedup_lines",
    oracle=f"""
WITH all_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0
),
toks AS (SELECT doc_id, {sql_tokens('text')} AS tk FROM all_docs),
lines AS (
  SELECT doc_id, i AS line_idx,
         array_to_string(tk[(i*{LINE_TOKENS}+1):(i*{LINE_TOKENS}+{LINE_TOKENS})], ' ') AS line
  FROM toks,
       unnest(generate_series(0, CAST(ceil(len(tk) / {LINE_TOKENS}.0) AS BIGINT) - 1)) AS g(i)
),
occ AS (
  SELECT doc_id, {sql_hash60('line')} AS h,
         doc_id * {_OCC} + line_idx AS okey
  FROM lines
),
dups AS (
  SELECT h, min(okey) AS first_occ FROM occ GROUP BY 1 HAVING count(*) > 1
)
SELECT o.doc_id,
       count(*) AS n_lines,
       CAST(sum(CASE WHEN d.h IS NOT NULL AND o.okey > d.first_occ
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_lines,
       CAST(count(*) - sum(CASE WHEN d.h IS NOT NULL AND o.okey > d.first_occ
                                THEN 1 ELSE 0 END) AS BIGINT) AS kept_lines
FROM occ o LEFT JOIN dups d ON o.h = d.h
GROUP BY 1
HAVING sum(CASE WHEN d.h IS NOT NULL AND o.okey > d.first_occ
                THEN 1 ELSE 0 END) > 0
""",
)
def dedup_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level exact dedup, keep-first (Lee et al. 2022 / RefinedWeb
    sub-document dedup; the fixture has no natural exact dups, so the
    same shifted every-7th-doc union as dedup_exact plants them).

    Scale shape: the tokenize/chunk/md5 map work runs ONCE (the dup
    test is a partition-only window over the hash, not a self-join —
    a broadcast-dup-set formulation was measured 4x slower at sf0.1
    because the unshared occurrence pipeline re-ran the whole line
    build on both sides), and the only corpus-wide shuffles carry
    (hash60, occ-key, doc_id) LONGS — never line text: once on the
    hash for the global first-occurrence window, once on doc_id for
    the map-side-combined per-doc counts.

    Skew decision (round 12, measured): a hyper-duplicated boilerplate
    line puts every occurrence of one hash in ONE window partition, so
    a `groupBy(h).agg(min(okey), count)` + shuffle-join-back-on-h
    variant (partial agg absorbs the min/count map-side) was A/B'd
    under planted skew.  The window won at EVERY level — hot-line
    occurrences 1e5: 0.65 s vs 0.88 s; 1e6: 2.9 s vs 4.4 s; 4e6:
    12.8 s vs 19.2 s (local[32] medians of 5) — and both scale
    linearly in hot-count, because the join-back variant's SMJ streams
    every hot-hash occurrence through one task just like the window
    does, while also paying a second shuffle of the same rows.  The
    hot partition is long-only rows (~24 B/row: 1e8 occurrences ≈
    2.4 GB, spillable), so the window formulation stays; regression
    guard: tests/test_pipeline.py::test_dedup_lines_planted_skew."""
    d = spread_scan(spark, _docs(spark, sf_dir).select("doc_id", "text"))
    dup = (
        d.filter(F.col("doc_id") % 7 == 0)
        .select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    )
    tok = tokens(F.col("text"))
    n_lines = F.ceil(F.size(tok) / float(LINE_TOKENS)).cast("int")
    lines_arr = F.transform(
        F.sequence(F.lit(0), n_lines - 1),
        lambda i: F.concat_ws(
            " ", F.slice(tok, i * LINE_TOKENS + 1, LINE_TOKENS)
        ),
    )
    occ = (
        d.unionByName(dup)
        .select("doc_id", F.posexplode(lines_arr).alias("line_idx", "line"))
        .select(
            "doc_id",
            hash60(F.col("line")).alias("h"),
            (F.col("doc_id") * _OCC + F.col("line_idx")).alias("okey"),
        )
    )
    w = Window.partitionBy("h")
    removable = (F.count(F.lit(1)).over(w) > 1) & (
        F.col("okey") > F.min("okey").over(w)
    )
    return (
        occ.select("doc_id", removable.cast("int").alias("rm"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum("rm").cast("long").alias("n_dup_lines"),
            (F.count(F.lit(1)) - F.sum("rm")).cast("long").alias("kept_lines"),
        )
        .filter(F.col("n_dup_lines") > 0)
    )


_SQL_SIZES = "SELECT doc_id, count(*) AS n FROM sh GROUP BY 1"

# Document-frequency cap on shingles before the pair join: a shingle in d
# docs emits d^2/2 pairs, so one stop-shingle ("of the and" style) in 1%
# of a 10^9-doc corpus would alone emit 10^12 join rows.  Dropping
# shingles above max(DF_CAP_MIN, DF_CAP_FRAC * n_docs) bounds per-shingle
# work at cap^2 — the standard stop-shingle filter.  Jaccard is then
# computed over the capped shingle space on BOTH sides (sizes too), so
# the metric stays internally consistent and the oracle replays exactly.
DF_CAP_FRAC = 0.001
DF_CAP_MIN = 5

_SQL_DF_CAP = (
    f"greatest({DF_CAP_MIN}, CAST(ceil((SELECT count(*) FROM documents)"
    f" * {DF_CAP_FRAC}) AS BIGINT))"
)


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
WITH sh0 AS ({SQL_SH}),
rare AS (SELECT shingle FROM sh0 GROUP BY shingle
         HAVING count(*) <= {_SQL_DF_CAP}),
sh AS (SELECT sh0.* FROM sh0 JOIN rare USING (shingle)),
sizes AS ({_SQL_SIZES}),
pairs AS (
  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT d1, d2,
       inter::DOUBLE / (s1.n + s2.n - inter) AS jaccard
FROM pairs JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
WHERE inter::DOUBLE / (s1.n + s2.n - inter) >= {JACCARD_T}
""",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exhaustive 3-gram Jaccard near-dup pairs (j >= 0.8) via the shingle
    inverted index, with the document-frequency stop-shingle cap — the
    correctness baseline MinHash/LSH approximates."""
    docs = _docs(spark, sf_dir)
    sh0 = _shingle_index(docs)
    n_docs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    cap = F.greatest(
        F.lit(DF_CAP_MIN), F.ceil(F.col("n_docs") * DF_CAP_FRAC).cast("long")
    )
    # Document-frequency stop-shingle cap via a window count rather than
    # agg + join-back: the join-back form derives the md5 shingle index
    # TWICE (once for the df agg, once for the probe side), while the
    # window carries df through ONE exchange on shingle — which is also
    # the self-join's partitioning, so the pair join adds no further
    # exchange (same pattern as sim_ann_lsh_neardup's bucket cap).
    # Skew note: a stop-shingle's rows land in one window partition
    # before being dropped; the cap bounds what survives, and at corpus
    # scale the df agg + join-back form (kept in git history) is the
    # salt-free fallback if a single stop-shingle partition exceeds a
    # task.
    sh = (
        sh0.withColumn("df", F.count(F.lit(1)).over(Window.partitionBy("shingle")))
        .crossJoin(F.broadcast(n_docs))
        .filter(F.col("df") <= cap)
        .drop("df", "n_docs")
    )
    # Per-doc size as a window count carried on every index row: the
    # pair join then has both sizes in-row (first() per group), so there
    # is no sizes-table join-back re-deriving the capped index twice
    # (differing prunings defeat ReuseExchange — see dedup_minhash_lsh).
    shn = sh.withColumn("n", F.count(F.lit(1)).over(Window.partitionBy("doc_id")))
    a, b = shn.alias("a"), shn.alias("b")
    pairs = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"))
        .agg(
            F.count(F.lit(1)).alias("inter"),
            F.first(F.col("a.n")).alias("n1"),
            F.first(F.col("b.n")).alias("n2"),
        )
    )
    j = F.col("inter").cast("double") / (F.col("n1") + F.col("n2") - F.col("inter"))
    return pairs.select("d1", "d2", j.alias("jaccard")).filter(
        F.col("jaccard") >= JACCARD_T
    )


def _minhash_profile(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """Per-doc MinHash profile (h0..h15, shingle count, shingle set) as
    ONE hash-aggregation over the exploded shingle index: md5 runs once
    per shingle (codegen'd), the 16 mixer columns are cheap integer
    expressions, and min() reduces them in the codegen'd hash agg.

    Why not the tempting zero-shuffle form (array_min over per-row
    transform() mixers)?  Spark's higher-order array functions are
    INTERPRETED, not whole-stage-codegen'd — 16 lambda traversals per
    row measured ~2.5x slower end-to-end than explode + hash agg.  The
    shuffle here is also near-free: explode preserves the document
    partitioning, so partial aggregation reduces to one row per doc
    before any exchange."""
    sh = _shingle_index(docs)
    return sh.groupBy("doc_id").agg(
        *[F.min(c).alias(f"h{i}") for i, c in enumerate(minhash_cols(F.col("shingle"), N_HASHES))],
        F.count(F.lit(1)).alias("n"),
        F.collect_list("shingle").alias("sh_set"),
    )


def _sql_bands() -> str:
    sql_bands = sql_band_exprs(N_HASHES, N_BANDS)
    return "\n  UNION ALL ".join(
        f"SELECT doc_id, {i} AS band_idx, {expr} AS band_sig FROM sig"
        for i, expr in enumerate(sql_bands)
    )


@query(
    "dedup_minhash_lsh",
    oracle=f"""
WITH sh AS ({SQL_SH}),
sizes AS ({_SQL_SIZES}),
sig AS (
  SELECT doc_id,
         {sql_minhash_min_terms(N_HASHES)}
  FROM sh GROUP BY doc_id
),
bands AS (
  {_sql_bands()}
),
cand AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
),
inter AS (
  SELECT c.d1, c.d2, count(*) AS inter
  FROM cand c JOIN sh x ON x.doc_id = c.d1
              JOIN sh y ON y.doc_id = c.d2 AND y.shingle = x.shingle
  GROUP BY 1, 2
)
SELECT i.d1, i.d2,
       inter::DOUBLE / (s1.n + s2.n - inter) AS jaccard
FROM inter i JOIN sizes s1 ON i.d1 = s1.doc_id JOIN sizes s2 ON i.d2 = s2.doc_id
WHERE inter::DOUBLE / (s1.n + s2.n - inter) >= {JACCARD_T}
""",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash (k=16) + LSH banding (4 bands x 4 rows): candidate pairs by
    band equi-join, verified with true Jaccard on candidates only.

    This is the 100 TB dedup path.  The per-doc profile (16 minhashes +
    shingle count + shingle set) is ONE codegen'd aggregation over the
    exploded shingle index (_minhash_profile — see its docstring for
    why this beats the row-local higher-order-function form).
    Candidates come from an equi-join on (band_idx, band_sig) —
    O(colliding pairs), never O(n²) — and Jaccard verification is a
    row-local array_intersect on the two profile joins: no second pass
    over the inverted index.
    """
    prof = _minhash_profile(spark, _docs(spark, sf_dir))
    spark_bands = spark_band_exprs(N_HASHES, N_BANDS)
    # The shingle set and count ride THROUGH the band explode, so the
    # whole query is one profile pass + one self-join: verification is
    # row-local on the joined pair, and Jaccard is deterministic per
    # pair, so distinct-after-join equals the distinct-candidates form.
    # (The join-candidates-back-to-profile alternative re-derives the
    # profile subtree per branch — measured 4 parquet scans vs 2 here,
    # because differing column prunings defeat ReuseExchange.  At 100 TB
    # the trade is shuffle volume: this form ships each doc's shingle
    # set N_BANDS times through the band join; prefer it when profile
    # recompute dominates, or persist() the profile and use the
    # candidate-join form when network dominates.)
    bands = prof.select(
        "doc_id",
        "n",
        "sh_set",
        F.explode(
            F.array(*[
                F.struct(F.lit(i).alias("band_idx"), e.alias("band_sig"))
                for i, e in enumerate(spark_bands)
            ])
        ).alias("band"),
    ).select("doc_id", "n", "sh_set", "band.band_idx", "band.band_sig")
    a, b = bands.alias("a"), bands.alias("b")
    inter = F.size(F.array_intersect(F.col("a.sh_set"), F.col("b.sh_set")))
    j = inter.cast("double") / (F.col("a.n") + F.col("b.n") - inter)
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_sig") == F.col("b.band_sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"), j.alias("jaccard"))
        .distinct()
        .filter(F.col("jaccard") >= JACCARD_T)
    )


@query(
    "dedup_simhash",
    oracle=f"""
WITH sh AS ({SQL_SH}),
hashed AS (SELECT doc_id, {sql_hash60('shingle')} AS h FROM sh),
bits AS (
  SELECT doc_id,
         {sql_simhash_terms('h')}
  FROM hashed GROUP BY doc_id
),
simh AS (SELECT doc_id, {sql_simhash_assemble()} FROM bits),
bands AS (
  SELECT doc_id, i AS band_idx,
         (simhash >> (i * {SIMHASH_BAND_BITS})) & {SIMHASH_BAND_MASK} AS band_val
  FROM simh, unnest(generate_series(0, {SIMHASH_BANDS - 1})) AS g(i)
),
cand AS (
  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
  FROM bands a JOIN bands b
    ON a.band_idx = b.band_idx AND a.band_val = b.band_val AND a.doc_id < b.doc_id
)
SELECT c.d1, c.d2,
       bit_count(xor(s1.simhash, s2.simhash)) AS hamming
FROM cand c JOIN simh s1 ON c.d1 = s1.doc_id JOIN simh s2 ON c.d2 = s2.doc_id
WHERE bit_count(xor(s1.simhash, s2.simhash)) <= {HAMMING_T}
""",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup: 60-bit sign-of-sums signature over shingle hashes,
    15-bit-banded candidate generation, Hamming-distance verification —
    the Manku/Das/Sarma WWW'07 web-crawl dedup design.  4 band tables +
    HAMMING_T=3 give exact recall by pigeonhole, and the 15-bit band
    space keeps chance collisions at C(n,2)/2^15 per band (the earlier
    8-bit banding generated 203k candidate pairs at sf0.1; this ~2k).

    The 60 per-bit sums run in one codegen'd hash aggregation over the
    exploded shingle index (like _minhash_profile; the row-local
    F.aggregate-fold form is interpreted and measured ~12x slower)."""
    sh = _shingle_index(_docs(spark, sf_dir))
    hashed = sh.select("doc_id", hash60(F.col("shingle")).alias("h"))
    bits = hashed.groupBy("doc_id").agg(*simhash_sum_cols(F.col("h")))
    simh = bits.select("doc_id", simhash_assemble())
    # The signature rides through the band explode (8 bytes/row), so the
    # query is one signature pass + one self-join with row-local Hamming
    # verification — no join back to simh, whose differing column
    # prunings would defeat ReuseExchange and recompute the 60-sum
    # aggregation per branch (see dedup_minhash_lsh for the trade-off).
    bands = simh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("band_idx"),
                    F.shiftright(F.col("simhash"), i * SIMHASH_BAND_BITS)
                    .bitwiseAND(SIMHASH_BAND_MASK)
                    .alias("band_val"),
                )
                for i in range(SIMHASH_BANDS)
            ])
        ).alias("band"),
    ).select("doc_id", "simhash", "band.band_idx", "band.band_val")
    a, b = bands.alias("a"), bands.alias("b")
    ham = F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash")))
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("d1"), F.col("b.doc_id").alias("d2"), ham.alias("hamming"))
        .distinct()
        .filter(F.col("hamming") <= HAMMING_T)
    )


@query(
    "text_top_bigrams",
    oracle=f"""
WITH toks AS (SELECT lang, doc_id, {sql_tokens('text')} AS tk FROM documents),
grams AS (
  SELECT lang, tk[i] || ' ' || tk[i+1] AS bigram
  FROM toks, unnest(generate_series(1, len(tk) - 1)) AS g(i)
),
counted AS (SELECT lang, bigram, count(*) AS n FROM grams GROUP BY 1, 2)
SELECT lang, bigram, n
FROM (SELECT c.*, row_number() OVER (PARTITION BY lang ORDER BY n DESC, bigram) AS rn
      FROM counted c) t
WHERE rn <= 3
""",
)
def text_top_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ngrams() analogue: top-3 bigrams per language (not de-duplicated
    per doc — true frequency count)."""
    d = _docs(spark, sf_dir)
    d = d.repartition(d.sparkSession.sparkContext.defaultParallelism)
    tok = tokens(F.col("text"))
    # zip_with over shifted slices — same linear-walk rationale as
    # operators/text.shingles
    n = F.size(tok)
    bigrams = F.zip_with(
        F.slice(tok, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(tok, 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    counted = (
        d.select("lang", F.explode(bigrams).alias("bigram"))
        .groupBy("lang", "bigram")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("n").desc(), "bigram")
    return counted.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 3).drop("rn")


_CC_MAX_ITERS = 20  # safety bound; the loop stops at convergence


_SQL_CC_GRAPH = f"""
all_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 7 = 0
  UNION ALL
  SELECT doc_id + 2000000, text FROM documents WHERE doc_id % 14 = 0
  UNION ALL
  SELECT doc_id + 3000000, text FROM documents WHERE doc_id % 28 = 0
),
fp AS (SELECT {sql_hash60('text')} AS fp, doc_id FROM all_docs),
chain AS (
  SELECT fp, doc_id,
         lag(doc_id) OVER (PARTITION BY fp ORDER BY doc_id) AS prev
  FROM fp
),
edges AS (
  SELECT prev AS src, doc_id AS dst FROM chain WHERE prev IS NOT NULL
  UNION ALL
  SELECT doc_id, prev FROM chain WHERE prev IS NOT NULL
),
nodes AS (SELECT DISTINCT src AS node FROM edges)
"""


@query(
    "dedup_connected_components",
    oracle=f"""
WITH RECURSIVE {_SQL_CC_GRAPH},
reach(node, r) AS (
  SELECT node, node FROM nodes
  UNION
  SELECT e.dst, r.r FROM reach r JOIN edges e ON e.src = r.node
),
comp AS (SELECT node, min(r) AS component FROM reach GROUP BY node)
SELECT component, count(*) AS n_members,
       CAST(sum(node) AS BIGINT) AS member_sum
FROM comp GROUP BY component
""",
)
def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-CLUSTER resolution: the stage after candidate
    generation in a real dedup pipeline — pairwise matches form a
    graph, and each document keeps the min doc_id of its CONNECTED
    COMPONENT as canonical (a-b and b-c must collapse to one cluster
    even though a-c never matched).

    Edges are the adjacent-pair chain within each exact-fingerprint
    group (shifted fixture copies at +1M/+2M/+3M build chains of
    diameter up to 3), so components genuinely require propagation.
    Components come from ITERATIVE min-label propagation — per
    iteration one edge join + one min-aggregate (each a single shuffle
    on node id), labels never leave the executors; the loop
    runs until a round changes no label (scalar count per round), so
    components of ANY diameter merge fully.  The oracle computes the SAME components via
    DuckDB's recursive CTE transitive closure — two independent
    formulations of connectivity.

    At 100 TB this is the standard large-graph CC layout
    (alternating-min / label propagation): near-dup components are
    tiny, so the label frontier collapses after 2-3 rounds and each
    round is one hash shuffle on doc_id."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    all_docs = d
    for shift, mod in ((1000000, 7), (2000000, 14), (3000000, 28)):
        all_docs = all_docs.unionByName(
            d.filter(F.col("doc_id") % mod == 0).select(
                (F.col("doc_id") + shift).alias("doc_id"), "text"
            )
        )
    fp = all_docs.select(hash60(F.col("text")).alias("fp"), "doc_id")
    w = Window.partitionBy("fp").orderBy("doc_id")
    chain = fp.withColumn("prev", F.lag("doc_id").over(w)).filter(
        F.col("prev").isNotNull()
    )
    fwd = chain.select(F.col("prev").alias("src"), F.col("doc_id").alias("dst"))
    edges = fwd.unionByName(
        chain.select(F.col("doc_id").alias("src"), F.col("prev").alias("dst"))
    ).persist()
    labels = edges.select(F.col("src").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    # Propagate to CONVERGENCE, not a fixed hop count: duplicate groups
    # larger than the planted ones form longer chains, and an
    # under-iterated run silently splits one component in two.  Each
    # round is one edge join + one min-aggregate; the per-round
    # changed-label count (a scalar action, the standard driver-side
    # convergence check of every iterative Spark algorithm) stops the
    # loop; _CC_MAX_ITERS bounds adversarial graphs.
    #
    # ITERATIVE-ALGORITHM MEMORY DISCIPLINE (every Spark fixpoint loop
    # needs both, or each round's action replays ALL prior rounds and
    # runtime goes O(rounds^2) — measured 8.1s -> 1.1s at sf0.1):
    # - edges is persisted: it feeds every round AND every round is a
    #   separate action, so without the cache the scan+window+union
    #   subtree re-executes per round;
    # - labels is localCheckpoint'd each round: truncates the lineage so
    #   round k's plan starts from round k-1's materialized result, and
    #   the RETURNED DataFrame replays only the final labels, not the
    #   whole loop.  On a cluster, prefer a reliable checkpoint dir
    #   (localCheckpoint dies with an executor); GraphX's Pregel uses
    #   the same persist-and-truncate cycle.
    for _ in range(_CC_MAX_ITERS):
        neighbor_min = (
            edges.join(labels, edges.src == labels.node)
            .groupBy("dst")
            .agg(F.min("label").alias("nmin"))
        )
        improved = F.least(F.col("label"), F.coalesce("nmin", "label"))
        nxt = (
            labels.join(neighbor_min, labels.node == neighbor_min.dst, "left")
            .select("node", F.col("label").alias("old"), improved.alias("label"))
            .localCheckpoint()
        )
        changed = nxt.filter(F.col("label") < F.col("old")).count()
        labels = nxt.select("node", "label")
        if changed == 0:
            break
    edges.unpersist()
    return labels.groupBy(F.col("label").alias("component")).agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum("node").cast("long").alias("member_sum"),
    )


# ---------------------------------------------------------------------------
# URL canonicalization + URL-level dedup — RefinedWeb stage 1 (Penedo et
# al. 2023): canonicalize every document URL (case-fold scheme/host,
# strip www., default ports, fragments, and tracking parameters, sort
# the surviving query string, trim trailing slashes), then deduplicate
# corpus-wide at URL granularity keeping the first occurrence.  The
# fixture has no URL column, so URLs are DERIVED deterministically from
# doc_id (mixed-case schemes/hosts, optional :80/:443, shuffled
# parameter order, utm_* noise, fragments) — both engines rebuild the
# identical raw URLs, so the oracle replays the full pipeline.
# Reference surface twin: §2.9 UrlFunctions.java (url_extract_*); the
# canonicalize/dedup composition has no Presto counterpart (north-star
# pipeline stage).
_URL_MOD_PATH = 120  # canonical-path cardinality: drives planted dup rate


def _raw_url_col() -> Column:
    """Deterministic messy URL per doc (Spark side).

    The CANONICAL identity of a doc's URL is a function of
    ``doc_id % {_URL_MOD_PATH}`` only (path slot + v parameter), while
    every piece of removable mess — scheme/host case, ``www.``,
    default port, parameter order, trailing slash, utm value,
    fragment — is keyed on the COPY INDEX ``g = doc_id // mod``, which
    varies WITHIN each canonical group: every multi-member group
    therefore exercises the canonicalizer's merges, not just verbatim
    equality."""
    d = F.col("doc_id")
    g = F.floor(d / F.lit(_URL_MOD_PATH)).cast("long")
    https = d % 2 == 1  # scheme FAMILY is canonical -> in-group constant
    scheme = (
        F.when(~https & (g % 2 == 0), "HTTP")
        .when(~https, "http")
        .when(https & (g % 2 == 0), "HTTPS")
        .otherwise("https")
    )
    www = F.when(g % 3 == 0, "WWW.").when(g % 3 == 1, "www.").otherwise("")
    host = F.when(g % 2 == 0, "Docs.Example.COM").otherwise("docs.example.com")
    port = F.when(
        g % 5 == 0, F.when(https, ":443").otherwise(":80")
    ).otherwise("")
    path = F.concat(F.lit("/p/"), (d % _URL_MOD_PATH).cast("string"))
    slash = F.when(g % 2 == 0, "/").otherwise("")
    v = (d % 2).cast("string")
    t = g.cast("string")
    query = (
        F.when(g % 2 == 0, F.concat(F.lit("?v="), v, F.lit("&utm_source=s"), t))
        .otherwise(F.concat(F.lit("?utm_source=s"), t, F.lit("&v="), v))
    )
    frag = F.when(g % 3 == 0, F.concat(F.lit("#sec"), (d % 7).cast("string"))).otherwise("")
    return F.concat(scheme, F.lit("://"), www, host, port, path, slash, query, frag)


_SQL_RAW_URL = f"""
concat(
  CASE WHEN doc_id % 2 = 0
       THEN CASE WHEN (doc_id // {_URL_MOD_PATH}) % 2 = 0 THEN 'HTTP' ELSE 'http' END
       ELSE CASE WHEN (doc_id // {_URL_MOD_PATH}) % 2 = 0 THEN 'HTTPS' ELSE 'https' END END,
  '://',
  CASE (doc_id // {_URL_MOD_PATH}) % 3 WHEN 0 THEN 'WWW.' WHEN 1 THEN 'www.' ELSE '' END,
  CASE WHEN (doc_id // {_URL_MOD_PATH}) % 2 = 0 THEN 'Docs.Example.COM' ELSE 'docs.example.com' END,
  CASE WHEN (doc_id // {_URL_MOD_PATH}) % 5 = 0
       THEN CASE WHEN doc_id % 2 = 1 THEN ':443' ELSE ':80' END
       ELSE '' END,
  '/p/', CAST(doc_id % {_URL_MOD_PATH} AS VARCHAR),
  CASE WHEN (doc_id // {_URL_MOD_PATH}) % 2 = 0 THEN '/' ELSE '' END,
  CASE WHEN (doc_id // {_URL_MOD_PATH}) % 2 = 0
    THEN concat('?v=', CAST(doc_id % 2 AS VARCHAR),
                '&utm_source=s', CAST(doc_id // {_URL_MOD_PATH} AS VARCHAR))
    ELSE concat('?utm_source=s', CAST(doc_id // {_URL_MOD_PATH} AS VARCHAR),
                '&v=', CAST(doc_id % 2 AS VARCHAR)) END,
  CASE WHEN (doc_id // {_URL_MOD_PATH}) % 3 = 0
       THEN concat('#sec', CAST(doc_id % 7 AS VARCHAR)) ELSE '' END
)"""


def canonicalize_url(u: Column) -> Column:
    """Canonical URL form, pure Catalyst expressions (zero-shuffle,
    whole-stage-codegen map work): strip fragment; lowercase the
    scheme://host[:port] prefix; drop ``www.`` and default ports; trim
    trailing path slashes; drop ``utm_*`` tracking parameters and the
    empty query; sort surviving query parameters so parameter order
    cannot defeat dedup.

    Bounds (ADVICE r12): the lowercase covers the WHOLE authority — a
    case-sensitive ``user:pass@`` userinfo section (RFC 3986 §3.2.1)
    would be folded too, and only the first ``www.`` after ``://`` is
    stripped, so ``www.www.example.com`` keeps one.  Both are the
    standard crawler-normalizer trade (RefinedWeb-style URL dedup keys
    never carry credentials); pull userinfo out before calling this if
    a corpus does."""
    u = F.regexp_replace(u, "#.*$", "")
    pre = F.lower(F.regexp_extract(u, "^[a-zA-Z]+://[^/?]*", 0))
    rest = F.substring(u, F.length(pre) + 1, F.lit(1 << 30))
    pre = F.regexp_replace(pre, "^(http://[^/]*):80$", "$1")
    pre = F.regexp_replace(pre, "^(https://[^/]*):443$", "$1")
    pre = F.regexp_replace(pre, "://www\\.", "://")
    path = F.regexp_extract(rest, "^[^?]*", 0)
    q = F.substring(rest, F.length(path) + 2, F.lit(1 << 30))
    path = F.regexp_replace(path, "/+$", "")
    q = F.array_join(
        F.array_sort(
            F.filter(
                F.split(q, "&"),
                lambda x: (~x.startswith("utm_")) & (x != ""),
            )
        ),
        "&",
    )
    return F.concat(
        pre, path, F.when(q != "", F.concat(F.lit("?"), q)).otherwise("")
    )


_SQL_CANON = """
concat(pre3, path2, CASE WHEN q2 <> '' THEN concat('?', q2) ELSE '' END)
"""


@query(
    "dedup_urls",
    oracle=f"""
WITH raw AS (
  SELECT doc_id, {_SQL_RAW_URL} AS u FROM documents
),
defrag AS (SELECT doc_id, u AS u_raw, regexp_replace(u, '#.*$', '') AS u
           FROM raw),
parts AS (
  SELECT doc_id, u_raw, u,
         lower(regexp_extract(u, '^[a-zA-Z]+://[^/?]*', 0)) AS pre,
         substr(u, length(regexp_extract(u, '^[a-zA-Z]+://[^/?]*', 0)) + 1) AS rest
  FROM defrag
),
norm AS (
  SELECT doc_id, u_raw,
         regexp_replace(
           regexp_replace(
             regexp_replace(pre, '^(http://[^/]*):80$', '\\1'),
             '^(https://[^/]*):443$', '\\1'),
           '://www\\.', '://') AS pre3,
         regexp_replace(regexp_extract(rest, '^[^?]*', 0), '/+$', '') AS path2,
         array_to_string(
           list_sort(
             list_filter(string_split(substr(rest, length(regexp_extract(rest, '^[^?]*', 0)) + 2), '&'),
                         x -> NOT starts_with(x, 'utm_') AND x <> '')),
           '&') AS q2
  FROM parts
),
canon AS (
  SELECT doc_id, u_raw, {_SQL_CANON.strip()} AS curl FROM norm
)
SELECT curl, min(doc_id) AS canonical_doc,
       count(*) AS n_copies,
       CAST(count(DISTINCT u_raw) AS BIGINT) AS n_raw_forms
FROM canon
GROUP BY curl
HAVING count(*) > 1
""",
)
def dedup_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level exact dedup after canonicalization (RefinedWeb stage 1).

    Scale shape: the derive+canonicalize pass is zero-exchange map work
    (string/regex/array Catalyst expressions, no Python); the ONLY
    corpus-wide shuffle is the groupBy on the canonical URL (short
    strings; at web scale group on ``hash60(curl)`` + ``min(curl)``
    for a long-keyed exchange — same plan, same oracle).
    ``n_raw_forms > 1`` groups prove the canonicalizer actually merged
    distinct raw spellings rather than counting verbatim copies.

    The normalizer is STAGED across selects rather than emitted as the
    single ``canonicalize_url`` Column: collapsed into one expression,
    the shared defrag/prefix regexes re-evaluate up to 8x per row
    inside one interpreted Project; with each intermediate as its own
    multi-referenced column every regex runs once (CollapseProject
    keeps non-cheap multi-referenced projections staged — the
    text_lang_id precedent; measured 0.27 -> 0.21 s at sf0.1)."""
    d = _docs(spark, sf_dir).select("doc_id")
    raw = d.select("doc_id", _raw_url_col().alias("u"))
    s1 = raw.select("doc_id", "u", F.regexp_replace("u", "#.*$", "").alias("u2"))
    s2 = s1.select(
        "doc_id",
        "u",
        F.lower(F.regexp_extract("u2", "^[a-zA-Z]+://[^/?]*", 0)).alias("pre"),
        F.expr(
            "substring(u2, length(regexp_extract(u2,"
            " '^[a-zA-Z]+://[^/?]*', 0)) + 1, 1073741824)"
        ).alias("rest"),
    )
    s3 = s2.select(
        "doc_id",
        "u",
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace("pre", "^(http://[^/]*):80$", "$1"),
                "^(https://[^/]*):443$",
                "$1",
            ),
            "://www\\.",
            "://",
        ).alias("pre3"),
        F.regexp_extract("rest", "^[^?]*", 0).alias("path"),
        "rest",
    )
    s4 = s3.select(
        "doc_id",
        "u",
        "pre3",
        F.regexp_replace("path", "/+$", "").alias("path2"),
        F.array_join(
            F.array_sort(
                F.filter(
                    F.split(
                        F.expr("substring(rest, length(path) + 2, 1073741824)"),
                        "&",
                    ),
                    lambda x: (~x.startswith("utm_")) & (x != ""),
                )
            ),
            "&",
        ).alias("q2"),
    )
    canon = s4.select(
        "doc_id",
        "u",
        F.concat(
            "pre3",
            "path2",
            F.when(F.col("q2") != "", F.concat(F.lit("?"), F.col("q2"))).otherwise(""),
        ).alias("curl"),
    )
    return (
        canon.groupBy("curl")
        .agg(
            F.min("doc_id").alias("canonical_doc"),
            F.count(F.lit(1)).alias("n_copies"),
            F.countDistinct("u").cast("long").alias("n_raw_forms"),
        )
        .filter(F.col("n_copies") > 1)
    )


# ---------------------------------------------------------------------------
# Quality-aware canonical selection — keep the BEST copy of each
# duplicate cluster, not the first.  Real pipelines (RefinedWeb,
# FineWeb) dedup near-identical documents by a cluster key and keep the
# member with the highest quality score (longest/cleanest extraction);
# keep-first (dedup_exact) is the degenerate case.  Cluster key here: a
# prefix fingerprint (hash60 of the first PREFIX_K tokens) — the crude
# truncation-robust near-dup key; score: token count, doc_id breaking
# ties toward the older doc.  Planted dups are TRUNCATED copies (first
# TRUNC_TOKENS tokens) of every 5th doc, so the winner is decided by
# quality, not insertion order, and every planted copy must LOSE.
PREFIX_K = 15
TRUNC_TOKENS = 20
# combined argmax key: n_tokens * 2^33 - doc_id keeps both fields in
# int64 (doc_id < 2^33, n_tokens < 2^30) and orders by score DESC then
# doc_id ASC in a single max()
# Planted-id bound (ADVICE r12): synthetic copies live at doc_id +
# 2_000_000, so uniqueness of the tie-break key requires
# max(real doc_id) < 2_000_000.  Holds for every layout this repo
# runs the query on: the fixtures top out < 100k and the key-shifted
# scale layouts (which place copies at i*10^7) exclude this query
# from their suite.  If it ever joins the scale suite, move the
# offset above the layout's id space first.
_KB_SCALE = 2**33


@query(
    "dedup_keep_best",
    oracle=f"""
WITH all_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id,
         array_to_string(({sql_tokens('text')})[1:{TRUNC_TOKENS}], ' ') AS text
  FROM documents WHERE doc_id % 5 = 0
),
scored AS (
  SELECT doc_id,
         {sql_hash60(f"array_to_string(({sql_tokens('text')})[1:{PREFIX_K}], ' ')")} AS fp,
         len({sql_tokens('text')}) AS n_tokens
  FROM all_docs
)
SELECT fp,
       arg_max(doc_id, n_tokens * {_KB_SCALE} - doc_id) AS kept_doc,
       arg_max(n_tokens, n_tokens * {_KB_SCALE} - doc_id) AS kept_n_tokens,
       count(*) AS n_members,
       CAST(count(*) - 1 AS BIGINT) AS n_dropped
FROM scored
GROUP BY fp
HAVING count(*) > 1
""",
)
def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-best exact/near dedup: cluster on a prefix fingerprint,
    keep the highest-quality member (argmax token count, ties to the
    smaller doc_id via a single packed int64 key).

    Scale shape: one tokenize/score/hash map pass, then ONE shuffle on
    the cluster fingerprint carrying (fp, doc_id, n_tokens) longs —
    ``max_by`` partial-aggregates map-side, so hyper-duplicated
    clusters cost their partials, never a window buffer.  This is the
    keep-first plan of dedup_exact with the keep rule generalized to
    an argmax — at 100 TB the two are byte-identical in shuffle shape.

    The planted truncated copies are scored WITHOUT a second tokenize
    pass (round 12, measured 0.296 -> 0.226 s at sf0.1): with
    PREFIX_K <= TRUNC_TOKENS and whitespace-clean tokens, the
    truncation's prefix fingerprint equals the original's and its
    token count is ``least(n_tokens, TRUNC_TOKENS)`` — the oracle
    keeps the literal re-tokenizing spec and the hash oracle proves
    the shortcut exact."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    tok = tokens(F.col("text"))
    scored0 = d.select(
        "doc_id",
        hash60(F.concat_ws(" ", F.slice(tok, 1, PREFIX_K))).alias("fp"),
        F.size(tok).cast("long").alias("n_tokens"),
    )
    dup = scored0.filter(F.col("doc_id") % 5 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        "fp",
        F.least(F.col("n_tokens"), F.lit(TRUNC_TOKENS).cast("long")).alias(
            "n_tokens"
        ),
    )
    scored = scored0.unionByName(dup)
    key = F.col("n_tokens") * _KB_SCALE - F.col("doc_id")
    return (
        scored.groupBy("fp")
        .agg(
            F.max_by("doc_id", key).alias("kept_doc"),
            F.max_by("n_tokens", key).alias("kept_n_tokens"),
            F.count(F.lit(1)).alias("n_members"),
            (F.count(F.lit(1)) - 1).cast("long").alias("n_dropped"),
        )
        .filter(F.col("n_members") > 1)
    )


# ---------------------------------------------------------------------------
# Incremental cross-snapshot dedup (round 13) — the one dedup mode real
# pipelines run continuously: a NEW crawl arrives and must be deduped
# against a FROZEN prior corpus without re-deduping the prior corpus
# against itself (RefinedWeb/CCNet run exactly this per crawl dump).
# Everything above is single-corpus self-dedup; this is the two-corpus
# asymmetric form: prior docs are never dropped, new docs drop if they
# exactly match (fingerprint anti-join) or near-match (minhash band
# candidate join + Jaccard verify) ANY prior doc.
# ---------------------------------------------------------------------------
# Snapshot split of the fixture: every 3rd doc is the frozen prior
# corpus, the rest are the new crawl.  Two planted re-crawl classes make
# both drop stages fire deterministically: every 21st doc (a subset of
# prior) re-arrives verbatim under doc_id+3_000_000, and every 33rd doc
# (also prior) re-arrives with an appended tail under doc_id+4_000_000
# — same text -> exact drop; tail-mutated text -> shingle Jaccard just
# below 1, caught (or deterministically missed, identically on both
# engines: LSH recall is probabilistic per band but the bands are pure
# functions of the text) by the near stage.  Planted-id bound: fixture
# doc_ids stay < 100k and the shifted scale layouts place copies at
# i*10^7 + [0, 100k), so the +3e6/+4e6 synthetic ranges collide with
# nothing at any layout this repo builds (same analysis as
# dedup_keep_best's _KB_SCALE bound).
_INC_EXACT_OFF = 3_000_000
_INC_NEAR_OFF = 4_000_000
_INC_TAIL = " recrawl mirror banner"

_SQL_INC_PRIOR = "SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0"
_SQL_INC_NEW = f"""
  SELECT doc_id, text FROM documents WHERE doc_id % 3 <> 0
  UNION ALL
  SELECT doc_id + {_INC_EXACT_OFF} AS doc_id, text
  FROM documents WHERE doc_id % 21 = 0
  UNION ALL
  SELECT doc_id + {_INC_NEAR_OFF} AS doc_id, text || '{_INC_TAIL}' AS text
  FROM documents WHERE doc_id % 33 = 0
"""


def _sql_inc_bands(sig: str) -> str:
    return "\n  UNION ALL ".join(
        f"SELECT doc_id, {i} AS band_idx, {expr} AS band_sig FROM {sig}"
        for i, expr in enumerate(sql_band_exprs(N_HASHES, N_BANDS))
    )


def inc_snapshots(spark: SparkSession, sf_dir: str):
    """(prior, new) snapshot pair — shared by dedup_incremental and the
    persisted-index probe (operators/incremental.py) so both paths
    label the identical corpus split."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    prior = d.filter(F.col("doc_id") % 3 == 0)
    newc = (
        d.filter(F.col("doc_id") % 3 != 0)
        .unionByName(
            prior.filter(F.col("doc_id") % 21 == 0).select(
                (F.col("doc_id") + _INC_EXACT_OFF).alias("doc_id"), "text"
            )
        )
        .unionByName(
            prior.filter(F.col("doc_id") % 33 == 0).select(
                (F.col("doc_id") + _INC_NEAR_OFF).alias("doc_id"),
                F.concat(F.col("text"), F.lit(_INC_TAIL)).alias("text"),
            )
        )
    )
    return prior, newc


@query(
    "dedup_incremental",
    oracle=f"""
WITH prior AS ({_SQL_INC_PRIOR}),
newc AS ({_SQL_INC_NEW}),
pfp AS (SELECT DISTINCT {sql_hash60('text')} AS fp FROM prior),
nf AS (SELECT doc_id, text, {sql_hash60('text')} AS fp FROM newc),
surv AS (SELECT doc_id, text FROM nf WHERE fp NOT IN (SELECT fp FROM pfp)),
shn AS ({sql_shingles_cte(src='surv')}),
shp AS ({sql_shingles_cte(src='prior')}),
sizn AS (SELECT doc_id, count(*) AS n FROM shn GROUP BY 1),
sizp AS (SELECT doc_id, count(*) AS n FROM shp GROUP BY 1),
sign AS (SELECT doc_id, {sql_minhash_min_terms(N_HASHES)} FROM shn GROUP BY doc_id),
sigp AS (SELECT doc_id, {sql_minhash_min_terms(N_HASHES)} FROM shp GROUP BY doc_id),
bn AS ({_sql_inc_bands('sign')}),
bp AS ({_sql_inc_bands('sigp')}),
cand AS (
  SELECT DISTINCT n.doc_id AS nd, p.doc_id AS pd
  FROM bn n JOIN bp p ON n.band_idx = p.band_idx AND n.band_sig = p.band_sig
),
inter AS (
  SELECT c.nd, c.pd, count(*) AS i
  FROM cand c JOIN shn x ON x.doc_id = c.nd
              JOIN shp y ON y.doc_id = c.pd AND y.shingle = x.shingle
  GROUP BY 1, 2
),
near AS (
  SELECT DISTINCT i.nd AS doc_id
  FROM inter i JOIN sizn s1 ON i.nd = s1.doc_id JOIN sizp s2 ON i.pd = s2.doc_id
  WHERE i.i::DOUBLE / (s1.n + s2.n - i.i) >= {JACCARD_T}
),
labeled AS (
  SELECT doc_id,
         CASE WHEN fp IN (SELECT fp FROM pfp) THEN 'dropped_exact'
              WHEN doc_id IN (SELECT doc_id FROM near) THEN 'dropped_near'
              ELSE 'kept' END AS outcome
  FROM nf
)
SELECT outcome, count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_sum
FROM labeled GROUP BY 1
""",
)
def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental cross-snapshot dedup: new crawl vs frozen prior corpus.

    Stage 1 (exact): 60-bit text fingerprints; a shuffled-hash LEFT
    join against the DISTINCT prior fingerprints flags exact re-crawls.
    The prior side is corpus-sized so it must NEVER broadcast (the r12
    fact-broadcast class — at test SF it would sneak under the
    threshold; the hint pins the shuffled build).  At 100 TB the prior
    fingerprint set is a persisted table bucketed on fp: the new
    crawl's anti-join then co-locates by bucket and only the (much
    smaller) new snapshot shuffles per dump.

    Stage 2 (near): minhash-band candidate join of the surviving new
    docs against the PRIOR bands only — asymmetric LSH, O(cross-snapshot
    colliding pairs), never new x new or prior x prior — verified with
    true Jaccard on the joined shingle profiles, exactly the
    dedup_minhash_lsh verify.  At 100 TB the prior bands/profiles are
    likewise persisted once per corpus generation and bucketed on
    (band_idx, band_sig); each new dump pays one profile pass over
    ITSELF plus a bucket-local probe.

    Output: per-outcome (kept / dropped_exact / dropped_near) doc count
    and doc_id checksum."""
    prior, newc = inc_snapshots(spark, sf_dir)
    pfp = prior.select(hash60(F.col("text")).alias("fp")).distinct()
    nf = newc.select("doc_id", "text", hash60(F.col("text")).alias("fp"))
    # exact flag via left join (prior fps are distinct -> no fanout)
    flagged = nf.join(
        pfp.hint("shuffle_hash").withColumnRenamed("fp", "pfp"),
        F.col("fp") == F.col("pfp"),
        "left",
    ).select("doc_id", "text", F.col("pfp").isNotNull().alias("is_exact"))
    survivors = flagged.filter(~F.col("is_exact")).select("doc_id", "text")

    prof_new = _minhash_profile(spark, survivors)
    prof_prior = _minhash_profile(spark, prior)
    band_exprs = spark_band_exprs(N_HASHES, N_BANDS)

    def bands(prof: DataFrame) -> DataFrame:
        return prof.select(
            "doc_id",
            "n",
            "sh_set",
            F.explode(
                F.array(*[
                    F.struct(F.lit(i).alias("band_idx"), e.alias("band_sig"))
                    for i, e in enumerate(band_exprs)
                ])
            ).alias("band"),
        ).select("doc_id", "n", "sh_set", "band.band_idx", "band.band_sig")

    bn, bp = bands(prof_new).alias("bn"), bands(prof_prior).alias("bp")
    inter = F.size(F.array_intersect(F.col("bn.sh_set"), F.col("bp.sh_set")))
    j = inter.cast("double") / (F.col("bn.n") + F.col("bp.n") - inter)
    near_ids = (
        bn.join(
            bp.hint("shuffle_hash"),
            (F.col("bn.band_idx") == F.col("bp.band_idx"))
            & (F.col("bn.band_sig") == F.col("bp.band_sig")),
        )
        .select(F.col("bn.doc_id").alias("doc_id"), j.alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_T)
        .select("doc_id")
        .distinct()
    )
    labeled = flagged.join(
        near_ids.hint("shuffle_hash").withColumn("is_near", F.lit(True)),
        "doc_id",
        "left",
    ).select(
        "doc_id",
        F.when(F.col("is_exact"), "dropped_exact")
        .when(F.col("is_near"), "dropped_near")
        .otherwise("kept")
        .alias("outcome"),
    )
    return labeled.groupBy("outcome").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("doc_id").alias("id_sum"),
    )


# ---------------------------------------------------------------------------
# Variable-offset exact-substring dedup (round 13, Lee et al. 2022
# "ExactSubstr") — dedup_lines removes duplicated FIXED-WIDTH chunks, so
# a duplicated span that re-enters the corpus at a different token
# offset misaligns every chunk boundary and is invisible to it.  The
# suffix-array formulation of the paper doesn't distribute; the
# Spark-native equivalent is a sliding k-gram fingerprint index:
# a duplicated span of L >= K_SUB tokens produces L-K_SUB+1 CONSECUTIVE
# cross-doc-duplicated gram positions, so maximal duplicated spans are
# gaps-and-islands over the duplicated positions.
K_SUB = 15  # sliding gram width (tokens)
MIN_SPAN = 30  # minimum duplicated-span length to report (tokens)
_ES_OFF = 5_000_000  # planted-id offset; same bound analysis as
# dedup_incremental's (+3e6/+4e6) — fixture ids < 100k, scale layouts
# place copies at i*10^7, so the synthetic range collides with nothing.
_ES_PRE = "zqa zqb zqc"  # 3-token preamble => planted span re-enters at
# offset 3, misaligned with dedup_lines' 10-token chunk grid


@query(
    "dedup_exact_substring",
    oracle=f"""
WITH all_docs AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_ES_OFF} AS doc_id,
         '{_ES_PRE} ' || array_to_string(({sql_tokens('text')})[8:67], ' ') AS text
  FROM documents WHERE doc_id % 13 = 0
),
toks AS (SELECT doc_id, {sql_tokens('text')} AS tk FROM all_docs),
grams AS (
  SELECT doc_id, i AS pos,
         {sql_hash60("array_to_string(tk[i:i+" + str(K_SUB - 1) + "], ' ')")} AS h
  FROM toks, unnest(generate_series(1, len(tk) - {K_SUB - 1})) AS g(i)
),
dup AS (SELECT h FROM grams GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2),
marked AS (SELECT g.doc_id, g.pos FROM grams g JOIN dup d ON g.h = d.h),
isl AS (
  SELECT doc_id, pos,
         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
  FROM marked
)
SELECT doc_id,
       min(pos) AS span_start,
       max(pos) + {K_SUB - 1} AS span_end,
       max(pos) - min(pos) + {K_SUB} AS span_tokens
FROM isl GROUP BY doc_id, grp
HAVING max(pos) - min(pos) + {K_SUB} >= {MIN_SPAN}
""",
)
def dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr dedup: maximal cross-doc duplicated token spans at
    ANY offset (Lee et al. 2022 §4.1; reference presto has no
    counterpart — this is the training-pipeline surface).

    Plan: (1) explode each doc into sliding K_SUB-gram fingerprints
    with positions (one interpreted-HOF projection per doc — a real
    100 TB deployment would swap the md5-per-gram for a Karp-Rabin
    rolling hash inside the same transform(); the plan shape is
    identical.  Moving the md5 AFTER the explode so it codegens was
    A/B'd at sf1x: 2.00 vs 1.89 s — within window noise, because the
    duplicated-gram shuffle dominates, not the hash — so the
    fewer-materialized-bytes form stands); (2) grams held by >= 2 distinct docs — one hash
    shuffle; (3) left-semi join positions against the duplicated gram
    set (shuffled-hash, both sides corpus-sized — never broadcast);
    (4) gaps-and-islands window per doc over the SURVIVING positions
    only (dup mass, not corpus mass, crosses that shuffle).

    A planted re-entry (every 13th doc's tokens 8..67 behind a 3-token
    preamble) lands at offset 3 — misaligned with dedup_lines'
    LINE_TOKENS=10 chunk grid, so the fixed-width operator provably
    misses it (tests/test_pipeline.py::test_exact_substring_catches_offset_dup)
    while this one reports the full 60-token span in both docs."""
    d = _docs(spark, sf_dir).select("doc_id", "text")
    tk0 = tokens(F.col("text"))
    planted = d.filter(F.col("doc_id") % 13 == 0).select(
        (F.col("doc_id") + _ES_OFF).alias("doc_id"),
        F.concat(
            F.lit(_ES_PRE + " "), F.array_join(F.slice(tk0, 8, 60), " ")
        ).alias("text"),
    )
    return exact_substring_spans(spark, d.unionByName(planted))


def exact_substring_spans(spark: SparkSession, docs: DataFrame) -> DataFrame:
    """The span pipeline of dedup_exact_substring over an arbitrary
    (doc_id, text) corpus — factored out so property tests can drive it
    with synthetic corpora at controlled offsets."""
    toks = docs.select("doc_id", tokens(F.col("text")).alias("tk"))
    gram_expr = (
        f"IF(size(tk) > {K_SUB - 1},"
        f" transform(sequence(1, size(tk) - {K_SUB - 1}),"
        " i -> named_struct('pos', CAST(i AS BIGINT),"
        " 'h', CAST(conv(substring(md5("
        f"array_join(slice(tk, i, {K_SUB}), ' ')), 1, 15), 16, 10) AS BIGINT))),"
        " array())"
    )
    par = spark.sparkContext.defaultParallelism
    grams = (
        toks.repartition(par)  # explode multiplies ~100x (same reason
        # as _shingle_index: partition by post-explode rows)
        .select("doc_id", F.explode(F.expr(gram_expr)).alias("g"))
        .select("doc_id", "g.pos", "g.h")
    )
    dup = (
        grams.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    marked = grams.join(dup.hint("shuffle_hash"), "h", "left_semi")
    w = Window.partitionBy("doc_id").orderBy("pos")
    return (
        marked.withColumn(
            "grp", F.col("pos") - F.row_number().over(w).cast("long")
        )
        .groupBy("doc_id", "grp")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(K_SUB - 1)).cast("long").alias("span_end"),
            (F.max("pos") - F.min("pos") + F.lit(K_SUB))
            .cast("long")
            .alias("span_tokens"),
        )
        .filter(F.col("span_tokens") >= MIN_SPAN)
        .select("doc_id", "span_start", "span_end", "span_tokens")
    )
