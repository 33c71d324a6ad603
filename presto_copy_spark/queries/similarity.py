"""Similarity search over the ``embeddings`` fixture (array<float> x 64).

Three tiers, mirroring a production ANN stack:
- brute-force cosine top-k (the correctness baseline; broadcast the
  query set, scan the corpus once, per-query TopN via window)
- sign-LSH bucketed near-dup pairs (candidate generation by equi-join
  on bucket — the O(collisions) scale path)
- IVF probe (centroid per partition/label, probe nearest 2 cells, scan
  only those cells)

All cosine math uses operators/similarity.py quantized-integer dot
products — deterministic on both engines at any parallelism.

Scale design (100 TB): the corpus side never materializes pairs beyond
bucket/cell collisions; query sets and centroid tables are broadcast;
per-query TopN is a WindowGroupLimit (partial top-k before shuffle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.similarity import (
    CSCALE,
    cosine_from_q,
    qdot,
    sign_bucket,
    sql_cosine_from_q,
    sql_qdot,
    sql_sign_bucket,
)
from .registry import BENCH_ORACLE_BUILDERS, query

TOPK = 5
NEARDUP_T = 0.9
N_QUERIES = 5  # vec_id < 5 is the query set


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    # single small parquet file -> 1 scan task, but per-row vector math is
    # heavy: spread rows across cores before the compute (see
    # queries/text.py _shingle_index for the scale rationale)
    df = load_table(spark, sf_dir, "embeddings")
    return df.repartition(df.sparkSession.sparkContext.defaultParallelism)


# DuckDB fragments shared by the oracles.
_SQL_NORM = sql_qdot("embedding", "embedding")
_SQL_BASE = f"SELECT vec_id, label, embedding, {_SQL_NORM} AS nq FROM embeddings"


# ---------------------------------------------------------------------------
@query(
    "sim_topk_bruteforce",
    oracle=f"""
WITH base AS ({_SQL_BASE}),
q AS (SELECT vec_id AS qid, embedding AS qe, nq AS qnq FROM base WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT q.qid, b.vec_id,
         {sql_cosine_from_q(sql_qdot('q.qe', 'b.embedding'), 'q.qnq', 'b.nq')} AS cosine
  FROM q CROSS JOIN base b
  WHERE b.vec_id <> q.qid
)
SELECT qid, vec_id, cosine, rn
FROM (SELECT s.*, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rn
      FROM scored s) t
WHERE rn <= {TOPK}
""",
)
def sim_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: broadcast query set x corpus scan.

    The crossJoin side is broadcast (N_QUERIES rows), so the plan is a
    single corpus scan with per-row cosine eval + WindowGroupLimit
    top-k — the exact-ANN baseline that scales linearly in corpus size.
    """
    e = _emb(spark, sf_dir)
    base = e.select("vec_id", "embedding", qdot(F.col("embedding"), F.col("embedding")).alias("nq"))
    q = (
        base.filter(F.col("vec_id") < N_QUERIES)
        .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qe"), F.col("nq").alias("qnq"))
    )
    scored = (
        base.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            cosine_from_q(qdot(F.col("qe"), F.col("embedding")), F.col("qnq"), F.col("nq")).alias(
                "cosine"
            ),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), "vec_id")
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= TOPK)


# Buckets larger than this are dropped before the candidate self-join: a
# degenerate bucket with d members emits d^2/2 pairs, so one hot bucket
# (all-zero vectors, corrupt shards) can dominate the whole job.  Real
# near-dup clusters are tiny; anything above the cap is noise at corpus
# scale.  The oracle applies the identical cap.
BUCKET_CAP = 128


@query(
    "sim_ann_lsh_neardup",
    oracle=f"""
WITH corpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id, embedding FROM embeddings WHERE vec_id % 50 = 0
),
base0 AS (
  SELECT vec_id, embedding, {_SQL_NORM} AS nq,
         {sql_sign_bucket('embedding')} AS bucket
  FROM corpus
),
ok AS (SELECT bucket FROM base0 GROUP BY bucket HAVING count(*) <= {BUCKET_CAP}),
base AS (SELECT base0.* FROM base0 JOIN ok USING (bucket)),
pairs AS (
  SELECT a.vec_id AS v1, b.vec_id AS v2,
         {sql_cosine_from_q(sql_qdot('a.embedding', 'b.embedding'), 'a.nq', 'b.nq')} AS cosine
  FROM base a JOIN base b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT v1, v2, cosine FROM pairs WHERE cosine >= {NEARDUP_T}
""",
)
def sim_ann_lsh_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup detection via sign-LSH buckets.

    Candidates come from an equi-join on the 16-bit seeded-hyperplane
    sign bucket (operators/similarity.sign_bucket; exact duplicates
    always collide -> 100% recall at cosine=1) after dropping
    degenerate buckets above BUCKET_CAP, then cosine verification on
    candidates only.  The fixture has no near-dups, so a shifted copy
    of every 50th vector is unioned in to exercise the operator (same
    pattern as dedup_exact).
    """
    e = _emb(spark, sf_dir).select("vec_id", "embedding")
    planted = (
        e.filter(F.col("vec_id") % 50 == 0)
        .select((F.col("vec_id") + 1000000).alias("vec_id"), "embedding")
    )
    base0 = (
        e.unionByName(planted)
        .select(
            "vec_id",
            "embedding",
            qdot(F.col("embedding"), F.col("embedding")).alias("nq"),
            sign_bucket(F.col("embedding")).alias("bucket"),
        )
    )
    # Bucket-size cap via a window count rather than agg + join-back:
    # the join-back form re-evaluates the 16x64 sign_bucket expression on
    # every subtree (3x total with the self-join — measured 1.1s vs 0.7s
    # at sf0.1), while the window carries the count through ONE exchange
    # on bucket that both self-join sides then reuse (ReuseExchange),
    # so the hyperplane projection runs exactly once per row.  Same
    # pattern as the dedup inverted-index queries (queries/text.py).
    # Skew note: a degenerate bucket lands in one window partition
    # before it is dropped; at corpus scale pre-filtering all-zero /
    # constant vectors upstream keeps that bounded.
    w = Window.partitionBy("bucket")
    base = (
        base0.withColumn("bn", F.count(F.lit(1)).over(w))
        .filter(F.col("bn") <= BUCKET_CAP)
        .drop("bn")
    )
    a, b = base.alias("a"), base.alias("b")
    pairs = a.join(
        b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.vec_id") < F.col("b.vec_id"))
    ).select(
        F.col("a.vec_id").alias("v1"),
        F.col("b.vec_id").alias("v2"),
        cosine_from_q(
            qdot(F.col("a.embedding"), F.col("b.embedding")), F.col("a.nq"), F.col("b.nq")
        ).alias("cosine"),
    )
    return pairs.filter(F.col("cosine") >= NEARDUP_T)


@query(
    "sim_ivf_probe",
    oracle=f"""
WITH coords AS (
  SELECT vec_id, label, i, CAST(floor(embedding[i]::DOUBLE * {CSCALE}) AS BIGINT) AS qv
  FROM embeddings, unnest(generate_series(1, len(embedding))) AS g(i)
),
centroids AS (
  SELECT label, i,
         CAST(floor(CAST(sum(qv) AS DOUBLE) / count(*)) AS BIGINT) AS cv
  FROM coords GROUP BY label, i
),
qc AS (SELECT vec_id AS qid, i, qv FROM coords WHERE vec_id < {N_QUERIES}),
cell_dist AS (
  SELECT qc.qid, c.label,
         CAST(sum((qc.qv - c.cv) * (qc.qv - c.cv)) AS BIGINT) AS dist
  FROM qc JOIN centroids c ON qc.i = c.i
  GROUP BY qc.qid, c.label
),
probed AS (
  SELECT qid, label FROM (
    SELECT cd.*, row_number() OVER (PARTITION BY qid ORDER BY dist, label) AS rn
    FROM cell_dist cd) t
  WHERE rn <= 2
),
base AS ({_SQL_BASE}),
q AS (SELECT vec_id AS qid, embedding AS qe, nq AS qnq FROM base WHERE vec_id < {N_QUERIES}),
scored AS (
  SELECT q.qid, b.vec_id,
         {sql_cosine_from_q(sql_qdot('q.qe', 'b.embedding'), 'q.qnq', 'b.nq')} AS cosine
  FROM q JOIN probed p ON p.qid = q.qid
         JOIN base b ON b.label = p.label AND b.vec_id <> q.qid
)
SELECT qid, vec_id, cosine, rn
FROM (SELECT s.*, row_number() OVER (PARTITION BY qid ORDER BY cosine DESC, vec_id) AS rn
      FROM scored s) t
WHERE rn <= 3
""",
)
def sim_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: centroid per cell (label = cell id), probe the 2
    nearest cells per query, exact cosine only inside probed cells.

    Centroid coordinates and query-cell distances are fully integer
    (scaled 1e6, floor-divided) so both engines agree bit-for-bit.
    At scale: centroids are a tiny broadcast table; the cell scan is a
    partition-pruned read when the corpus is partitioned by cell.

    Round-5 fold (reusing the packed-centroid machinery the IVFADC
    path introduced): centroid training is ONE groupBy(label) agg with
    dim sum buffers (operators/similarity.mean_update — no posexplode
    of the corpus), and probe selection is a row-local array_sort slice
    against the packed one-row broadcast centroid table — the
    query-side coords⨝centroids join, its groupBy, and its window are
    all gone (11 -> 4 exchanges measured).
    """
    from ..operators.similarity import (
        EMB_DIM,
        mean_update,
        pack_cent_arr,
        quantize_arr,
    )

    e = _emb(spark, sf_dir)
    corpus_q = e.select(
        "vec_id", "label", quantize_arr(F.col("embedding")).alias("qarr")
    )
    cpacked = pack_cent_arr(
        mean_update(corpus_q, "label", "qarr", EMB_DIM), key="label"
    )
    qs0 = corpus_q.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"), "qarr"
    )
    probed = (
        qs0.crossJoin(F.broadcast(cpacked))
        .select(
            "qid",
            F.slice(
                F.array_sort(
                    F.transform(
                        F.col("cents"),
                        lambda c: F.struct(
                            F.aggregate(
                                F.zip_with(
                                    F.col("qarr"),
                                    c["cv_arr"],
                                    lambda a, b: (a - b) * (a - b),
                                ),
                                F.lit(0).cast("long"),
                                lambda acc, v: acc + v,
                            ).alias("dist"),
                            c["k"].alias("label"),
                        ),
                    )
                ),
                1,
                2,
            ).alias("probes"),
        )
        .select("qid", F.explode("probes").alias("p"))
        .select("qid", F.col("p")["label"].alias("label"))
        # (round 6) N_QUERIES x n_probe rows: lineage-truncated so the
        # scoring join below doesn't re-run the centroid training chain
        # to rebuild this tiny probe table (the sim_ivfadc model
        # pattern; bench.py's accounting note covers the protocol
        # implication)
        .localCheckpoint(eager=False)
    )
    base = e.select(
        "vec_id", "label", "embedding", qdot(F.col("embedding"), F.col("embedding")).alias("nq")
    )
    q = base.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        F.col("nq").alias("qnq"),
    )
    scored = (
        base.join(F.broadcast(probed), "label")
        .join(F.broadcast(q), "qid")
        .filter(F.col("vec_id") != F.col("qid"))
        .select(
            "qid",
            "vec_id",
            cosine_from_q(qdot(F.col("qe"), F.col("embedding")), F.col("qnq"), F.col("nq")).alias(
                "cosine"
            ),
        )
    )
    w = Window.partitionBy("qid").orderBy(F.col("cosine").desc(), "vec_id")
    return scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= 3)


@query(
    "sim_norm_histogram",
    oracle=f"""
SELECT label,
       count(*) AS n,
       CAST(sum({_SQL_NORM}) AS BIGINT) AS sum_norm_q,
       min({_SQL_NORM}) AS min_norm_q,
       max({_SQL_NORM}) AS max_norm_q
FROM embeddings
GROUP BY label
""",
)
def sim_norm_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-norm statistics per cell — the sanity profile a pipeline
    runs before indexing (detects unnormalized / degenerate vectors)."""
    e = _emb(spark, sf_dir)
    nq = qdot(F.col("embedding"), F.col("embedding"))
    return e.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(nq).alias("sum_norm_q"),
        F.min(nq).alias("min_norm_q"),
        F.max(nq).alias("max_norm_q"),
    )


_Q8 = 127  # int8 quantization scale


@query(
    "sim_quantized_cosine",
    oracle=f"""
WITH q8 AS (
  SELECT vec_id, label, embedding,
         list_transform(embedding,
           x -> greatest(-{_Q8}, least({_Q8},
                CAST(floor(x::DOUBLE * {_Q8}) AS BIGINT)))) AS q
  FROM embeddings
),
scored AS (
  SELECT label,
         {sql_cosine_from_q(sql_qdot('embedding', 'embedding'), sql_qdot('embedding', 'embedding'), sql_qdot('embedding', 'embedding'))} AS exact_self,
         CAST(list_sum(list_transform(list_zip(q, q),
              z -> z[1] * z[2])) AS BIGINT) AS qq,
         CAST(list_sum(q) AS BIGINT) AS qsum
  FROM q8
)
SELECT label,
       count(*) AS n,
       CAST(sum(qq) AS BIGINT) AS sum_q_norm2,
       CAST(sum(qsum) AS BIGINT) AS sum_q_coords,
       round(avg(exact_self), 6) AS avg_exact_self
FROM scored GROUP BY label
""",
)
def sim_quantized_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INT8 embedding quantization — the 4x memory / bandwidth cut for
    corpus-scale vector search (store int8, score with integer dot
    products, re-rank survivors at full precision).  Quantize each
    coordinate to clip(floor(x * 127), -127, 127), then aggregate the
    integer self-dot and coordinate sums per label, alongside the
    full-precision self-cosine (== 1 by construction — the oracle
    cross-checks the exact path's plumbing too).  Everything is
    zip_with/aggregate Column math, JVM-side, and every output is a
    scalar, bit-exact across engines."""
    e = _emb(spark, sf_dir)
    q8 = F.transform(
        F.col("embedding"),
        lambda x: F.greatest(
            F.lit(-_Q8),
            F.least(F.lit(_Q8), F.floor(x.cast("double") * _Q8).cast("long")),
        ),
    )
    qq = F.aggregate(
        F.zip_with(q8, q8, lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    qsum = F.aggregate(q8, F.lit(0).cast("long"), lambda acc, v: acc + v)
    nq = qdot(F.col("embedding"), F.col("embedding"))
    exact_self = cosine_from_q(nq, nq, nq)
    return (
        e.select("label", qq.alias("qq"), qsum.alias("qsum"), exact_self.alias("es"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("qq").cast("long").alias("sum_q_norm2"),
            F.sum("qsum").cast("long").alias("sum_q_coords"),
            F.round(F.avg("es"), 6).alias("avg_exact_self"),
        )
    )


# ---------------------------------------------------------------------------
# Product quantization: M subvectors x K codes, trained by one
# deterministic Lloyd iteration (integer arithmetic, same CSCALE trick
# as ml_kmeans), searched by asymmetric distance computation (ADC) with
# per-query lookup tables — Jégou/Douze/Schmid, "Product Quantization
# for Nearest Neighbor Search", TPAMI 2011.
PQ_M = 8  # subvectors (64-dim -> 8 x 8)
PQ_SUB = 8  # dims per subvector
PQ_K = 16  # codes per subvector -> 8 x log2(16) = 32 bits/vector (32x)
PQ_QMOD = 100  # every 100th vector plays the query role
# Codebook quality saturates in a few thousand points per cell, so TRAIN
# on a deterministic hash-sampled slice (the docs_mix_sample primitive)
# and ENCODE the full corpus — the split every corpus-scale PQ build
# uses (Jégou et al. train on a held-out learn set).
PQ_TRAIN_MOD = 2  # every 2nd vector joins the training slice
PQ_TOPK = 5

_SQL_PQ_DIST = "CAST(sum((c.qv - ct.cv) * (c.qv - ct.cv)) AS BIGINT)"


@query(
    "sim_pq_adc",
    oracle=f"""
WITH coords AS (
  SELECT vec_id, CAST(floor((i-1)/{PQ_SUB}) AS BIGINT) AS m, (i-1)%{PQ_SUB} AS j,
         CAST(floor(embedding[i]::DOUBLE * {CSCALE}) AS BIGINT) AS qv
  FROM embeddings, unnest(generate_series(1, len(embedding))) AS g(i)
),
cent0 AS (SELECT vec_id AS code, m, j, qv AS cv FROM coords WHERE vec_id < {PQ_K}),
train AS (SELECT * FROM coords WHERE vec_id % {PQ_TRAIN_MOD} = 0),
dist0 AS (
  SELECT c.vec_id, c.m, ct.code, {_SQL_PQ_DIST} AS dist
  FROM train c JOIN cent0 ct ON c.m = ct.m AND c.j = ct.j
  GROUP BY 1, 2, 3
),
assign0 AS (
  SELECT vec_id, m, code FROM (
    SELECT d.*, row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, code) AS rn
    FROM dist0 d) t WHERE rn = 1
),
cent1 AS (
  SELECT a.code, c.m, c.j,
         CAST(floor(CAST(sum(c.qv) AS DOUBLE) / count(*)) AS BIGINT) AS cv
  FROM train c JOIN assign0 a ON c.vec_id = a.vec_id AND c.m = a.m
  GROUP BY 1, 2, 3
),
dist1 AS (
  SELECT c.vec_id, c.m, ct.code, {_SQL_PQ_DIST} AS dist
  FROM coords c JOIN cent1 ct ON c.m = ct.m AND c.j = ct.j
  GROUP BY 1, 2, 3
),
codes AS (
  SELECT vec_id, m, code FROM (
    SELECT d.*, row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, code) AS rn
    FROM dist1 d) t WHERE rn = 1
),
qc AS (SELECT vec_id AS qid, m, j, qv FROM coords WHERE vec_id % {PQ_QMOD} = 0),
lut AS (
  SELECT c.qid, ct.m, ct.code,
         CAST(sum((c.qv - ct.cv) * (c.qv - ct.cv)) AS BIGINT) AS ldist
  FROM qc c JOIN cent1 ct ON c.m = ct.m AND c.j = ct.j
  GROUP BY 1, 2, 3
),
adc AS (
  SELECT l.qid, cd.vec_id, CAST(sum(l.ldist) AS BIGINT) AS adist
  FROM codes cd JOIN lut l ON cd.m = l.m AND cd.code = l.code
  GROUP BY 1, 2
)
SELECT qid, vec_id AS neighbor, adist
FROM (SELECT adc.*, row_number() OVER (PARTITION BY qid ORDER BY adist, vec_id) AS rn
      FROM adc) t
WHERE rn <= {PQ_TOPK}
""",
)
def sim_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN with ADC lookup tables (Jégou et al.
    2011): train a per-subvector codebook (one deterministic Lloyd
    iteration seeded from vec_id < PQ_K, all integer arithmetic so the
    DuckDB oracle — the identical pipeline as CTEs — matches
    bit-for-bit), encode every vector as PQ_M 4-bit codes (32x
    compression of the 64-float vector), then answer top-k by summing
    per-query LUT entries instead of touching raw vectors.

    Plan shape, stage by stage, and why it survives 100 TB (round-4
    rewrite: assignment is vector-at-a-time HOF math against the packed
    one-row broadcast codebook — operators/similarity.pack_pq /
    pq_code_structs — so the corpus never explodes to learn its codes):
    - TRAIN: one map-only seed assignment over the hash-sampled slice
      (codebook quality saturates in thousands of points per cell) +
      one posexplode hash agg for the per-(code, m, j) means.
    - ENCODE: one MAP-ONLY corpus pass — all PQ_M codes computed
      row-locally against the broadcast codebook; output is 4 bytes
      per vector, the artifact you persist.
    - SEARCH (ADC): each query builds an M x K integer LUT from the
      broadcast codebook (PQ_M * PQ_K = 128 rows per query); scoring is
      codes ⨝ broadcast(LUT) + one sum per (qid, vec_id) — the corpus
      side ships only its codes, never the vectors.  Measured recall@5
      vs exact L2 at sf0.01: 0.48 (self-hit always recalled); re-rank
      survivors with sim_topk_bruteforce's exact path to close the gap.
    """
    from ..operators.similarity import (
        pack_pq,
        pq_code_sub_structs,
        pq_lut_indexes,
        pq_lut_structs,
        quantize_arr,
    )

    corpus = _emb(spark, sf_dir).select(
        "vec_id", quantize_arr(F.col("embedding")).alias("qarr")
    )
    # codebook seed: subvector slices of the first PQ_K vectors, packed
    # into the one-row broadcast {pq} table (operators/similarity)
    seed_slices = corpus.filter(F.col("vec_id") < PQ_K).select(
        F.col("vec_id").alias("code"),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(PQ_M - 1)),
                lambda m: F.struct(
                    m.alias("m"),
                    F.slice(F.col("qarr"), m * PQ_SUB + 1, PQ_SUB).alias("cv_arr"),
                ),
            )
        ).alias("s"),
    ).select("code", F.col("s")["m"].alias("m"), F.col("s")["cv_arr"].alias("cv_arr"))
    pq0 = pack_pq(seed_slices)

    # TRAIN on the hash-sampled slice, ENCODE the full corpus: codebook
    # quality saturates in thousands of points per cell, so the Lloyd
    # pass touches PQ_TRAIN_MOD-th of the data (same split in the
    # oracle).  Round-5 fold: the per-(code, m, j) mean is ONE
    # groupBy(m, code) agg over (m, code, subvector) structs — PQ_M
    # rows per vector instead of a dim-wide posexplode joined back to
    # the codes (the old coords⨝codes shuffle join is gone entirely);
    # same BIGINT sums and floor(sum/count), so the oracle CTEs still
    # match bit-for-bit.
    train = corpus.filter(F.col("vec_id") % PQ_TRAIN_MOD == 0)
    enc0 = (
        train.crossJoin(F.broadcast(pq0))
        .select(
            F.explode(
                pq_code_sub_structs(F.col("qarr"), F.col("pq"), PQ_M, PQ_SUB)
            ).alias("c")
        )
        .select(
            F.col("c")["m"].alias("m"),
            F.col("c")["code"].alias("code"),
            F.col("c")["sub"].alias("sub"),
        )
    )
    sums = enc0.groupBy("m", "code").agg(
        F.count(F.lit(1)).alias("n"),
        *[F.sum(F.element_at("sub", j + 1)).alias(f"s{j}") for j in range(PQ_SUB)],
    )
    cent1_rows = sums.select(
        "code",
        "m",
        F.array(
            *[
                F.floor(F.col(f"s{j}").cast("double") / F.col("n")).cast("long")
                for j in range(PQ_SUB)
            ]
        ).alias("cv_arr"),
    )
    # the trained codebook is a KB-sized one-row model table consumed by
    # both the encode pass and the per-query LUT build; checkpointing it
    # stops the whole train chain re-executing per consumer (Catalyst
    # can't exchange-reuse across collect_list subtrees)
    pq1 = pack_pq(cent1_rows).localCheckpoint(eager=False)
    # Round-16 ADC restructure (VERDICT r15 ask #3, guide §2.3/§2.4):
    # the old form exploded every vector to PQ_M (vec_id, m, code) rows,
    # broadcast-joined them to per-(qid, m, code) LUT rows (inflating to
    # N x PQ_M x |queries| rows), and hash-aggregated back down to
    # (qid, vec_id) — the suite's biggest intermediate (11.5M rows at
    # sf0.1) plus an aggregation exchange.  Codes now stay PACKED per
    # vector (lidx: the PQ_M flat LUT indexes, computed once row-locally
    # at encode), the per-query LUT is a flat 128-long array, and adist
    # is PQ_M array lookups per (vector, query) pair — the join emits
    # exactly the N x |queries| scoring rows with no aggregation at all.
    # Same integer ldist values summed in m-order: adist is bit-exact,
    # oracle CTEs unchanged.
    codes_packed = corpus.crossJoin(F.broadcast(pq1)).select(
        "vec_id",
        pq_lut_indexes(F.col("qarr"), F.col("pq"), PQ_SUB).alias("lidx"),
    )
    # per-query LUT: the M x K integer table built row-locally from the
    # packed codebooks, kept as ONE flat array<long> per query in
    # (m, code) order — lidx above holds each vector's POSITIONS into
    # exactly this order (codebooks may be sparse, hence positions)
    lut = (
        corpus.filter(F.col("vec_id") % PQ_QMOD == 0)
        .select(F.col("vec_id").alias("qid"), "qarr")
        .crossJoin(F.broadcast(pq1))
        .select(
            "qid",
            F.transform(
                pq_lut_structs(F.col("qarr"), F.col("pq"), PQ_SUB),
                lambda e: e["ldist"],
            ).alias("larr"),
        )
    )
    adc = codes_packed.join(F.broadcast(lut)).select(
        "qid",
        "vec_id",
        F.aggregate(
            F.col("lidx"),
            F.lit(0).cast("long"),
            lambda acc, j: acc + F.element_at(F.col("larr"), j),
        ).alias("adist"),
    )
    w = Window.partitionBy("qid").orderBy("adist", "vec_id")
    return (
        adc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= PQ_TOPK)
        .select("qid", F.col("vec_id").alias("neighbor"), "adist")
    )


# ---------------------------------------------------------------------------
# IVFADC: the IVF coarse quantizer composed with the PQ codebook
# (Jégou/Douze/Schmid 2011, §IVFADC).  This is the 100 TB plan that the
# flat sim_pq_adc deliberately is not: ADC scoring touches only the
# NPROBE probed cells per query instead of every corpus code, and a
# final exact re-rank of the top-RERANK candidates closes the ADC
# approximation gap (measured recall@5 0.52 vs flat PQ's 0.44 at
# sf0.01, with 2 of 8 cells probed — tests/test_pipeline.py).
IVF_NCELLS = 8
IVF_NPROBE = 2
IVF_RERANK = 20

_SQL_CELL_DIST = "CAST(sum((c.qv - ct.cv) * (c.qv - ct.cv)) AS BIGINT)"


# ---- IVFADC stages, shared by the inline query and the persisted index ----
# (round 15): operators/ann_index.py persists exactly what these stages
# compute — the same pattern as operators/incremental.py importing the
# minhash profile from queries/text.py, so the inline pipeline and the
# persist/probe/append path can never drift apart.


def ivfadc_quantize(emb: DataFrame) -> DataFrame:
    """(vec_id, qarr): the scaled-integer embedding both engines agree on."""
    from ..operators.similarity import quantize_arr

    return emb.select("vec_id", quantize_arr(F.col("embedding")).alias("qarr"))


def ivfadc_train(corpus: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Train the index model: (packed coarse centroids c1, packed PQ
    codebook pq1) — each a KB-sized one-row DataFrame, localCheckpointed
    because several downstream stages consume them and collect_list
    breaks Catalyst's exchange reuse (see the round-5 note below).
    These two rows ARE the persisted model artifacts of a train job."""
    from ..operators.similarity import (
        EMB_DIM,
        hof_argmin,
        mean_update,
        pack_cent_arr,
        pack_pq,
        pq_code_sub_structs,
    )

    # ---- coarse quantizer: seed -> one Lloyd iteration -----------------
    c0 = corpus.filter(F.col("vec_id") < IVF_NCELLS).agg(
        F.array_sort(
            F.collect_list(
                F.struct(F.col("vec_id").alias("k"), F.col("qarr").alias("cv_arr"))
            )
        ).alias("cents")
    )
    train = corpus.filter(F.col("vec_id") % PQ_TRAIN_MOD == 0)
    cassign0 = train.crossJoin(F.broadcast(c0)).select(
        "vec_id", "qarr", hof_argmin(F.col("qarr"), F.col("cents")).alias("cell")
    )
    # round-5 fold: ONE groupBy(cell) agg with dim sum buffers instead
    # of posexplode -> groupBy(cell, i) -> re-pack (operators/similarity
    # mean_update — same integer arithmetic, one shuffle, no inflation).
    c1 = pack_cent_arr(
        mean_update(cassign0, "cell", "qarr", EMB_DIM), key="cell"
    ).localCheckpoint(eager=False)

    # ---- PQ codebooks on residual slices -------------------------------
    assigned = ivfadc_assign(corpus, c1)
    seeds = assigned.filter(F.col("vec_id") < PQ_K)
    seed_slices = seeds.select(
        F.col("vec_id").alias("code"),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(PQ_M - 1)),
                lambda m: F.struct(
                    m.alias("m"),
                    F.slice(F.col("rarr"), m * PQ_SUB + 1, PQ_SUB).alias("cv_arr"),
                ),
            )
        ).alias("s"),
    ).select("code", F.col("s")["m"].alias("m"), F.col("s")["cv_arr"].alias("cv_arr"))
    pq0 = pack_pq(seed_slices)

    rtrain = assigned.filter(F.col("vec_id") % PQ_TRAIN_MOD == 0)
    # per-(code, m, j) means, round-5 fold: ONE groupBy(m, code) agg
    # over (m, code, residual-subvector) structs — PQ_M rows per vector
    # instead of a dim-wide posexplode shuffle-joined back to the codes;
    # same BIGINT sums / floor(sum/count), oracle CTEs stay bit-exact
    enc0 = (
        rtrain.crossJoin(F.broadcast(pq0))
        .select(
            F.explode(
                pq_code_sub_structs(F.col("rarr"), F.col("pq"), PQ_M, PQ_SUB)
            ).alias("c")
        )
        .select(
            F.col("c")["m"].alias("m"),
            F.col("c")["code"].alias("code"),
            F.col("c")["sub"].alias("sub"),
        )
    )
    rsums = enc0.groupBy("m", "code").agg(
        F.count(F.lit(1)).alias("n"),
        *[F.sum(F.element_at("sub", j + 1)).alias(f"s{j}") for j in range(PQ_SUB)],
    )
    cent1_rows = rsums.select(
        "code",
        "m",
        F.array(
            *[
                F.floor(F.col(f"s{j}").cast("double") / F.col("n")).cast("long")
                for j in range(PQ_SUB)
            ]
        ).alias("cv_arr"),
    )
    pq1 = pack_pq(cent1_rows).localCheckpoint(eager=False)
    return c1, pq1


def ivfadc_assign(corpus: DataFrame, c1: DataFrame) -> DataFrame:
    """Map-only corpus pass against the broadcast packed centroids:
    (vec_id, qarr, cell, rarr) — nearest cell + residual, no shuffle."""
    from ..operators.similarity import hof_nearest

    return (
        corpus.crossJoin(F.broadcast(c1))
        .select(
            "vec_id",
            "qarr",
            hof_nearest(F.col("qarr"), F.col("cents")).alias("best"),
        )
        .select(
            "vec_id",
            "qarr",
            F.col("best")["k"].alias("cell"),
            F.zip_with(
                F.col("qarr"), F.col("best")["cv_arr"], lambda a, b: a - b
            ).alias("rarr"),
        )
    )


def ivfadc_encode(assigned: DataFrame, pq1: DataFrame) -> DataFrame:
    """All PQ_M codes per row, computed row-locally against the
    broadcast codebook — PACKED as (vec_id, cell, lidx) where lidx is
    the PQ_M 1-based positions into a query's flat (m, code)-ordered
    residual-LUT array (operators/similarity.pq_lut_indexes; positions
    rather than m*K+code because trained codebooks can be sparse).

    Round 16 (VERDICT r15 ask #3): was exploded (vec_id, cell, m, code)
    rows — PQ_M rows per vector that the ADC broadcast-join inflated by
    the probing-query count and re-aggregated through an exchange.  The
    packed row is the artifact the persisted index stores BY CELL:
    one row per vector, scoring is PQ_M array lookups per candidate
    pair, no aggregation at all."""
    from ..operators.similarity import pq_lut_indexes

    return assigned.crossJoin(F.broadcast(pq1)).select(
        "vec_id",
        "cell",
        pq_lut_indexes(F.col("rarr"), F.col("pq"), PQ_SUB).alias("lidx"),
    )


def ivfadc_probes_col():
    """The probed-cells expression: per query, the IVF_NPROBE nearest
    cells as a slice of the (dist, cell, cv_arr)-struct array sorted by
    integer L2 distance — no window, no shuffle.  Shared by
    ivfadc_search and operators/ann_index.probe_ann_index's
    partition-prune cell collect so the two can never drift."""
    return F.slice(
        F.array_sort(
            F.transform(
                F.col("cents"),
                lambda c: F.struct(
                    F.aggregate(
                        F.zip_with(
                            F.col("qarr"),
                            c["cv_arr"],
                            lambda a, b: (a - b) * (a - b),
                        ),
                        F.lit(0).cast("long"),
                        lambda acc, v: acc + v,
                    ).alias("dist"),
                    c["k"].alias("cell"),
                    c["cv_arr"].alias("cv_arr"),
                ),
            )
        ),
        1,
        IVF_NPROBE,
    )


def ivfadc_search(
    qs: DataFrame,
    c1: DataFrame,
    pq1: DataFrame,
    codes: DataFrame,
    vectors: DataFrame,
) -> DataFrame:
    """The probe: qs = (qid, qarr) queries, vectors = (vec_id, qarr)
    for the exact re-rank.  Probed cells per query are a slice of the
    sorted per-cell distance array (no window, no shuffle); the ADC
    join touches only probed cells; the IVF_RERANK survivors get an
    exact integer-L2 re-rank (row-local zip_with)."""
    from ..operators.similarity import pq_lut_structs

    probed = (
        qs.crossJoin(F.broadcast(c1))
        .select(
            "qid",
            "qarr",
            ivfadc_probes_col().alias("probes"),
        )
        .select("qid", "qarr", F.explode("probes").alias("p"))
        .select(
            "qid",
            "qarr",
            F.col("p")["cell"].alias("cell"),
            F.zip_with(
                F.col("qarr"), F.col("p")["cv_arr"], lambda a, b: a - b
            ).alias("rqarr"),
        )
    )
    # per-(qid, probed cell) LUT rows from the packed codebooks, kept as
    # ONE flat array<long> per (qid, cell) in (m, code) order — codes'
    # lidx positions index exactly this array (see ivfadc_encode).
    # Round 16: the ADC join is now keyed on cell ALONE and emits
    # exactly the (candidate vector x probing query) scoring rows with
    # adist computed row-locally — no PQ_M-fold inflation, no
    # aggregation exchange (same integer ldists summed in m-order, so
    # adist is bit-exact vs the exploded-join form and the oracle CTEs).
    lut = (
        probed.crossJoin(F.broadcast(pq1))
        .select(
            "qid",
            "cell",
            F.transform(
                pq_lut_structs(F.col("rqarr"), F.col("pq"), PQ_SUB),
                lambda e: e["ldist"],
            ).alias("larr"),
        )
    )
    adc = codes.join(F.broadcast(lut), ["cell"]).select(
        "qid",
        "vec_id",
        F.aggregate(
            F.col("lidx"),
            F.lit(0).cast("long"),
            lambda acc, j: acc + F.element_at(F.col("larr"), j),
        ).alias("adist"),
    )
    wa = Window.partitionBy("qid").orderBy("adist", "vec_id")
    cand = (
        adc.withColumn("rn", F.row_number().over(wa))
        .filter(F.col("rn") <= IVF_RERANK)
        .select("qid", "vec_id")
    )
    # exact integer-L2 re-rank: row-local zip_with on the quantized arrays
    exact = (
        cand.join(vectors, "vec_id")
        .join(
            F.broadcast(qs.select("qid", F.col("qarr").alias("q_qarr"))), "qid"
        )
        .select(
            "qid",
            "vec_id",
            F.aggregate(
                F.zip_with(
                    F.col("q_qarr"), F.col("qarr"), lambda a, b: (a - b) * (a - b)
                ),
                F.lit(0).cast("long"),
                lambda acc, v: acc + v,
            ).alias("edist"),
        )
    )
    we = Window.partitionBy("qid").orderBy("edist", "vec_id")
    return (
        exact.withColumn("rn", F.row_number().over(we))
        .filter(F.col("rn") <= PQ_TOPK)
        .select("qid", F.col("vec_id").alias("neighbor"), "edist")
    )


def _sql_ivfadc_train_ctes() -> str:
    """coords .. codes — the index-BUILD CTE chain: coarse centroids
    (coarse1), PQ codebook (cent1), per-vector codes (codes).  These
    are exactly the artifacts operators/ann_index.persist_ann_index
    materializes on the Spark side; shared by the full correctness
    oracle and the bench builder's untimed temp-table index build."""
    return f"""coords AS (
  SELECT vec_id, i,
         CAST(floor((i-1)/{PQ_SUB}) AS BIGINT) AS m, (i-1)%{PQ_SUB} AS j,
         CAST(floor(embedding[i]::DOUBLE * {CSCALE}) AS BIGINT) AS qv
  FROM embeddings, unnest(generate_series(1, len(embedding))) AS g(i)
),
coarse0 AS (SELECT vec_id AS cell, i, qv AS cv FROM coords WHERE vec_id < {IVF_NCELLS}),
train AS (SELECT * FROM coords WHERE vec_id % {PQ_TRAIN_MOD} = 0),
cdist0 AS (
  SELECT c.vec_id, ct.cell, {_SQL_CELL_DIST} AS dist
  FROM train c JOIN coarse0 ct ON c.i = ct.i GROUP BY 1, 2
),
cassign0 AS (
  SELECT vec_id, cell FROM (
    SELECT d.*, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
    FROM cdist0 d) t WHERE rn = 1
),
coarse1 AS (
  SELECT a.cell, c.i,
         CAST(floor(CAST(sum(c.qv) AS DOUBLE) / count(*)) AS BIGINT) AS cv
  FROM train c JOIN cassign0 a ON c.vec_id = a.vec_id
  GROUP BY 1, 2
),
cdist1 AS (
  SELECT c.vec_id, ct.cell, {_SQL_CELL_DIST} AS dist
  FROM coords c JOIN coarse1 ct ON c.i = ct.i GROUP BY 1, 2
),
cells AS (
  SELECT vec_id, cell FROM (
    SELECT d.*, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cell) AS rn
    FROM cdist1 d) t WHERE rn = 1
),
resid AS (
  SELECT c.vec_id, cl.cell, c.i, c.m, c.j, c.qv - ct.cv AS rv
  FROM coords c JOIN cells cl ON c.vec_id = cl.vec_id
                JOIN coarse1 ct ON ct.cell = cl.cell AND ct.i = c.i
),
cent0 AS (SELECT vec_id AS code, m, j, rv AS cv FROM resid WHERE vec_id < {PQ_K}),
rtrain AS (SELECT * FROM resid WHERE vec_id % {PQ_TRAIN_MOD} = 0),
dist0 AS (
  SELECT c.vec_id, c.m, ct.code, CAST(sum((c.rv - ct.cv) * (c.rv - ct.cv)) AS BIGINT) AS dist
  FROM rtrain c JOIN cent0 ct ON c.m = ct.m AND c.j = ct.j GROUP BY 1, 2, 3
),
assign0 AS (
  SELECT vec_id, m, code FROM (
    SELECT d.*, row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, code) AS rn
    FROM dist0 d) t WHERE rn = 1
),
cent1 AS (
  SELECT a.code, c.m, c.j,
         CAST(floor(CAST(sum(c.rv) AS DOUBLE) / count(*)) AS BIGINT) AS cv
  FROM rtrain c JOIN assign0 a ON c.vec_id = a.vec_id AND c.m = a.m
  GROUP BY 1, 2, 3
),
dist1 AS (
  SELECT c.vec_id, c.cell, c.m, ct.code,
         CAST(sum((c.rv - ct.cv) * (c.rv - ct.cv)) AS BIGINT) AS dist
  FROM resid c JOIN cent1 ct ON c.m = ct.m AND c.j = ct.j GROUP BY 1, 2, 3, 4
),
codes AS (
  SELECT vec_id, cell, m, code FROM (
    SELECT d.*, row_number() OVER (PARTITION BY vec_id, m ORDER BY dist, code) AS rn
    FROM dist1 d) t WHERE rn = 1
)"""


def _sql_ivfadc_search_ctes(
    qc_src: str, coarse: str, cent: str, codes: str, coords: str
) -> str:
    """qc .. final top-k — the PROBE chain, parameterized on where the
    index lives: CTE names for the inline correctness oracle, temp
    TABLE names for the bench builder's probe-only timed SQL."""
    return f"""qc AS ({qc_src}),
qcell AS (
  SELECT c.qid, ct.cell, CAST(sum((c.qv - ct.cv) * (c.qv - ct.cv)) AS BIGINT) AS dist
  FROM qc c JOIN {coarse} ct ON c.i = ct.i GROUP BY 1, 2
),
probed AS (
  SELECT qid, cell FROM (
    SELECT d.*, row_number() OVER (PARTITION BY qid ORDER BY dist, cell) AS rn
    FROM qcell d) t WHERE rn <= {IVF_NPROBE}
),
qresid AS (
  SELECT qc.qid, p.cell, qc.i, qc.m, qc.j, qc.qv - ct.cv AS rv
  FROM qc JOIN probed p ON p.qid = qc.qid
          JOIN {coarse} ct ON ct.cell = p.cell AND ct.i = qc.i
),
lut AS (
  SELECT q.qid, q.cell, ct.m, ct.code,
         CAST(sum((q.rv - ct.cv) * (q.rv - ct.cv)) AS BIGINT) AS ldist
  FROM qresid q JOIN {cent} ct ON q.m = ct.m AND q.j = ct.j
  GROUP BY 1, 2, 3, 4
),
adc AS (
  SELECT l.qid, cd.vec_id, CAST(sum(l.ldist) AS BIGINT) AS adist
  FROM {codes} cd JOIN lut l ON cd.cell = l.cell AND cd.m = l.m AND cd.code = l.code
  GROUP BY 1, 2
),
cand AS (
  SELECT qid, vec_id FROM (
    SELECT adc.*, row_number() OVER (PARTITION BY qid ORDER BY adist, vec_id) AS rn
    FROM adc) t WHERE rn <= {IVF_RERANK}
),
exact AS (
  SELECT ca.qid, ca.vec_id, CAST(sum((qc.qv - c.qv) * (qc.qv - c.qv)) AS BIGINT) AS edist
  FROM cand ca JOIN {coords} c ON c.vec_id = ca.vec_id
               JOIN qc ON qc.qid = ca.qid AND qc.i = c.i
  GROUP BY 1, 2
)
SELECT qid, vec_id AS neighbor, edist
FROM (SELECT e.*, row_number() OVER (PARTITION BY qid ORDER BY edist, vec_id) AS rn
      FROM exact e) t
WHERE rn <= {PQ_TOPK}
"""


def _sql_ivfadc_oracle() -> str:
    """Train-inclusive correctness oracle — identical text to the
    original round-4 oracle, now assembled from the two shared parts."""
    qc_src = f"SELECT vec_id AS qid, i, m, j, qv FROM coords WHERE vec_id % {PQ_QMOD} = 0"
    return (
        "WITH "
        + _sql_ivfadc_train_ctes()
        + ",\n"
        + _sql_ivfadc_search_ctes(qc_src, "coarse1", "cent1", "codes", "coords")
    )


@query(
    "sim_ivfadc",
    oracle=_sql_ivfadc_oracle(),
)
def sim_ivfadc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF + PQ-ADC + exact re-rank — the composed corpus-scale ANN.

    Round-4 rewrite: cluster/code ASSIGNMENT is vector-at-a-time HOF
    math against packed one-row broadcast centroid tables
    (operators/similarity.pack_centroids / hof_nearest) instead of the
    exploded-coordinate join — the corpus side never explodes and never
    shuffles to learn its cell or its codes.  Stage shapes at 100 TB:

    - COARSE TRAIN: map-only seed assignment on the hash-sampled train
      slice + ONE posexplode hash agg for the per-dim means (map-side
      combine collapses to NCELLS x dim rows before the exchange).
    - ASSIGN + RESIDUAL + ENCODE: one map-only corpus pass — nearest
      cell, residual array (zip_with against the winning centroid), and
      all PQ_M codes computed per row against the broadcast codebooks;
      the only materialized output is (vec_id, cell, m, code), the
      4-bytes-per-vector artifact you persist partitioned BY CELL.
    - SEARCH: per (query, probed cell) residual LUTs built row-locally
      from the same packed tables (probed cells = slice of the sorted
      per-cell distance array — no window), ADC join restricted to
      probed cells, then exact integer-L2 re-rank of the IVF_RERANK
      survivors (row-local zip_with on the quantized arrays).

    Arithmetic is unchanged from the exploded form (same CSCALE longs,
    same (dist, key) tie-breaks), so the DuckDB oracle — the original
    pipeline as CTEs — still matches bit-for-bit; recall invariants in
    tests/test_pipeline.py.
    """
    corpus = ivfadc_quantize(_emb(spark, sf_dir))
    c1, pq1 = ivfadc_train(corpus)
    assigned = ivfadc_assign(corpus, c1)
    codes = ivfadc_encode(assigned, pq1)
    qs = corpus.filter(F.col("vec_id") % PQ_QMOD == 0).select(
        F.col("vec_id").alias("qid"), "qarr"
    )
    return ivfadc_search(qs, c1, pq1, codes, corpus)


def _ann_bench_probe_oracle(con) -> str:
    """Bench-denominator symmetry for the persisted-index probe (the
    classifier pattern, registry.BENCH_ORACLE_BUILDERS): Spark's timed
    region probes a PREBUILT index, so the DuckDB denominator builds
    the same index UNTIMED into temp tables (coarse centroids, PQ
    codebook, per-vector codes, quantized vectors) and the timed SQL is
    the probe chain alone.  The correctness oracle (ORACLES entry)
    stays the full train-inclusive pipeline."""
    train = "WITH " + _sql_ivfadc_train_ctes()
    for tbl, src in (
        ("ann_coarse1", "SELECT * FROM coarse1"),
        ("ann_cent1", "SELECT * FROM cent1"),
        ("ann_codes", "SELECT * FROM codes"),
        ("ann_coords", "SELECT vec_id, i, qv FROM coords"),
    ):
        con.sql(f"CREATE OR REPLACE TEMP TABLE {tbl} AS {train} {src}")
    qc_src = f"""SELECT vec_id AS qid, i,
         CAST(floor((i-1)/{PQ_SUB}) AS BIGINT) AS m, (i-1)%{PQ_SUB} AS j,
         CAST(floor(embedding[i]::DOUBLE * {CSCALE}) AS BIGINT) AS qv
  FROM embeddings, unnest(generate_series(1, len(embedding))) AS g(i)
  WHERE vec_id % {PQ_QMOD} = 0"""
    return "WITH " + _sql_ivfadc_search_ctes(
        qc_src, "ann_coarse1", "ann_cent1", "ann_codes", "ann_coords"
    )


BENCH_ORACLE_BUILDERS["sim_ann_index_probe"] = _ann_bench_probe_oracle


@query(
    "sim_ann_index_probe",
    oracle=_sql_ivfadc_oracle(),
)
def sim_ann_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persisted-ANN-index probe (round 15): train + persist the IVFADC
    index (operators/ann_index.persist_ann_index — centroids/codebook
    as KB-sized packed rows, codes + rerank vectors PARTITIONED BY
    CELL), then search it.  Output is bit-identical to the inline
    sim_ivfadc (same stage functions, same queries), which is why the
    oracle is the same SQL; the difference is the PLAN — the probe's
    code and vector scans carry PartitionFilters restricting the read
    to the probed cells (asserted in tests/test_pipeline.py), the
    frozen-index deployment shape of a 100 TB similarity pipeline."""
    from ..operators.ann_index import persist_ann_index, probe_ann_index

    emb = _emb(spark, sf_dir)
    persist_ann_index(spark, emb, "t_ann_idx")
    qs = ivfadc_quantize(emb).filter(F.col("vec_id") % PQ_QMOD == 0).select(
        F.col("vec_id").alias("qid"), "qarr"
    )
    return probe_ann_index(spark, qs, "t_ann_idx")


# ---------------------------------------------------------------------------
# Semantic deduplication (SemDeDup, Abbas et al. 2023, arXiv:2303.09540):
# k-means cluster the embedding space, then search for near-duplicates
# ONLY within each cluster — the learned-cluster analogue of the LSH
# bucket candidate generation above.  At corpus scale K grows with N so
# the per-cluster pair count (the quadratic term) stays bounded; the
# SIZE_CAP guard below drops degenerate clusters the same way BUCKET_CAP
# protects the LSH join.
SEM_TARGET = 128  # target cluster size: K = max(SEM_MIN_K, floor(N / SEM_TARGET))
# — the paper's knob bounding the quadratic within-cluster term, DERIVED
# from corpus size inside the query (round-8: was a fixture-pinned K=16;
# at the fixture scales the derived K still lands on 16, at the 10x/30x
# layouts it grows to ~159/~478 so clusters stay ~target-sized)
SEM_MIN_K = 16
SEM_T = 0.9  # cosine threshold for "semantic duplicate"
SEM_CAP = 512  # degenerate-cluster guard (see BUCKET_CAP rationale)


@query(
    "dedup_semantic",
    oracle=f"""
WITH corpus AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 1000000 AS vec_id, embedding FROM embeddings WHERE vec_id % 50 = 0
),
coords AS (
  SELECT vec_id, i, CAST(floor(embedding[i]::DOUBLE * {CSCALE}) AS BIGINT) AS qv
  FROM corpus, unnest(generate_series(1, len(embedding))) AS g(i)
),
kstat AS (
  SELECT greatest({SEM_MIN_K}, CAST(floor(count(*) / {SEM_TARGET}.0) AS BIGINT)) AS k
  FROM corpus
),
cent0 AS (SELECT vec_id AS cluster, i, qv AS cv FROM coords, kstat WHERE vec_id < k),
dist0 AS (
  SELECT c.vec_id, ct.cluster, CAST(sum((c.qv - ct.cv) * (c.qv - ct.cv)) AS BIGINT) AS dist
  FROM coords c JOIN cent0 ct ON c.i = ct.i GROUP BY 1, 2
),
assign0 AS (
  SELECT vec_id, cluster FROM (
    SELECT d.*, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn
    FROM dist0 d) t WHERE rn = 1
),
cent1 AS (
  SELECT a.cluster, c.i,
         CAST(floor(CAST(sum(c.qv) AS DOUBLE) / count(*)) AS BIGINT) AS cv
  FROM coords c JOIN assign0 a USING (vec_id) GROUP BY 1, 2
),
dist1 AS (
  SELECT c.vec_id, ct.cluster, CAST(sum((c.qv - ct.cv) * (c.qv - ct.cv)) AS BIGINT) AS dist
  FROM coords c JOIN cent1 ct ON c.i = ct.i GROUP BY 1, 2
),
clusters AS (
  SELECT vec_id, cluster FROM (
    SELECT d.*, row_number() OVER (PARTITION BY vec_id ORDER BY dist, cluster) AS rn
    FROM dist1 d) t WHERE rn = 1
),
sized AS (
  SELECT cluster FROM clusters GROUP BY cluster HAVING count(*) <= {SEM_CAP}
),
base AS (
  SELECT co.vec_id, cl.cluster, co.embedding, {_SQL_NORM} AS nq
  FROM corpus co JOIN clusters cl USING (vec_id) JOIN sized s USING (cluster)
),
pairs AS (
  SELECT a.vec_id AS keeper, b.vec_id AS dup,
         {sql_cosine_from_q(sql_qdot('a.embedding', 'b.embedding'), 'a.nq', 'b.nq')} AS cosine
  FROM base a JOIN base b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
)
SELECT dup AS dropped_vec_id,
       CAST(min(keeper) AS BIGINT) AS kept_vec_id,
       max(cosine) AS max_cosine
FROM pairs WHERE cosine >= {SEM_T}
GROUP BY dup
""",
)
def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup: near-duplicate removal with LEARNED clusters as the
    candidate generator (k-means, one deterministic integer-Lloyd
    iteration) instead of LSH buckets — catches semantically-close
    pairs whose hyperplane signs differ.

    Plan shape at scale: clustering is one MAP-ONLY corpus pass
    against the packed broadcast centroid row (HOF argmin); the
    candidate join shuffles once on cluster id; within-cluster pairs
    are the quadratic term, bounded in production by choosing K ~ N /
    target-cluster-size (the paper's setup) — SEM_CAP additionally
    drops degenerate clusters the same way BUCKET_CAP guards the LSH
    join.  The decision rule (keep the smallest vec_id per duplicate)
    is deterministic, so the whole pipeline is DuckDB-oracle-exact;
    planted shifted copies (vec_id + 1e6) guarantee the fixture
    actually contains duplicates to find, like sim_ann_lsh_neardup.

    K is DERIVED FROM CORPUS SIZE inside the query (round 8):
    K = max(SEM_MIN_K, floor(N / SEM_TARGET)), computed as a 1-row
    broadcast agg on the Spark side and a kstat CTE in the oracle —
    the paper's production setup, where cluster size (and hence the
    quadratic within-cluster pair term) stays constant as N grows."""
    return semantic_dedup(spark, sf_dir, k=None, cap=SEM_CAP)


def semantic_dedup(
    spark: SparkSession, sf_dir: str, k: int | None, cap: int
) -> DataFrame:
    """Parameterized SemDeDup (see dedup_semantic): `k` is the
    production knob — `None` (the default path) derives it from
    corpus size in-plan so clusters stay target-sized and the
    quadratic within-cluster term stays bounded; an explicit int
    pins it for tests
    (tests/test_pipeline.py::test_semantic_dedup_k_scales proves a
    scaled k keeps every cluster under the cap with recall intact)."""
    from ..operators.similarity import (
        EMB_DIM,
        hof_argmin,
        mean_update,
        pack_cent_arr,
        quantize_arr,
    )

    e = _emb(spark, sf_dir).select("vec_id", "embedding")
    planted = (
        e.filter(F.col("vec_id") % 50 == 0)
        .select((F.col("vec_id") + 1000000).alias("vec_id"), "embedding")
    )
    corpus = e.unionByName(planted).withColumn("qarr", quantize_arr(F.col("embedding")))
    if k is None:
        # derive K = max(SEM_MIN_K, floor(N / SEM_TARGET)) in-plan: one
        # count(*) pass folded to a 1-row broadcast, consumed only by
        # the KB-sized seed selection — the corpus itself never waits
        # on it.  At 100 TB this is one columnar count stage; the
        # alternative (driver-side .count()) would be a collect.
        kdf = corpus.agg(
            F.greatest(
                F.lit(SEM_MIN_K).cast("long"),
                F.floor(F.count(F.lit(1)) / F.lit(SEM_TARGET)).cast("long"),
            ).alias("semk")
        ).localCheckpoint(eager=False)
        seed_pred = F.col("vec_id") < F.col("semk")
        seeds = corpus.crossJoin(F.broadcast(kdf)).filter(seed_pred)
    else:
        seeds = corpus.filter(F.col("vec_id") < k)
    # seed centroids = the first K vectors' integer arrays, packed
    # into ONE broadcast row (operators/similarity.pack_centroids)
    c0 = seeds.agg(
        F.array_sort(
            F.collect_list(
                F.struct(F.col("vec_id").alias("k"), F.col("qarr").alias("cv_arr"))
            )
        ).alias("cents")
    )
    # one Lloyd iteration: map-only HOF assignment against the broadcast
    # seed row, then ONE groupBy(cluster) agg with dim sum buffers for
    # the per-dim means (round-5 fold of the posexplode form — no
    # per-coordinate rows anywhere; same integer arithmetic)
    assign0 = corpus.crossJoin(F.broadcast(c0)).select(
        "vec_id", "qarr", hof_argmin(F.col("qarr"), F.col("cents")).alias("cluster")
    )
    c1 = pack_cent_arr(
        mean_update(assign0, "cluster", "qarr", EMB_DIM), key="cluster"
    ).localCheckpoint(eager=False)
    # final assignment: again map-only — the corpus never shuffles for
    # cluster membership (the r4 rewrite of the exploded-join form:
    # measured 6.2 -> see BASELINE; at 100 TB this is the difference
    # between a map-only encode pass and a 64x-inflated shuffle)
    base0 = corpus.crossJoin(F.broadcast(c1)).select(
        "vec_id",
        hof_argmin(F.col("qarr"), F.col("cents")).alias("cluster"),
        "embedding",
        qdot(F.col("embedding"), F.col("embedding")).alias("nq"),
    )
    # window-carried size guard: one exchange on cluster that the
    # per-cluster pair kernel reuses (same pattern/rationale as
    # sim_ann_lsh_neardup)
    w = Window.partitionBy("cluster")
    base = (
        base0.withColumn("cn", F.count(F.lit(1)).over(w))
        .filter(F.col("cn") <= cap)
        .drop("cn")
    )
    return _sem_pair_reduce_numpy(base)


def _sem_pair_reduce_numpy(base: DataFrame) -> DataFrame:
    """SemDeDup's pair scan: the within-cluster pair rule, quantized
    cosine and per-dup reduction of the oracle's self-join (pairs
    ``a.cluster = b.cluster AND a.vec_id < b.vec_id``, then
    ``GROUP BY dup``) as ONE vectorized Arrow/numpy kernel per cluster
    group.

    Every decision is cluster-local — pairs exist only within a
    cluster, and a dup's group (its keeper-side rows) lives entirely in
    its own cluster — so the whole thing is
    groupBy(cluster).applyInPandas: one exchange on cluster (shared
    with the size-guard window), rows cross to Python once as Arrow
    batches (|corpus| x 64 floats, a few MB), and the O(n^2 * dim) pair
    math runs as C-loop numpy.  A JVM self-join would evaluate each
    pair's cosine as an INTERPRETED zip_with+aggregate (higher-order
    functions don't whole-stage-codegen) behind three exchanges: ~3.1 s
    task CPU at sf0.1.

    Pairs qualify on ``ids[i] < ids[j]``, not on sorted position, so a
    vec_id repeated within a cluster never pairs with itself, and its
    copies reduce to ONE output row, exactly as the oracle's
    ``GROUP BY dup`` does.

    Bit-exactness with the DuckDB oracle (same argument as
    operators/similarity.qdot): float32 embeddings widen to float64
    exactly; x*y is exact in double (24-bit mantissas); (x*y)*1e9
    rounds once, identically, in the JVM and in numpy; floor and the
    int64 sum of 64 terms <= 6.4e10 are exact; the cosine is the same
    IEEE op sequence (D/1e9, then / (sqrt(na/1e9)*sqrt(nb/1e9))).
    Spark treats NaN as larger than any number in `>=`, so the
    qualifying mask keeps NaN cosines (zero-norm degenerate vectors) —
    mirrored with an explicit isnan term.  Verified hash-exact vs the
    DuckDB oracle at sf0.001/sf0.01/sf0.1.

    Scale posture: cluster sizes are bounded (K ~ N / SEM_TARGET keeps
    clusters near-constant-size as N grows; SEM_CAP hard-caps the
    degenerate ones), so per-group memory is bounded; the chunked loop
    additionally bounds the (chunk x n x dim) product tensor at ~32 MB
    regardless of cap."""
    _t = SEM_T  # capture for the serialized closure

    def _kern(pdf: "pd.DataFrame") -> "pd.DataFrame":
        import numpy as np
        import pandas as pd

        n = len(pdf)
        empty = {
            "dropped_vec_id": np.empty(0, np.int64),
            "kept_vec_id": np.empty(0, np.int64),
            "max_cosine": np.empty(0, np.float64),
        }
        if n < 2:
            return pd.DataFrame(empty)
        ids_raw = pdf["vec_id"].to_numpy(np.int64)
        order = np.argsort(ids_raw, kind="stable")
        ids = ids_raw[order]
        emb = pdf["embedding"].to_numpy()[order]
        e_mat = np.stack([np.asarray(e, dtype=np.float64) for e in emb])
        nq = pdf["nq"].to_numpy(np.int64)[order]
        s = 1e9  # QSCALE as double, same literal as cosine_from_q
        den = np.sqrt(nq / s)
        cos = np.empty((n, n), np.float64)
        # chunk rows so the (chunk, n, dim) product tensor stays ~32 MB
        step = max(1, (1 << 22) // (n * e_mat.shape[1]))
        with np.errstate(invalid="ignore", divide="ignore"):
            for i0 in range(0, n, step):
                i1 = min(n, i0 + step)
                prods = e_mat[i0:i1, None, :] * e_mat[None, :, :]
                d = np.floor(prods * s).astype(np.int64).sum(axis=2)
                cos[i0:i1] = (d / s) / (den[i0:i1, None] * den[None, :])
            qual = (cos >= _t) | np.isnan(cos)  # Spark: NaN >= x is true
        qual &= ids[:, None] < ids[None, :]  # pair rule: keeper id < dup id
        # one column per distinct dup id (equal ids are adjacent once sorted)
        starts = np.flatnonzero(np.r_[True, ids[1:] != ids[:-1]])
        qual_u = np.logical_or.reduceat(qual, starts, axis=1)
        cos_u = np.maximum.reduceat(np.where(qual, cos, -np.inf), starts, axis=1)
        js = np.nonzero(qual_u.any(axis=0))[0]
        if js.size == 0:
            return pd.DataFrame(empty)
        sub = qual_u[:, js]
        first_i = sub.argmax(axis=0)  # min qualifying row = min keeper vec_id
        return pd.DataFrame(
            {
                "dropped_vec_id": ids[starts[js]],
                "kept_vec_id": ids[first_i],
                "max_cosine": cos_u[:, js].max(axis=0),
            }
        )

    return base.select("cluster", "vec_id", "embedding", "nq").groupBy(
        "cluster"
    ).applyInPandas(
        _kern, "dropped_vec_id long, kept_vec_id long, max_cosine double"
    )
