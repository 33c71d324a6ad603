"""Persisted prior-corpus dedup index (round 13).

``queries.text.dedup_incremental`` computes the frozen prior corpus's
fingerprints and minhash bands INLINE per run.  Real pipelines don't:
the prior corpus is deduped once per generation, its index is
persisted, and every incoming crawl dump probes it.  This module is
that persistence path, and it exists to make the operator's 100 TB
claim ("the prior side is a bucketed table, not a broadcast, and only
the new snapshot shuffles per dump") a TESTED plan property instead of
a docstring:

- ``persist_prior_index`` writes two bucketed tables (Presto
  bucketed_by/bucket_count, HiveBucketing.java; Spark bucketBy):
  ``{prefix}_fp``    — distinct 60-bit text fingerprints, bucketed +
                       sorted on ``fp``;
  ``{prefix}_bands`` — per-doc minhash band rows carrying the shingle
                       profile, bucketed + sorted on ``band_key``
                       (band index folded into the key so the probe is
                       a single-column equi-join on the bucket column).
  The bucket count is fixed when the index is created, as Presto
  fixes it at table creation; by default it is the creating session's
  ``defaultParallelism``, so every bucketed stage of a probe or an
  append is one full wave over the cores.
- ``dedup_against_prior`` labels a new snapshot against the persisted
  index with the same exact-then-near pipeline as the inline operator
  (bit-identical output, proven in tests/test_pipeline.py).  Both
  probe joins hint ``merge``: the bucketed side's layout IS its
  distribution, so the sort-merge join reads it in place
  (SelectedBucketsCount in the scan, zero prior-side exchange) and
  only the new dump pays a shuffle — the test asserts the bucketed
  plan carries strictly fewer exchanges than the identical probe
  against unbucketed tables.
- ``append_to_prior_index`` folds an accepted dump into both tables
  in place.  Every write — the persist and each append — reaches the
  writer through an exchange on the table's bucket function
  (``sources.connectors``), so it lands as at most one file per
  bucket and the index holds O(buckets x generations) files, however
  parallel the writing plan.  Its anti-join guards merge-join each
  increment against its table the same way the probe does, so an
  append reads the index in place and exchanges only the increment,
  once per table.
- ``stream_dedup_against_prior`` is the streaming form of the exact
  stage: a stream-static left-anti join against ``{prefix}_fp``.

Runtime filtering of the probe side is left to the engine (Spark's
dynamic partition pruning and, on cluster masters, its runtime join
filters, both set in ``session.py``), as Presto leaves it to its
``DynamicFilterSourceOperator``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

__all__ = [
    "persist_prior_index",
    "append_to_prior_index",
    "dedup_against_prior",
    "stream_dedup_against_prior",
]


def _band_key_col(prof: DataFrame, n_hashes: int, n_bands: int) -> DataFrame:
    """Explode a minhash profile into (doc_id, n, sh_set, band_key)
    rows; band_key = '<band_idx>:<band_sig>' so bucketing and the probe
    join use ONE column."""
    from .text import spark_band_exprs

    return prof.select(
        "doc_id",
        "n",
        "sh_set",
        F.explode(
            F.array(*[
                F.concat(F.lit(f"{i}:"), e).alias("k")
                for i, e in enumerate(spark_band_exprs(n_hashes, n_bands))
            ])
        ).alias("band_key"),
    )


def persist_prior_index(
    spark: SparkSession,
    prior_docs: DataFrame,
    prefix: str,
    n_buckets: int | None = None,
) -> None:
    """Build the frozen corpus's dedup index once per generation:
    ``{prefix}_fp`` and ``{prefix}_bands``, each written as at most one
    file per bucket.

    ``n_buckets`` defaults to the creating session's
    ``defaultParallelism``.  The bucket count is every later probe's
    and append's task count on the prior side, so one bucket per core
    makes each bucketed stage one full wave: fewer buckets idle cores,
    more buckets run the stage in several waves and write more files
    per append.  Appends follow the count fixed here (the table's own
    spec), so an index built on one host keeps its layout elsewhere.

    A null ``text`` hashes to a null fp, which can never match a probe
    (``fp == pfp``), so the fp table holds no null."""
    # lazy imports: the profile/fingerprint definitions live with the
    # inline operator so the two paths can never drift apart
    from ..queries.text import N_BANDS, N_HASHES, _minhash_profile
    from ..sources.connectors import create_bucketed_table
    from .text import hash60

    if n_buckets is None:
        n_buckets = spark.sparkContext.defaultParallelism
    fp = (
        prior_docs.select(hash60(F.col("text")).alias("fp"))
        .filter(F.col("fp").isNotNull())
        .distinct()
    )
    create_bucketed_table(spark, f"{prefix}_fp", fp, ["fp"], n_buckets, ["fp"])
    bands = _band_key_col(
        _minhash_profile(spark, prior_docs), N_HASHES, N_BANDS
    )
    create_bucketed_table(
        spark, f"{prefix}_bands", bands, ["band_key"], n_buckets, ["band_key"]
    )


def dedup_against_prior(
    spark: SparkSession, new_docs: DataFrame, prefix: str
) -> DataFrame:
    """Label a new crawl snapshot against a persisted prior index.

    Same output contract as ``queries.text.dedup_incremental``:
    (outcome, n_docs, id_sum) with outcome in kept / dropped_exact /
    dropped_near.

    Both stages are merge-joins against the bucketed tables: the exact
    stage joins the dump's fps to ``{prefix}_fp``, and the near stage
    joins the exact-stage survivors' band keys to ``{prefix}_bands``.
    Each prior side is read in place; only the dump is exchanged."""
    from ..queries.text import JACCARD_T, N_BANDS, N_HASHES, _minhash_profile
    from .text import hash60

    pfp = spark.table(f"{prefix}_fp")
    pbands = spark.table(f"{prefix}_bands")

    nf = new_docs.select("doc_id", "text", hash60(F.col("text")).alias("fp"))
    flagged = nf.join(
        pfp.hint("merge").withColumnRenamed("fp", "pfp"),
        F.col("fp") == F.col("pfp"),
        "left",
    ).select("doc_id", "text", F.col("pfp").isNotNull().alias("is_exact"))
    survivors = flagged.filter(~F.col("is_exact")).select("doc_id", "text")

    bn = _band_key_col(
        _minhash_profile(spark, survivors), N_HASHES, N_BANDS
    ).alias("bn")
    bp = pbands.alias("bp")
    inter = F.size(F.array_intersect(F.col("bn.sh_set"), F.col("bp.sh_set")))
    j = inter.cast("double") / (F.col("bn.n") + F.col("bp.n") - inter)
    near_ids = (
        bn.join(bp.hint("merge"), F.col("bn.band_key") == F.col("bp.band_key"))
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


def stream_dedup_against_prior(
    new_stream: DataFrame, spark: SparkSession, prefix: str
) -> DataFrame:
    """Streaming ingest form of the exact stage: an arriving crawl dump
    (readStream of (doc_id, text) files) is deduped against the FROZEN
    persisted index via a STREAM-STATIC left-anti join — Structured
    Streaming executes the static side as an ordinary batch relation
    per micro-batch, so the bucketed fp table is probed in place and
    only the micro-batch's rows are hashed.  This is the continuous
    version of ``dedup_against_prior``'s stage 1: at 100 TB the prior
    index refreshes once per corpus generation while dumps stream in
    (near-dup banding stays in the per-dump batch pass — a streaming
    band probe would need watermarked aggregation state for no
    benefit, since band verification is dump-local anyway)."""
    from .text import hash60

    pfp = spark.table(f"{prefix}_fp")
    return (
        new_stream.withColumn("fp", hash60(F.col("text")))
        .join(pfp, "fp", "left_anti")
        .drop("fp")
    )


def append_to_prior_index(
    spark: SparkSession, accepted_docs: DataFrame, prefix: str
) -> None:
    """Fold a newly-ACCEPTED dump into the persisted prior index
    WITHOUT rebuilding it — the corpus-generation maintenance op a real
    pipeline runs after each dump is deduped and kept.

    Both increments go through ``sources.connectors.insert_into``,
    which exchanges them on the table's own bucket spec before
    ``insertInto``: each append writes at most one file per bucket per
    table, and the rows land in the same layout the probe merge-joins
    against (a post-append probe still reads in place —
    SelectedBucketsCount).  Only the dump-sized increment is hashed
    and written, never the existing index.  BOTH increments anti-join
    the existing table — fp on fp, bands on (doc_id, band_key) — so a
    RETRY after a partial failure converges to exactly the
    fresh-rebuild state instead of double-inserting band rows (output
    would survive thanks to the probe's distinct(), but probe cost
    would silently inflate).

    Each guard is a ``merge`` anti-join on the table's bucket column,
    so the index is read in place (bucketed scan, no exchange, no
    broadcast) and only the increment is exchanged, once, onto the
    table's bucket function.  The fp increment's ``distinct()`` runs
    after the anti-join on that same exchange, and ``insert_into``'s
    repartition is then a no-op.  The bands guard joins on
    ``band_key`` alone and checks ``doc_id`` as a residual condition:
    a second equi-key would make Spark
    (``spark.sql.requireAllClusterKeysForCoPartition``) shuffle the
    whole bands table.  Null fps are dropped, as in the persist: null
    never matches in the anti-join, so a null would otherwise re-enter
    the table on every append and every retry.

    Insert order is bands first, fp LAST: fp is the increment's own
    anti-join guard, so committing it last means a crash anywhere
    mid-append leaves the fp rows absent and the retry redoes the whole
    dump, with the bands anti-join absorbing whatever landed.  The
    index has no derived state beyond these two tables, so nothing
    else must be invalidated or rebuilt when an append lands."""
    from ..queries.text import N_BANDS, N_HASHES, _minhash_profile
    from ..sources.connectors import insert_into
    from .text import hash60

    fp_inc = (
        accepted_docs.select(hash60(F.col("text")).alias("fp"))
        .filter(F.col("fp").isNotNull())
        .join(spark.table(f"{prefix}_fp").hint("merge"), "fp", "left_anti")
        .distinct()
    )
    bn = _band_key_col(
        _minhash_profile(spark, accepted_docs), N_HASHES, N_BANDS
    ).alias("bn")
    bp = spark.table(f"{prefix}_bands").select("doc_id", "band_key").alias("bp")
    # doc_id equality as xor == 0: null on either side never matches
    # (as with ==), it cannot overflow under ANSI mode, and it reads
    # both sides, so Spark keeps it out of the equi-keys
    same_doc = F.col("bn.doc_id").bitwiseXOR(F.col("bp.doc_id")) == 0
    bands_inc = bn.join(
        bp.hint("merge"),
        (F.col("bn.band_key") == F.col("bp.band_key")) & same_doc,
        "left_anti",
    )
    insert_into(f"{prefix}_bands", bands_inc)
    insert_into(f"{prefix}_fp", fp_inc)
