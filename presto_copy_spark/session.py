"""SparkSession bootstrap tuned for the engine.

The reference engine (Presto, /root/reference) provisions its execution
environment in presto-main's TaskExecutor + memory pools; on Spark all of
that is session configuration.  This module is the single place where the
engine's performance posture is declared:

- AQE on for cluster masters (runtime join-strategy switch, skew-join
  splitting, partition coalescing) — the Spark analogue of Presto's
  ``DetermineJoinDistributionType`` / ``RuntimeReorderJoinSides`` rules.
  On local[...] masters AQE defaults off (its per-stage job
  materialization + re-optimization dominates sub-second runs; see the
  inline note) — ``extra_conf`` or a runtime ``spark.conf.set``
  restores it.
- CBO + join reorder on — analogue of ``ReorderJoins`` /
  ``EliminateCrossJoins`` (needs ANALYZE stats to bite).
- Runtime bloom filters + dynamic partition pruning — analogue of
  Presto's ``DynamicFilterSourceOperator`` dynamic filtering.
- Nested schema pruning — analogue of ``PushdownSubfields``.
- Session timezone pinned to UTC so timestamp semantics are stable and
  match the DuckDB oracle.

Scale note: these settings are cluster-neutral.  ``shuffle_partitions``
defaults small for local test SFs; at 100 TB you'd raise it (or rely on
AQE coalescing from a high initial number, which is why
``spark.sql.adaptive.coalescePartitions.initialPartitionNum`` is wired).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "default_parallelism"]


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", "0") or 0) or (os.cpu_count() or 8)


def get_spark(
    app_name: str = "presto-copy-spark",
    *,
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the tuned SparkSession.

    ``getOrCreate`` semantics: if a session already exists, dynamic confs
    are applied where possible; tests share one JVM.
    """
    cpus = default_parallelism()
    if master is None:
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    is_local = master.startswith("local")
    if shuffle_partitions is None:
        # Size shuffle partitions to the DATA, not the core count
        # (round 10): at the local test SFs a 600k-row shuffle split 32
        # ways is ~20k rows/task — scheduling and task-init overhead
        # dominate, and most reduce tasks of a 4-group aggregation are
        # empty.  8 partitions (~75k rows / tens of MB per task at
        # sf0.1, the standard 64-128MB/partition sizing rule) measured
        # a broad full-bench win: 19.0 s -> 16.6 s total, 20 -> 30 of
        # 97 queries within 2x of DuckDB, with NO query regressing
        # beyond noise.  Non-local masters keep the core-count default
        # and, under AQE, coalesce from a high initial number — at
        # 100 TB you RAISE this (or let AQE pick it) through this
        # parameter.
        shuffle_partitions = 8 if is_local else min(cpus, 32)

    # AQE + runtime bloom filters are unconditional wins on a cluster
    # (runtime re-plan, skew splitting, semi-join reduction) but carry a
    # fixed per-stage price that dominates sub-second local runs: AQE
    # materializes every shuffle stage as its own job and RE-OPTIMIZES
    # the remaining plan between stages (measured: dedup_semantic's
    # large plan tree 2.61 s -> 0.50 s at sf0.1 with AQE off, ml_kmeans
    # 0.92 -> 0.46, 9 jobs -> 3), and bloom-filter injection adds an
    # aggregate subquery per join whose build side here is a few KB
    # (tpch_q09 0.42 -> 0.30).  On local[...] masters both default OFF;
    # any non-local master keeps them ON.  Both are runtime SQL confs:
    # ``extra_conf`` or ``spark.conf.set`` turns them back on locally
    # (tests/test_aqe_parity.py runs the cluster posture that way).
    cluster_posture = str(not is_local).lower()
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- determinism / oracle parity ---
        .config("spark.sql.session.timeZone", "UTC")
        # --- adaptive execution (runtime re-plan ≈ Presto AQE-ish rules) ---
        .config("spark.sql.adaptive.enabled", cluster_posture)
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # --- cost-based optimization (≈ ReorderJoins + stats rules) ---
        .config("spark.sql.cbo.enabled", "true")
        .config("spark.sql.cbo.joinReorder.enabled", "true")
        # --- join strategy: hash over sort-merge (Presto posture) ---
        # Presto's LookupJoinOperator is hash-based; it never sorts to
        # join.  Spark's SMJ default pays an O(n log n) sort per side
        # that a shuffled hash join skips (measured at the sf10x decade:
        # q05 4.64->4.04 s, q18 6.26->5.52, no regressions).  SMJ still
        # kicks in when the hash build can't fit or data is pre-sorted
        # (the bucketed-merge plan test opts back in explicitly).
        .config("spark.sql.join.preferSortMergeJoin", "false")
        # --- runtime filtering (≈ DynamicFilterSourceOperator) ---
        .config("spark.sql.optimizer.runtime.bloomFilter.enabled", cluster_posture)
        .config("spark.sql.optimizer.dynamicPartitionPruning.enabled", "true")
        # --- scan efficiency ---
        .config("spark.sql.optimizer.nestedSchemaPruning.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # --- python<->jvm transfer ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # --- local-mode niceties (harmless on a cluster where overridden) ---
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        # ContextCleaner sweep: without periodic GC, JVM-side shuffle /
        # broadcast blocks stay pinned until a driver full-GC happens to
        # run, which in a long-lived session means unbounded growth.
        .config("spark.cleaner.periodicGC.interval", "1min")
        # Throughput GC for batch work (round 15): this engine is a
        # classic allocation-heavy batch workload (hash aggs,
        # collect_list buffers, exploded shingle rows), where G1's
        # concurrent marking + region bookkeeping costs throughput it
        # only repays in pause-time SLAs we don't have.  Measured on
        # the 10-query heavy subset, 5 interleaved fresh-JVM pairs:
        # ParallelGC won every paired window (totals 5.9/4.4/4.9/4.3/4.9
        # vs G1 7.3/4.6/8.0/5.5/5.5 s) and 8/10 per-query minima, -6%
        # on the sum of minima.  Same recommendation class as the Spark
        # tuning guide's GC section for throughput-bound executors —
        # not a local-mode trick.  Takes effect only at JVM launch
        # (bench/driver/tests all start fresh JVMs through here).  Only
        # the driver JVM is set: local masters run their executors in
        # it, and a cluster keeps its own spark-defaults
        # spark.executor.extraJavaOptions (or passes it in extra_conf).
        .config("spark.driver.extraJavaOptions", "-XX:+UseParallelGC")
        # Generated-class cache sized to the workload (round 15): the
        # bench loop carries 104 distinct queries x several codegen
        # units each; the default 100-entry cache thrashes between
        # queries, so every pass re-Janino-compiles most units.  A few
        # thousand entries holds the whole suite (classes are KB-sized;
        # static conf, read at JVM start).
        .config("spark.sql.codegen.cache.maxEntries", "5000")
    )
    if is_local:
        # Single-host executors: shuffle blocks never cross a network,
        # so spend zero cycles on lz4 and keep the files on tmpfs
        # (measured 12% on the sf1x heavy-join suite).  A cluster
        # deployment overrides master and keeps compression — these are
        # gated on local mode precisely because they'd be wrong there.
        if os.path.isdir("/dev/shm"):
            b = b.config("spark.local.dir", "/dev/shm/spark_local")
        b = (
            b.config("spark.shuffle.compress", "false")
            .config("spark.shuffle.spill.compress", "false")
            # every task is process-local in one JVM; never wait
            .config("spark.locality.wait", "0")
        )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
