"""Sources & sinks (SURVEY §2.1).

Reference surface: TableScanOperator.java:51 / TableWriterOperator.java:78
/ TableFinishOperator.java:68 (commit) / DeleteOperator.java:40 /
DevNullOperator.java (blackhole) plus the Hive connector's storage
formats (HiveStorageFormat.java:49-106: ORC, PARQUET, AVRO, JSON,
TEXTFILE, CSV, ...).

Spark-first mapping: every format is a DataSource V2 `spark.read.format`
/ `df.write.format`; the commit protocol (TableWriterMergeOperator +
TableFinishOperator) is Spark's FileCommitProtocol; DELETE without a
transactional table format is the partition-overwrite rewrite (Presto's
MetadataDeleteOperator is the same idea: drop whole partitions, else
rewrite).  At 100 TB writes scale by partitioning: `partition_by` maps
to hive-style directory partitioning (partition pruning on read),
AQE coalesces write tasks (ScaledWriterRule analogue).
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame, SparkSession

__all__ = [
    "FORMATS",
    "read_table",
    "write_table",
    "blackhole",
    "preclean_managed_table",
    "create_table_as",
    "create_bucketed_table",
    "insert_into",
    "insert_overwrite_partitions",
    "delete_where",
    "values_table",
]

# format name -> (reader options, writer options)
FORMATS: dict[str, tuple[dict[str, str], dict[str, str]]] = {
    "parquet": ({}, {}),
    "orc": ({}, {}),
    "json": ({}, {}),
    "csv": ({"header": "true", "inferSchema": "true"}, {"header": "true"}),
    "text": ({}, {}),
}


def read_table(
    spark: SparkSession,
    path: str,
    fmt: str = "parquet",
    schema: str | None = None,
    **options: str,
) -> DataFrame:
    """Scan `path` as `fmt` — ConnectorPageSource ≈ DataSource read.

    Passing an explicit `schema` skips inference (csv/json): one fewer
    full pass over the data, mandatory at scale.
    """
    opts = dict(FORMATS.get(fmt, ({}, {}))[0])
    opts.update(options)
    reader = spark.read.format(fmt).options(**opts)
    if schema:
        reader = reader.schema(schema)
    return reader.load(path)


def write_table(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "overwrite",
    partition_by: list[str] | None = None,
    **options: str,
) -> None:
    """Write via the Spark commit protocol (TableWriter+TableFinish)."""
    opts = dict(FORMATS.get(fmt, ({}, {}))[1])
    opts.update(options)
    w = df.write.format(fmt).mode(mode).options(**opts)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(path)


def blackhole(df: DataFrame) -> None:
    """DevNullOperator.java:96 — execute the plan, discard the output."""
    df.write.format("noop").mode("overwrite").save()


def preclean_managed_table(spark: SparkSession, name: str) -> None:
    """DROP TABLE IF EXISTS *and* remove any orphaned warehouse directory.

    A killed process can leave the managed location
    ``{warehouse}/{table}`` on disk while the next session's fresh
    in-memory metastore never knew the table — then ``DROP TABLE IF
    EXISTS`` is a no-op (the metastore has nothing to drop) and
    ``saveAsTable`` fails with LOCATION_ALREADY_EXISTS.  Every
    managed-table CTAS in this package routes through here so a dirty
    checkout (or a driver run killed mid-write) can never poison later
    sessions.  Presto's CTAS has the same cleanup obligation in its
    connector metadata (HiveMetadata.beginCreateTable cleans staged
    locations on abort)."""
    import shutil

    spark.sql(f"DROP TABLE IF EXISTS {name}")
    warehouse = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    warehouse = warehouse.removeprefix("file:")
    if "." in name:
        db, tbl = name.rsplit(".", 1)
        loc = os.path.join(warehouse, f"{db.lower()}.db", tbl.lower())
    else:
        loc = os.path.join(warehouse, name.lower())
    shutil.rmtree(loc, ignore_errors=True)


def create_table_as(spark: SparkSession, name: str, df: DataFrame, fmt: str = "parquet") -> None:
    """CTAS into the session warehouse (StatementAnalyzer CTAS path)."""
    preclean_managed_table(spark, name)
    df.write.format(fmt).mode("overwrite").saveAsTable(name)


def create_bucketed_table(
    spark: SparkSession,
    name: str,
    df: DataFrame,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
    fmt: str = "parquet",
) -> None:
    """CTAS with hash bucketing (Presto's bucketed_by/bucket_count table
    property; HiveBucketing.java) — the co-located-join layout.

    Two tables bucketed on their join key with the same bucket count
    join WITHOUT an exchange on either side: the scan itself is the
    distribution (plan shows SelectedBucketsCount and no shuffle).  At
    100 TB this converts every fact-fact join on the bucket key from
    the dominant shuffle into a local merge — the single biggest layout
    lever a pipeline owns.  sort_cols additionally pre-sorts within
    buckets so SortMergeJoin skips its sort.

    The rows reach the writer through an exchange on the bucket
    function, so each bucket has exactly one writer task and one file
    (Presto routes a bucketed TableWriterOperator the same way).
    Spark's datasource bucket id and ``repartition(n, cols)`` are the
    same ``pmod(murmur3(cols), n)``; without the exchange every write
    task would emit one file per bucket it happens to hold.
    """
    preclean_managed_table(spark, name)
    w = (
        df.repartition(n_buckets, *_quoted(bucket_cols))
        .write.format(fmt)
        .mode("overwrite")
        .bucketBy(n_buckets, *bucket_cols)
    )
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.saveAsTable(name)


def _quoted(cols: list[str]) -> list[str]:
    """Backtick-quote column names so ``repartition`` reads each as one
    column, even when it holds a dot, a space or a backtick."""
    return ["`" + c.replace("`", "``") + "`" for c in cols]


def _bucket_spec(spark: SparkSession, name: str) -> tuple[int, list[str]] | None:
    """(Num Buckets, Bucket Columns) of a catalog table, or None when it
    is not bucketed — read from ``DESCRIBE TABLE EXTENDED``."""
    info = {
        r["col_name"]: r["data_type"]
        for r in spark.sql(f"DESCRIBE TABLE EXTENDED {name}").collect()
    }
    if "Num Buckets" not in info:
        return None
    # Bucket Columns renders as [`a`, `b`], with ` inside a name doubled
    cols = [
        c.replace("``", "`")
        for c in re.findall(r"`((?:[^`]|``)*)`", info["Bucket Columns"])
    ]
    return int(info["Num Buckets"]), cols


def insert_into(name: str, df: DataFrame) -> None:
    """INSERT INTO (append semantics — TableWriterOperator append).

    Into a bucketed table the rows are first exchanged on the table's
    own bucket spec, as in ``create_bucketed_table``: each append then
    writes one file per bucket it touches instead of one per (write
    task, bucket) pair, so the table's file count grows with its
    bucket count, not with the appending plan's parallelism."""
    spec = _bucket_spec(df.sparkSession, name)
    if spec is not None:
        n_buckets, cols = spec
        df = df.repartition(n_buckets, *_quoted(cols))
    df.write.insertInto(name, overwrite=False)


def insert_overwrite_partitions(
    df: DataFrame, path: str, partition_by: list[str], fmt: str = "parquet"
) -> None:
    """INSERT OVERWRITE with dynamic partition semantics (Presto's
    ``insert_existing_partitions_behavior=OVERWRITE``; Hive dynamic
    partitioning): only the partitions present in ``df`` are replaced,
    every other partition directory is left untouched.

    This is THE idempotent-backfill primitive at scale — re-running a
    day's pipeline rewrites that day's partitions and nothing else.
    Spark static overwrite mode would truncate the whole table first;
    the per-write ``partitionOverwriteMode=dynamic`` option scopes the
    overwrite to matching partition values."""
    (
        df.write.format(fmt)
        .mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_by)
        .save(path)
    )


def delete_where(spark: SparkSession, path: str, condition: str, fmt: str = "parquet") -> int:
    """DELETE FROM <path> WHERE <condition> on a plain-file table.

    Without a transactional format this is the rewrite pattern (read,
    anti-filter, rewrite) — Presto's row-delete needs connector support
    too (DeleteOperator.java:40); its MetadataDeleteOperator fast path
    corresponds to dropping whole hive partitions.  Production tables use
    Delta/Iceberg where this becomes a native `DELETE FROM`.

    Returns number of rows deleted.  The kept rows are written ONCE to a
    staging dir, then swapped into place with directory renames — the
    original table exists on disk until the staged copy is complete, so
    a failure at any step leaves either the old or the new table intact
    (the non-atomic window is two cheap metadata renames, not a data
    write).  Row counts come from one cached scan, not extra jobs.  At
    scale: rewrite only affected partitions, or use Delta/Iceberg.
    """
    import os
    import shutil

    df = read_table(spark, path, fmt)
    total = df.count()
    keep = df.filter(f"NOT ({condition})")
    tmp = path.rstrip("/") + "._delete_tmp"
    old = path.rstrip("/") + "._delete_old"
    write_table(keep, tmp, fmt)
    kept = read_table(spark, tmp, fmt).count()
    shutil.rmtree(old, ignore_errors=True)
    os.rename(path, old)
    try:
        os.rename(tmp, path)
    except OSError:
        os.rename(old, path)  # roll back: restore the original table
        raise
    shutil.rmtree(old, ignore_errors=True)
    return total - kept


def values_table(spark: SparkSession, rows: list[tuple], schema: str) -> DataFrame:
    """ValuesOperator.java:27 — inline literal table."""
    return spark.createDataFrame(rows, schema=schema)


# ---------------------------------------------------------------------------
# Partition-parallel external-service read (round 4) — the connector
# SHAPE of presto-base-jdbc / presto-elasticsearch: split the source
# into ranges, each task fetches ITS range from the external service,
# nothing flows through the driver.  The transport here is HTTP+JSON
# against whatever endpoint the deployment exposes (tests run a stdlib
# loopback server — the only network this container allows; real JDBC/
# Kafka/ES remain env-blocked and documented).
# ---------------------------------------------------------------------------
def rest_table(
    spark,
    endpoint: str,
    out_schema: str,
    n_rows: int,
    n_partitions: int = 8,
):
    """Read `n_rows` rows from a range-servable REST endpoint with
    `n_partitions` parallel range fetches (?lo=..&hi=.. per task)."""
    import json as _json
    from collections.abc import Iterator

    bounds = spark.range(0, n_rows, 1, n_partitions).selectExpr(
        "min(id) OVER (PARTITION BY spark_partition_id()) AS lo",
        "max(id) OVER (PARTITION BY spark_partition_id()) AS hi",
    ).distinct()

    def fetch(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import urllib.request

        import pandas as pd

        for pdf in batches:
            for lo, hi in zip(pdf["lo"], pdf["hi"]):
                url = f"{endpoint}?lo={int(lo)}&hi={int(hi) + 1}"
                with urllib.request.urlopen(url, timeout=30) as resp:
                    rows = _json.loads(resp.read())["rows"]
                cols = [p.strip().split()[0] for p in out_schema.split(",")]
                yield pd.DataFrame(rows, columns=cols)

    return bounds.mapInPandas(fetch, schema=out_schema)


# ---------------------------------------------------------------------------
# Real JDBC connector (round 5).  The container ships Derby's embedded
# driver on the Spark classpath, so the presto-base-jdbc shape
# (BaseJdbcClient.java: split the table into ranges on an indexed
# column, each worker opens its own connection and fetches its range;
# predicates pushed into the remote query) is demonstrated against a
# REAL JDBC endpoint, not a loopback stand-in: spark.read.jdbc with
# partitionColumn/numPartitions IS that design — Spark generates one
# range-bounded WHERE clause per task, and Catalyst pushes supported
# filters into the remote SQL (plan shows PushedFilters).
# ---------------------------------------------------------------------------
def jdbc_table(
    spark,
    url: str,
    table: str,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int = 8,
    driver: str | None = None,
):
    """Partition-parallel JDBC read (presto-base-jdbc analogue).

    With `partition_column` + bounds, the read issues `num_partitions`
    range queries in parallel — the same split strategy the reference's
    JDBC connectors use.  Without them, a single-partition read."""
    r = (
        spark.read.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
    )
    if driver:
        r = r.option("driver", driver)
    if partition_column is not None:
        r = (
            r.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions))
        )
    return r.load()


def jdbc_write(spark, df, url: str, table: str, driver: str | None = None,
               mode: str = "overwrite", column_types: str | None = None):
    """JDBC TableWriter twin (each partition opens its own connection
    and inserts its rows — no driver funnel).  ``column_types``
    overrides remote DDL types (e.g. ``"label VARCHAR(24)"`` — Spark
    maps StringType to CLOB on Derby, which is neither indexable nor
    IN-comparable)."""
    w = df.write.mode(mode).format("jdbc").option("url", url).option(
        "dbtable", table
    )
    if driver:
        w = w.option("driver", driver)
    if column_types:
        w = w.option("createTableColumnTypes", column_types)
    w.save()


def _sql_literal(v) -> str:
    """Render an index-join probe key as an ANSI SQL literal.

    Strings are quote-doubled, which is only safe on backends that use
    ANSI string escaping (Derby, Postgres, SQL Server).  On backends
    with backslash escapes (MySQL's default sql_mode) a key ending in a
    backslash would break out of the literal, so backslashes and
    control characters are rejected outright rather than risking the
    probe side injecting SQL into the remote WHERE clause."""
    if isinstance(v, bool) or v is None:
        raise ValueError(f"unsupported index-join key literal: {v!r}")
    if isinstance(v, (int, float)):
        return str(v)
    if isinstance(v, str):
        if "\\" in v or any(ord(c) < 0x20 or ord(c) == 0x7F for c in v):
            raise ValueError(
                "index-join string key contains a backslash or control"
                f" character ({v!r}); only ANSI-escaping backends are"
                " supported and such keys cannot be rendered safely —"
                " use a scan-side join (jdbc_table + join) instead"
            )
        return "'" + v.replace("'", "''") + "'"
    raise ValueError(f"unsupported index-join key type: {type(v).__name__}")


def index_join(
    spark,
    probe: DataFrame,
    url: str,
    table: str,
    key: str,
    probe_key: str | None = None,
    driver: str | None = None,
    max_keys: int = 100_000,
    keys_per_lookup: int = 500,
    how: str = "inner",
) -> DataFrame:
    """Index join against a JDBC connector table
    (presto-main/.../operator/index/IndexJoinOperator.java +
    IndexLookupSourceFactory: instead of scanning the whole indexed
    table, Presto drives the join from the probe side and asks the
    connector's INDEX for exactly the probe keys).

    Spark-first shape: the probe side's DISTINCT keys are gathered
    (bounded by ``max_keys`` — index joins are only sensible when the
    probe key set is small relative to the indexed table; past the
    bound a plain scan-and-shuffle join wins and this raises), chunked
    into ``keys_per_lookup``-sized IN-lists, and issued as ONE REMOTE
    QUERY PER SPARK PARTITION via ``spark.read.jdbc(predicates=...)``
    — each executor task runs its own `WHERE key IN (...)` against the
    remote engine, which answers each from its index; no full-table
    fetch exists anywhere in the plan.  The fetched slice (at most
    ``max_keys`` rows) is then broadcast-hash-joined back to the
    probe, so the probe side never shuffles.

    The driver-side key gather is the documented scale bound, not an
    accident: Presto's own index join requires the probe key set to
    fit per-batch index lookups (IndexJoinOperator pages); at 100 TB
    the probe here is a filtered/aggregated small side while the
    INDEXED side may be arbitrarily large — that asymmetry is the
    operator's contract.

    Dialect bound: key identifiers are ANSI double-quoted and string
    literals ANSI quote-doubled, so the remote must be an
    ANSI-quoting/ANSI-escaping backend (Derby, Postgres); MySQL
    backticks / backslash escapes are not supported.  NULL probe keys
    never match the index (SQL null semantics), so they are dropped
    before the key gather; under ``how='left'`` the broadcast join
    still preserves null-key probe rows with null build columns."""
    from pyspark.sql import functions as F

    probe_key = probe_key or key
    keys = [
        r[0]
        for r in probe.select(probe_key)
        .where(F.col(probe_key).isNotNull())
        .distinct()
        .limit(max_keys + 1)
        .collect()
    ]
    if len(keys) > max_keys:
        raise ValueError(
            f"index_join probe exceeds max_keys={max_keys}; use a"
            " scan-side join (jdbc_table + join) for large probes"
        )
    if not keys:
        fetched = jdbc_table(spark, url, table, driver=driver).limit(0)
    else:
        lits = [_sql_literal(k) for k in sorted(keys, key=str)]
        chunks = [
            lits[i : i + keys_per_lookup]
            for i in range(0, len(lits), keys_per_lookup)
        ]
        # ANSI-quote the key: Spark's JDBC writer creates quoted
        # (case-sensitive) column names, and predicates are passed
        # verbatim into the remote WHERE clause
        qkey = '"' + key.replace('"', '""') + '"'
        predicates = [f"{qkey} IN ({', '.join(c)})" for c in chunks]
        props = {"driver": driver} if driver else {}
        fetched = spark.read.jdbc(
            url, table, predicates=predicates, properties=props
        )
    return probe.join(
        F.broadcast(fetched), probe[probe_key] == fetched[key], how
    )
