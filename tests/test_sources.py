"""Sources/sinks round-trips (SURVEY §2.1) + streaming parity +
multimodal plumbing unit tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from presto_copy_spark.catalog import load_table
from presto_copy_spark.sources.connectors import (
    FORMATS,
    blackhole,
    delete_where,
    read_table,
    values_table,
    write_table,
)

from .conftest import rows_of


@pytest.mark.parametrize("fmt", ["parquet", "orc", "json", "csv"])
def test_write_read_roundtrip(spark, sf_dir, tmp_path, fmt):
    src = load_table(spark, sf_dir, "nation")
    path = str(tmp_path / f"nation_{fmt}")
    write_table(src, path, fmt)
    back = read_table(spark, path, fmt)
    assert rows_of(back) == rows_of(src)


def test_partitioned_write_prunes(spark, sf_dir, tmp_path):
    """Hive-style partition layout + partition pruning on read."""
    src = load_table(spark, sf_dir, "nation")
    path = str(tmp_path / "nation_part")
    write_table(src, path, partition_by=["n_regionkey"])
    back = read_table(spark, path).filter(F.col("n_regionkey") == 1)
    plan = back.queryExecution().executedPlan().toString() if False else back._jdf.queryExecution().executedPlan().toString()
    assert back.count() == src.filter("n_regionkey = 1").count()
    # partition filter must reach the scan (PartitionFilters), not a post-filter
    assert "PartitionFilters: [" in plan and "n_regionkey" in plan.split("PartitionFilters")[1][:120]


def test_text_format_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([("alpha",), ("beta",)], "value string")
    path = str(tmp_path / "t_text")
    write_table(df, path, "text")
    back = read_table(spark, path, "text")
    assert sorted(r.value for r in back.collect()) == ["alpha", "beta"]


def test_blackhole_executes(spark, sf_dir):
    blackhole(load_table(spark, sf_dir, "region"))


def test_values_table(spark):
    df = values_table(spark, [(1, "a"), (2, "b")], "id long, name string")
    assert df.count() == 2


def test_delete_where(spark, sf_dir, tmp_path):
    src = load_table(spark, sf_dir, "nation")
    path = str(tmp_path / "nation_del")
    write_table(src, path)
    n_before = src.count()
    n_del = delete_where(spark, path, "n_regionkey = 0")
    back = read_table(spark, path)
    assert n_del == src.filter("n_regionkey = 0").count()
    assert back.count() == n_before - n_del
    assert back.filter("n_regionkey = 0").count() == 0


def test_csv_explicit_schema_skips_inference(spark, sf_dir, tmp_path):
    src = load_table(spark, sf_dir, "region")
    path = str(tmp_path / "region_csv")
    write_table(src, path, "csv")
    back = read_table(spark, path, "csv", schema="r_regionkey int, r_name string")
    assert back.schema.simpleString() == "struct<r_regionkey:int,r_name:string>"
    assert back.count() == src.count()


# ---- streaming parity ------------------------------------------------------
def test_streaming_tumbling_matches_batch(spark, sf_dir):
    from presto_copy_spark.queries.events import events_tumbling
    from presto_copy_spark.streaming.jobs import run_stream_to_batch, stream_events, tumbling_agg

    stream = run_stream_to_batch(tumbling_agg(stream_events(spark, sf_dir))).select(
        "window_start", "window_end", "event_type", "n_events", "sum_value_cents"
    )
    batch = events_tumbling(spark, sf_dir).select(
        "window_start", "window_end", "event_type", "n_events", "sum_value_cents"
    )
    assert rows_of(stream) == rows_of(batch)


def test_update_mode_multibatch_merge(spark, sf_dir, tmp_path):
    """Update-mode streams must keep keys NOT re-emitted in the final
    batch: 4 input files x maxFilesPerTrigger=1 forces 4 micro-batches,
    where each batch emits only the groups it changed (the old
    overwrite-per-batch sink silently dropped the rest)."""
    from presto_copy_spark.streaming.jobs import run_stream_to_batch

    ev = load_table(spark, sf_dir, "events").select("user_id", "value")
    src = str(tmp_path / "ev_multi")
    ev.repartition(4).write.parquet(src)
    sdf = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    out = run_stream_to_batch(sdf, mode="update", keys=["user_id"])
    batch = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
    assert rows_of(out) == rows_of(batch)


# ---- multimodal plumbing ---------------------------------------------------
def test_multimodal_feature_shape(spark, sf_dir):
    from presto_copy_spark.operators.multimodal import (
        FEATURE_DIM,
        blob_table_from_documents,
        extract_features,
    )

    m = blob_table_from_documents(spark, sf_dir)
    f = extract_features(m)
    rows = f.limit(5).collect()
    assert rows and all(len(r.feature) == FEATURE_DIM for r in rows)
    assert all(-1.0 <= v < 1.0 for r in rows for v in r.feature)
    # determinism across executions (stable fake embedding)
    again = {r.media_id: r.feature for r in extract_features(m).limit(5).collect()}
    for r in rows:
        assert again[r.media_id] == r.feature


def test_multimodal_decode_is_stubbed():
    from presto_copy_spark.operators.multimodal import decode_image

    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG fake")


def test_insert_overwrite_partitions_dynamic(spark, sf_dir, tmp_path):
    """Dynamic partition overwrite: rewriting one region's partition
    must leave every other partition byte-identical (the idempotent
    backfill primitive; Presto insert_existing_partitions_behavior)."""
    from pyspark.sql import functions as F

    from presto_copy_spark.catalog import load_table
    from presto_copy_spark.sources.connectors import (
        insert_overwrite_partitions,
        write_table,
    )

    nation = load_table(spark, sf_dir, "nation")
    path = str(tmp_path / "nation_dyn")
    write_table(nation, path, partition_by=["n_regionkey"])

    # backfill region 2 with modified rows (names upper-suffixed)
    patch = (
        nation.filter("n_regionkey = 2")
        .withColumn("n_name", F.concat(F.col("n_name"), F.lit("_V2")))
    )
    insert_overwrite_partitions(patch, path, ["n_regionkey"])

    out = spark.read.parquet(path)
    # region 2 fully replaced
    assert all(
        r["n_name"].endswith("_V2") for r in out.filter("n_regionkey = 2").collect()
    )
    # all other regions untouched, same total row count
    assert out.count() == nation.count()
    before = sorted(
        map(tuple, nation.filter("n_regionkey <> 2").select("n_nationkey", "n_name").collect())
    )
    after = sorted(
        map(tuple, out.filter("n_regionkey <> 2").select("n_nationkey", "n_name").collect())
    )
    assert before == after


def test_avro_round_trip_and_conformance(spark, tmp_path):
    """Avro source/sink via the pure-Python spec codec
    (sources/avro_io.py; HiveStorageFormat.java:49-106 lists AVRO).
    Round-trips all supported primitive types + nulls, and validates
    BYTE-LEVEL conformance by re-reading our files with the JVM Avro
    library that ships on Spark's classpath."""
    from presto_copy_spark.sources.avro_io import read_avro, write_avro

    df = spark.createDataFrame(
        [
            (1, 2**40, 1.5, 2.25, "héllo", True, bytearray(b"\x00\xff")),
            (2, None, None, -1.0, None, None, None),
        ],
        "i int, l long, f float, d double, s string, b boolean, raw binary",
    )
    p = str(tmp_path / "rt")
    manifest = write_avro(df, p).collect()
    assert sum(r.n_rows for r in manifest) == 2
    back = read_avro(spark, p)
    assert back.exceptAll(df).count() == 0 and df.exceptAll(back).count() == 0

    # conformance: the reference JVM implementation must read our bytes
    jvm = spark.sparkContext._jvm
    n = 0
    for r in manifest:
        rd = jvm.org.apache.avro.file.DataFileReader(
            jvm.java.io.File(r.file), jvm.org.apache.avro.generic.GenericDatumReader()
        )
        while rd.hasNext():
            rd.next()
            n += 1
        rd.close()
    assert n == 2


def test_avro_reads_jvm_written_deflate(spark, tmp_path):
    """Our decoder reads files produced by the reference JVM writer
    with the deflate codec (zlib-raw blocks per the spec)."""
    from presto_copy_spark.sources.avro_io import read_avro

    jvm = spark.sparkContext._jvm
    schema = jvm.org.apache.avro.Schema.Parser().parse(
        '{"type":"record","name":"r","fields":['
        '{"name":"k","type":"long"},{"name":"v","type":["null","string"]}]}'
    )
    w = jvm.org.apache.avro.file.DataFileWriter(
        jvm.org.apache.avro.generic.GenericDatumWriter(schema)
    )
    w.setCodec(jvm.org.apache.avro.file.CodecFactory.deflateCodec(6))
    f = str(tmp_path / "j.avro")
    w.create(schema, jvm.java.io.File(f))
    for i in range(100):
        rec = jvm.org.apache.avro.generic.GenericData.Record(schema)
        rec.put("k", i)
        rec.put("v", None if i % 10 == 0 else f"val{i}")
        w.append(rec)
    w.close()
    got = read_avro(spark, f)
    rows = got.orderBy("k").collect()
    assert len(rows) == 100
    assert rows[0].v is None and rows[1].v == "val1" and rows[99].k == 99


def test_avro_rejects_nested_schema(spark, tmp_path):
    from presto_copy_spark.sources.avro_io import write_avro

    df = spark.range(1).selectExpr("struct(id) s")
    try:
        write_avro(df, str(tmp_path / "x"))
        raise AssertionError("expected ValueError")
    except ValueError as e:
        assert "flat relational" in str(e)


def test_rest_table_partition_parallel_reads(spark):
    """External-service connector shape: every task fetches its own row
    range from a loopback REST server — the driver never proxies data,
    and the union of the range fetches is exactly the table."""
    import json
    import threading
    from http.server import BaseHTTPRequestHandler, HTTPServer
    from urllib.parse import parse_qs, urlparse

    from presto_copy_spark.sources.connectors import rest_table

    seen_ranges = []

    class Handler(BaseHTTPRequestHandler):
        def do_GET(self):
            q = parse_qs(urlparse(self.path).query)
            lo, hi = int(q["lo"][0]), int(q["hi"][0])
            seen_ranges.append((lo, hi))
            rows = [[i, f"row{i}"] for i in range(lo, hi)]
            out = json.dumps({"rows": rows}).encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(out)))
            self.end_headers()
            self.wfile.write(out)

        def log_message(self, *a):
            pass

    srv = HTTPServer(("127.0.0.1", 0), Handler)
    port = srv.server_address[1]
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    try:
        df = rest_table(
            spark,
            f"http://127.0.0.1:{port}/",
            "id long, name string",
            n_rows=100,
            n_partitions=5,
        )
        rows = {r.id: r.name for r in df.collect()}
        assert rows == {i: f"row{i}" for i in range(100)}
        assert len(seen_ranges) == 5  # one fetch per partition
        covered = sorted((lo, hi) for lo, hi in seen_ranges)
        assert covered[0][0] == 0 and covered[-1][1] == 100
    finally:
        srv.shutdown()
        srv.server_close()


def test_jdbc_derby_roundtrip_partitioned(spark, tmp_path):
    """REAL JDBC endpoint (Derby embedded, shipped on the Spark
    classpath): write a table over JDBC, read it back with an 8-way
    range-partitioned scan, and verify Catalyst pushes filters into
    the remote query (presto-base-jdbc BaseJdbcClient.java shape)."""
    from presto_copy_spark.sources.connectors import jdbc_table, jdbc_write

    url = f"jdbc:derby:{tmp_path}/derbydb;create=true"
    drv = "org.apache.derby.jdbc.EmbeddedDriver"
    src = spark.range(0, 500).selectExpr(
        "id", "id * 3 AS v", "CAST(concat('n', id) AS VARCHAR(24)) AS name"
    )
    jdbc_write(spark, src, url, "jt", driver=drv)
    back = jdbc_table(
        spark, url, "jt",
        partition_column="id", lower_bound=0, upper_bound=500,
        num_partitions=8, driver=drv,
    )
    assert back.rdd.getNumPartitions() == 8
    assert back.count() == 500
    assert back.selectExpr("CAST(sum(v) AS BIGINT)").collect()[0][0] == 3 * 499 * 500 // 2
    q = back.filter("id < 10")
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan and "LessThan" in plan
    assert q.count() == 10


def test_jdbc_index_join_derby(spark, tmp_path):
    """IndexJoin analogue (IndexJoinOperator.java) against a REAL
    indexed Derby table: the probe's distinct keys are pushed as
    chunked IN-list remote queries (one per Spark partition — each an
    index lookup on the remote engine, never a full-table fetch) and
    the fetched slice is broadcast-joined back.  Checks row-for-row
    agreement with a plain scan-side join, the empty-probe path, the
    string-key quoting path, and the documented max_keys bound."""
    import pytest

    from presto_copy_spark.sources.connectors import (
        index_join,
        jdbc_table,
        jdbc_write,
    )

    url = f"jdbc:derby:{tmp_path}/idxdb;create=true"
    drv = "org.apache.derby.jdbc.EmbeddedDriver"
    dim = spark.range(0, 10_000).selectExpr(
        "id AS k", "id * 7 AS payload",
        "concat('name''', id) AS label",
    )
    # VARCHAR override: Spark maps StringType -> CLOB on Derby, which
    # is neither indexable nor IN-comparable
    jdbc_write(
        spark, dim, url, "dim", driver=drv, column_types="label VARCHAR(24)"
    )
    # real index on the lookup key, created over the same embedded JVM
    jvm = spark._sc._jvm
    conn = jvm.java.sql.DriverManager.getConnection(url)
    try:
        # Spark's JDBC writer leaves the TABLE name unquoted (Derby
        # folds it to DIM) but quotes COLUMN names (case-sensitive
        # lowercase), so the DDL quotes only the column
        conn.createStatement().execute('CREATE INDEX dim_k ON dim ("k")')
    finally:
        conn.close()

    probe = spark.createDataFrame(
        [(i * 97, f"p{i}") for i in range(40)] + [(3, "dup"), (3, "dup2")],
        "pk long, tag string",
    )
    out = index_join(
        spark, probe, url, "dim", key="k", probe_key="pk",
        driver=drv, keys_per_lookup=10,
    )
    # reference: plain scan-side join over the full JDBC table
    full = jdbc_table(spark, url, "dim", driver=drv)
    ref = probe.join(full, probe.pk == full.k, "inner")
    got = sorted((r.pk, r.tag, r.payload, r.label) for r in out.collect())
    want = sorted((r.pk, r.tag, r.payload, r.label) for r in ref.collect())
    assert got == want and len(got) >= 40  # dup probe keys both join

    # string keys (with an embedded quote) go through literal escaping
    sprobe = spark.createDataFrame([("name'5",), ("name'6",)], "lbl string")
    sout = index_join(
        spark, sprobe, url, "dim", key="label", probe_key="lbl", driver=drv
    )
    assert sorted(r.k for r in sout.collect()) == [5, 6]

    # empty probe -> empty result, no remote IN-list issued
    empty = index_join(
        spark, probe.filter("pk < 0"), url, "dim", key="k",
        probe_key="pk", driver=drv,
    )
    assert empty.count() == 0

    # past the documented bound the operator refuses (scan join wins)
    with pytest.raises(ValueError, match="max_keys"):
        index_join(
            spark, spark.range(0, 50).selectExpr("id AS pk"),
            url, "dim", key="k", probe_key="pk", driver=drv, max_keys=10,
        )

    # NULL probe keys: dropped from the key gather (SQL null never
    # matches an index lookup) — inner join drops the row, left join
    # preserves it with null build columns
    nprobe = spark.createDataFrame(
        [(3, "hit"), (None, "nullkey")], "pk long, tag string"
    )
    ninner = index_join(
        spark, nprobe, url, "dim", key="k", probe_key="pk", driver=drv
    )
    assert sorted(r.tag for r in ninner.collect()) == ["hit"]
    nleft = index_join(
        spark, nprobe, url, "dim", key="k", probe_key="pk",
        driver=drv, how="left",
    )
    rows = {(r.tag, r.payload) for r in nleft.collect()}
    assert ("nullkey", None) in rows and ("hit", 21) in rows

    # backslash / control-char string keys cannot be rendered safely as
    # ANSI literals -> typed refusal, nothing reaches the remote engine
    for bad in ("tail\\", "a\\' OR 1=1 --", "ctl\x01"):
        badprobe = spark.createDataFrame([(bad,)], "lbl string")
        with pytest.raises(ValueError, match="backslash or control"):
            index_join(
                spark, badprobe, url, "dim", key="label",
                probe_key="lbl", driver=drv,
            )


def test_saveastable_survives_orphan_warehouse_dir(spark):
    """Round-15 regression (VERDICT r14 Wrong #1): a killed process can
    leave a managed table's warehouse DIRECTORY on disk while the next
    session's fresh in-memory metastore never knew the table.  `DROP
    TABLE IF EXISTS` is then a no-op and a bare `saveAsTable` dies with
    LOCATION_ALREADY_EXISTS — poisoning every later run on the dirty
    checkout.  Both CTAS entry points must pre-clean the orphan
    location and succeed."""
    import os
    import shutil

    from presto_copy_spark.sources.connectors import (
        create_bucketed_table,
        create_table_as,
    )

    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    df = spark.range(0, 10).selectExpr("id AS k", "id * 2 AS v")
    try:
        for name in ("t_orphan_plain", "t_orphan_bucketed"):
            # seed the orphan: a directory the metastore knows nothing
            # about, with a stray file so it is non-trivially occupied
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            loc = os.path.join(warehouse, name)
            os.makedirs(loc, exist_ok=True)
            with open(os.path.join(loc, "stray-part-00000"), "w") as f:
                f.write("orphaned by a killed process")

        create_table_as(spark, "t_orphan_plain", df)
        assert spark.table("t_orphan_plain").count() == 10

        create_bucketed_table(
            spark, "t_orphan_bucketed", df, ["k"], 4, ["k"]
        )
        assert spark.table("t_orphan_bucketed").count() == 10
        # the stray file must be gone, not absorbed into the table scan
        files = os.listdir(os.path.join(warehouse, "t_orphan_bucketed"))
        assert not any("stray" in f for f in files), files
    finally:
        for name in ("t_orphan_plain", "t_orphan_bucketed"):
            spark.sql(f"DROP TABLE IF EXISTS {name}")
            shutil.rmtree(os.path.join(warehouse, name), ignore_errors=True)


def test_insert_into_follows_the_table_bucket_spec(spark):
    """insert_into reads a bucketed table's spec (``_bucket_spec``, from
    DESCRIBE TABLE EXTENDED) and exchanges the append on it: an append
    from 8 write tasks lands as at most one file per bucket, and the
    table still self-joins on both bucket columns with no Exchange —
    including when a bucket column's name holds a dot and backticks, so
    it must be quoted.  Into an unbucketed table the rows land as
    given."""
    from presto_copy_spark.plans.inspect import plan_string
    from presto_copy_spark.sources.connectors import (
        create_bucketed_table,
        create_table_as,
        insert_into,
    )

    odd = "grp.`key`"
    quoted = "`grp.``key```"
    rows = spark.range(0, 40).selectExpr(
        "id AS k", f"CAST(id % 5 AS string) AS {quoted}", "id * 2 AS v"
    )
    more = rows.selectExpr("k + 100 AS k", quoted, "v").repartition(8)
    try:
        create_bucketed_table(spark, "t_ins_bucketed", rows, ["k", odd], 4)
        before = set(spark.table("t_ins_bucketed").inputFiles())
        insert_into("t_ins_bucketed", more)
        t = spark.table("t_ins_bucketed")
        assert len(set(t.inputFiles()) - before) <= 4
        assert t.count() == 80
        a, b = t.alias("a"), t.alias("b")
        self_join = a.hint("merge").join(
            b,
            (F.col("a.k") == F.col("b.k"))
            & (F.col(f"a.{quoted}") == F.col(f"b.{quoted}")),
        )
        plan = plan_string(self_join, "simple")
        assert "SelectedBucketsCount" in plan and "Exchange" not in plan, plan
        assert self_join.count() == 80

        create_table_as(spark, "t_ins_plain", rows)
        insert_into("t_ins_plain", more)
        assert sorted(map(tuple, spark.table("t_ins_plain").collect())) == sorted(
            map(tuple, rows.unionByName(more).collect())
        )
    finally:
        for name in ("t_ins_bucketed", "t_ins_plain"):
            spark.sql(f"DROP TABLE IF EXISTS {name}")
