"""Regression tests for the round-2 ADVICE.md findings (advisor review):
json_parse NULL propagation, json_extract_scalar non-scalar -> NULL,
bar(p, 1) degenerate width, render() of system colors via the Column
path, and transpile robustness on degenerate literal color calls;
later findings: PQ LUT positions over a codebook missing a
subquantizer, and the bench's final-line length guard.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def _one(spark, expr_sql: str):
    return spark.sql(f"SELECT {expr_sql} AS v").collect()[0].v


def test_json_parse_null_propagates(spark):
    # Reference JsonFunctions.json_parse is @SqlNullable: NULL -> NULL,
    # not raise_error (ADVICE item 1).
    assert _one(spark, "json_parse(CAST(NULL AS STRING))") is None
    # Valid and invalid inputs keep their behavior.
    assert _one(spark, "json_parse('{\"a\": 1}')") == '{"a": 1}'
    nullable = spark.createDataFrame(
        [('{"a":1}',), (None,), ("[1,2]",)], "j string"
    )
    vals = [r.v for r in nullable.select(F.expr("json_parse(j)").alias("v")).collect()]
    assert vals == ['{"a":1}', None, "[1,2]"]


def test_json_extract_scalar_non_scalar_is_null(spark):
    # Presto returns NULL when the JsonPath resolves to an object/array
    # (ADVICE item 3); get_json_object would return serialized JSON.
    j = '{"a": {"b": 1}, "arr": [1,2], "s": "x", "n": 7}'
    assert _one(spark, f"json_extract_scalar('{j}', '$.a')") is None
    assert _one(spark, f"json_extract_scalar('{j}', '$.arr')") is None
    assert _one(spark, f"json_extract_scalar('{j}', '$.s')") == "x"
    assert _one(spark, f"json_extract_scalar('{j}', '$.n')") == "7"
    assert _one(spark, f"json_extract_scalar('{j}', '$.missing')") is None


def test_bar_width_one_matches_java_nan_path():
    # bar(p, 1): fraction = 0/0 = NaN in Java; Color.HSBtoRGB(NaN,..)
    # yields black (ANSI cube index 16).  Python must not raise
    # (ADVICE item 2).
    from presto_copy_spark.functions.presto import py_bar

    out = py_bar(1.0, 1)
    assert out.startswith("\x1b[38;5;16m█")
    assert out.endswith("\x1b[0m")
    # count clamps still apply
    assert py_bar(0.0, 1) == "\x1b[0m "


def test_transpile_survives_literal_bar_width_one():
    # One degenerate literal bar(x, 1) must not abort the whole
    # transpile (ZeroDivisionError was uncaught in _fold_color_call).
    from presto_copy_spark.dialect import transpile

    out = transpile("SELECT bar(0.5, 1) AS b, 1 + 1 AS x")
    assert "x" in out  # transpile produced SQL, didn't raise


def test_render_color_column_system_color(spark):
    # render(x, color('red')): color() returns lit(-2) (a Column), which
    # must take toAnsi's negative branch (-c - 1 = ANSI 1), not the RGB
    # cube (ADVICE item 4).
    from presto_copy_spark.functions.presto import color, render_color

    df = spark.range(1).select(
        render_color(F.lit("hot"), color("red")).alias("v")
    )
    assert df.collect()[0].v == "\x1b[38;5;1mhot\x1b[0m"
    # positive RGB colors still use the 6x6x6 cube path
    df2 = spark.range(1).select(
        render_color(F.lit("x"), F.lit(0xFF0000).cast("long")).alias("v")
    )
    assert df2.collect()[0].v == "\x1b[38;5;196mx\x1b[0m"


def test_color_long_hex_is_documented_extension():
    # '#rrggbb' accepted as a deliberate extension; '#rgb' matches the
    # reference's parseRgb exactly (ADVICE item 5).
    from presto_copy_spark.functions.presto import _py_color

    assert _py_color("#ff8800") == 0xFF8800
    assert _py_color("#f80") == 0xFF8800
    assert _py_color("red") == -2


# ---- round-3 ADVICE items ------------------------------------------------


def test_split_to_map_literal_delimiters(spark):
    """SplitToMapFunction.java splits on literal delimiters (indexOf);
    regex-special delimiters like '.', '|', '+' must not be interpreted
    as patterns (ADVICE r3 item 1)."""
    assert _one(spark, "split_to_map('k1.v1|k2.v2', '|', '.')") == {
        "k1": "v1",
        "k2": "v2",
    }
    assert _one(spark, "split_to_map('a+1;b+2', ';', '+')") == {"a": "1", "b": "2"}
    assert _one(spark, "split_to_multimap('a.1|a.2|b.3', '|', '.')") == {
        "a": ["1", "2"],
        "b": ["3"],
    }
    # the plain cases keep working
    assert _one(spark, "split_to_map('a=1,b=2', ',', '=')") == {"a": "1", "b": "2"}


def test_bigram_queries_survive_empty_token_arrays(spark):
    """slice(tok, 1, size-1) throws on a negative length; documents that
    tokenize to [] must not crash the bigram queries (ADVICE r3 item 2).
    Reproduced directly on the guarded expression shape."""
    df = spark.createDataFrame([("",), ("   ",), ("one",), ("a b c",)], "text string")
    from presto_copy_spark.operators.text import tokens

    tok = tokens(F.col("text"))
    n = F.size(tok)
    bigrams = F.zip_with(
        F.slice(tok, 1, F.greatest(n - 1, F.lit(0))),
        F.slice(tok, 2, F.greatest(n - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    rows = df.select(bigrams.alias("b")).collect()
    assert [r.b for r in rows] == [[], [], [], ["a b", "b c"]]


def test_show_stats_empty_table(spark):
    """SHOW STATS over an empty table: zero-row aggregates return NULL;
    the stats surface must report zeros, not TypeError (ADVICE r3 item 3)."""
    from presto_copy_spark.engine import Engine

    eng = Engine(spark)
    spark.createDataFrame([], "a bigint, b string").createOrReplaceTempView(
        "_advice_empty_t"
    )
    rows = eng.sql("SHOW STATS FOR _advice_empty_t").collect()
    row_count = [r for r in rows if r.column_name is None]
    assert len(row_count) == 1 and row_count[0].row_count == 0.0
    per_col = [r for r in rows if r.column_name is not None]
    assert {r.column_name for r in per_col} == {"a", "b"}


def test_join_distribution_reset_restores_session_threshold(spark):
    """SET SESSION join_distribution_type = AUTOMATIC must restore the
    session's own autoBroadcastJoinThreshold, not hard-code the Spark
    default (ADVICE r3 item 4)."""
    from presto_copy_spark.engine import Engine

    eng = Engine(spark)
    key = "spark.sql.autoBroadcastJoinThreshold"
    before = spark.conf.get(key)
    try:
        spark.conf.set(key, "123456789")
        eng.sql("SET SESSION join_distribution_type = 'PARTITIONED'")
        assert spark.conf.get(key) == "-1"
        eng.sql("SET SESSION join_distribution_type = 'AUTOMATIC'")
        # restores the value captured before the first SET (the user's
        # own 123456789), not Spark's hard-coded 10485760 default
        assert spark.conf.get(key) == "123456789"
    finally:
        spark.conf.set(key, before)


def test_is_json_scalar_validates_parse(spark):
    """is_json_scalar('not json') must not return true: the value has to
    actually parse as JSON (ADVICE r3 item 5)."""
    assert _one(spark, "is_json_scalar('123')") is True
    assert _one(spark, "is_json_scalar('\"abc\"')") is True
    assert _one(spark, "is_json_scalar('null')") is True
    assert _one(spark, "is_json_scalar('not json')") is False
    assert _one(spark, "is_json_scalar('[1,2]')") is False
    assert _one(spark, "is_json_scalar('{\"a\":1}')") is False
    assert _one(spark, "is_json_scalar(CAST(NULL AS STRING))") is None


# ---- round-4 ADVICE items ------------------------------------------------


def test_is_json_scalar_rejects_toplevel_comma(spark):
    """'1,2' wraps to '[1,2]' which parses as a 2-element array; the
    single-element check must reject it (ADVICE r4 item 3)."""
    assert _one(spark, "is_json_scalar('1,2')") is False
    assert _one(spark, "is_json_scalar('true,false')") is False
    # a scalar STRING containing a comma stays true (comma is quoted)
    assert _one(spark, "is_json_scalar('\"a,b\"')") is True
    assert _one(spark, "is_json_scalar('1')") is True


def test_kurtosis_large_mean_is_stable(spark):
    """kurtosis over values ~1e8 with sd ~1: the raw power-sum expansion
    catastrophically cancels; the builtin-central-moment conversion must
    stay accurate (ADVICE r4 item 2)."""
    import math

    vals = [1e8 + v for v in (0.0, 1.0, 2.0, 3.0, 4.0, 5.0, 6.0)]
    df = spark.createDataFrame([(v,) for v in vals], "x double")
    df.createOrReplaceTempView("_advice_kurt_t")
    from presto_copy_spark.dialect import transpile

    got = spark.sql(
        transpile("SELECT kurtosis(x) AS k FROM _advice_kurt_t")
    ).collect()[0].k
    # exact unbiased sample excess kurtosis, computed on centered data
    n = len(vals)
    mean = sum(vals) / n
    m2 = sum((v - mean) ** 2 for v in vals)
    m4 = sum((v - mean) ** 4 for v in vals)
    expect = ((n - 1) * n * (n + 1)) / ((n - 2) * (n - 3)) * m4 / (m2 * m2) - 3 * (
        n - 1
    ) ** 2 / ((n - 2) * (n - 3))
    assert math.isfinite(got)
    assert abs(got - expect) < 1e-6
    # n < 4 still yields NULL (Presto CentralMomentsAggregation guard)
    small = spark.createDataFrame([(1.0,), (2.0,), (3.0,)], "x double")
    small.createOrReplaceTempView("_advice_kurt_small")
    assert (
        spark.sql(
            transpile("SELECT kurtosis(x) AS k FROM _advice_kurt_small")
        ).collect()[0].k
        is None
    )


def test_register_all_covers_sibling_sessions(spark):
    """spark.newSession() shares an applicationId but has an isolated
    function registry; register_all must register into the sibling, not
    silently no-op (ADVICE r4 item 4)."""
    from presto_copy_spark.functions import register_all

    register_all(spark)  # parent already registered (conftest does too)
    sibling = spark.newSession()
    try:
        register_all(sibling)
        # a compat-layer name must resolve in the sibling's registry
        assert sibling.sql("SELECT json_array_get('[1,2]', 1) AS v").collect()[
            0
        ].v in ("2", 2)
    finally:
        sibling.stop if False else None  # sibling shares the context; no stop


def test_infoschema_sees_post_first_query_ddl(spark):
    """information_schema views must reflect tables created AFTER the
    first information_schema query (ADVICE r4 item 1)."""
    from presto_copy_spark.engine import Engine

    eng = Engine(spark)
    names = {
        r.table_name
        for r in eng.sql(
            "SELECT table_name FROM information_schema.tables"
        ).collect()
    }
    assert "_advice_late_table" not in names
    spark.createDataFrame([(1,)], "a bigint").createOrReplaceTempView(
        "_advice_late_table"
    )
    try:
        names2 = {
            r.table_name
            for r in eng.sql(
                "SELECT table_name FROM information_schema.tables"
            ).collect()
        }
        assert "_advice_late_table" in names2
    finally:
        spark.catalog.dropTempView("_advice_late_table")


def test_infoschema_catalog_qualified(spark):
    """hive.information_schema.tables (catalog-qualified — valid in the
    reference where every catalog exposes information_schema) must route
    to the shared views, not mangle to hive.__presto_infoschema_tables
    (ADVICE r4 item 5)."""
    from presto_copy_spark.engine import Engine

    eng = Engine(spark)
    rows = eng.sql(
        "SELECT table_name FROM hive.information_schema.tables"
        " WHERE table_schema = 'information_schema' ORDER BY table_name"
    ).collect()
    assert any(r.table_name == "tables" for r in rows)
    # system-qualified form keeps working
    rows2 = eng.sql(
        "SELECT count(*) AS c FROM system.information_schema.schemata"
    ).collect()
    assert rows2[0].c >= 1


# ---- round-5 ADVICE items (fixed round 6) ----------------------------


def test_geometric_mean_zero_and_negative(spark):
    """GeometricMeanAggregations.java: logSum saturates — any zero input
    -> 0.0 (Math.log(0) = -Inf), any negative -> NaN.  Spark's ln
    NULLs those out, so the rewrite must branch (round-5 ADVICE 1)."""
    import math

    from presto_copy_spark.dialect import transpile

    def gm(vals):
        rows = ", ".join(f"({v!r})" for v in vals)
        return spark.sql(
            transpile(
                f"SELECT geometric_mean(x) AS v FROM (VALUES {rows}) t(x)"
            )
        ).collect()[0].v

    assert gm([2.0, 8.0]) == 4.0
    assert gm([0.0, 2.0, 8.0]) == 0.0
    assert math.isnan(gm([-1.0, 2.0, 8.0]))
    assert math.isnan(gm([-1.0, 0.0, 8.0]))  # NaN wins over -Inf
    # Column helper agrees
    from presto_copy_spark.functions import presto as pf

    df = spark.createDataFrame([(0.0,), (2.0,), (8.0,)], "x double")
    assert df.agg(pf.geometric_mean("x").alias("v")).collect()[0].v == 0.0


def test_st_distance_containment_and_crossing_zero(spark):
    """st_distance must return 0 for intersecting geometries — polygon
    containment and boundaries crossing far from any vertex (round-5
    ADVICE 2, GeoFunctions.java stDistance via Esri distance)."""

    def d(a_wkt, b_wkt):
        return spark.sql(
            f"SELECT st_distance(st_geometryfromtext('{a_wkt}'),"
            f" st_geometryfromtext('{b_wkt}')) AS v"
        ).collect()[0].v

    # polygon fully containing another
    assert d(
        "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0))",
        "POLYGON ((4 4, 6 4, 6 6, 4 6, 4 4))",
    ) == 0.0
    # boundaries properly crossing far from any vertex
    assert d("LINESTRING (0 5, 10 5)", "LINESTRING (5 0, 5 10)") == 0.0
    # disjoint distance unchanged
    assert d("POINT (0 0)", "POINT (3 4)") == 5.0
    assert (
        d(
            "POLYGON ((0 0, 1 0, 1 1, 0 1, 0 0))",
            "POLYGON ((3 0, 4 0, 4 1, 3 1, 3 0))",
        )
        == 2.0
    )


def test_expand_envelope_transpiles(spark):
    """expand_envelope was registered but still listed in
    _GEO_UNSUPPORTED, so transpiled queries raised (round-5 ADVICE 3)."""
    from presto_copy_spark.dialect import transpile

    r = spark.sql(
        transpile(
            "SELECT st_xmin(expand_envelope(st_geometryfromtext("
            "'POLYGON ((1 1, 3 1, 3 3, 1 3, 1 1))'), 1.0)) AS v"
        )
    ).collect()[0].v
    assert r == 0.0
    # negative distance still raises (reference validation)
    import pytest as _pytest

    with _pytest.raises(Exception, match="negative"):
        spark.sql(
            "SELECT expand_envelope(st_geometryfromtext('POINT (0 0)'),"
            " -1.0) AS v"
        ).collect()


def test_classification_rejects_invalid_inputs(spark):
    """PrecisionRecallAggregation.java throws INVALID_FUNCTION_ARGUMENT
    for pred outside [0, 1] and for negative weights; the rewrite must
    not silently drop/absorb them (round-5 ADVICE 4)."""
    import pytest as _pytest

    from presto_copy_spark.dialect import transpile

    spark.createDataFrame(
        [(True, 0.2, 1.0), (False, 1.5, 1.0)], "outcome boolean, pred double, w double"
    ).createOrReplaceTempView("_cls_bad_pred")
    with _pytest.raises(Exception, match=r"\[0, 1\]"):
        spark.sql(
            transpile(
                "SELECT classification_recall(4, outcome, pred)"
                " AS v FROM _cls_bad_pred"
            )
        ).collect()
    spark.createDataFrame(
        [(True, 0.2, -1.0), (False, 0.6, 1.0)],
        "outcome boolean, pred double, w double",
    ).createOrReplaceTempView("_cls_bad_w")
    with _pytest.raises(Exception, match="non-negative"):
        spark.sql(
            transpile(
                "SELECT classification_precision(4, outcome, pred, w)"
                " AS v FROM _cls_bad_w"
            )
        ).collect()
    # valid inputs still work
    spark.createDataFrame(
        [(True, 0.9, 1.0), (False, 0.1, 1.0)],
        "outcome boolean, pred double, w double",
    ).createOrReplaceTempView("_cls_ok")
    out = spark.sql(
        transpile(
            "SELECT classification_recall(2, outcome, pred, w) AS v FROM _cls_ok"
        )
    ).collect()[0].v
    assert out == [1.0, 1.0]


def test_merge_sketches_skip_null_entries(spark):
    """merge_hll / merge_tdigest skip NULL array entries like the
    reference's merge; all-NULL folds return NULL instead of poisoning
    (round-5 ADVICE 5)."""
    spark.range(0, 1000).selectExpr("id", "id % 2 AS half").createOrReplaceTempView(
        "_mrg_t"
    )
    est = spark.sql(
        "SELECT hll_sketch_estimate(merge_hll(hlls)) AS v FROM ("
        " SELECT array_insert(collect_list(h), 2, CAST(NULL AS BINARY)) AS hlls"
        " FROM (SELECT half, hll_sketch_agg(id) AS h FROM _mrg_t GROUP BY half))"
    ).collect()[0].v
    assert abs(est - 1000) / 1000 < 0.05
    # NULL head
    est2 = spark.sql(
        "SELECT hll_sketch_estimate(merge_hll(array(CAST(NULL AS BINARY),"
        " (SELECT hll_sketch_agg(id) FROM range(0, 100)))))"
        " AS v"
    ).collect()[0].v
    assert abs(est2 - 100) / 100 < 0.05
    assert (
        spark.sql(
            "SELECT merge_hll(array(CAST(NULL AS BINARY))) AS v"
        ).collect()[0].v
        is None
    )
    med = spark.sql(
        "SELECT kll_sketch_get_quantile_double(merge_tdigest(array("
        " CAST(NULL AS BINARY),"
        " (SELECT kll_sketch_agg_double(CAST(id AS DOUBLE)) FROM range(0, 101))"
        ")), 0.5) AS v"
    ).collect()[0].v
    assert 40 <= med <= 60
    assert (
        spark.sql(
            "SELECT merge_tdigest(array(CAST(NULL AS BINARY))) AS v"
        ).collect()[0].v
        is None
    )


def test_json_topkey_int_fastpath_agrees_with_slow_path(spark):
    """qutil.json_topkey_int (round 13): the guarded regex fast path
    must agree with get_json_object on every VALID document class —
    flat hits take the fast lane, and anything the guard can't prove
    flat (nesting, arrays, escapes, floats, missing key, null) must
    fall back, not misparse."""
    from pyspark.sql import functions as F

    from presto_copy_spark.queries.qutil import json_topkey_int

    docs = [
        '{"k": 93}',                       # fast lane
        '{"a": 1, "k": -7, "b": "x"}',     # fast lane, other keys
        '{"k":93}',                        # no spaces
        '{"k": 93.5}',                     # float -> must NOT half-match as 93
        '{"k": "93"}',                     # string value -> fallback
        '{"o": {"k": 5}}',                 # nested: inner k is NOT $.k
        '{"a": [1,2], "k": 4}',            # array present -> fallback lane
        '{"a": "he said \\"k\\": 9", "k": 6}',  # escaped quote trap
        '{"kk": 1, "k": 2, "ak": 3}',      # key-substring traps
        '{"a": 1}',                        # missing key
        None,                              # null doc
        # ADVICE r13: classes the old guard admitted but misparsed —
        '{"k": 1, "k": 2}',                # dup key: Jackson returns the
        #   first (1); the old greedy prefix fast-returned the last (2);
        #   the exactly-once flank guard now forces the fallback lane
        '{"k": 1, "b": 5, "k": 2}',        # dup key, separated
        '{"k": 007}',                      # leading zero: not valid JSON,
        #   Jackson -> NULL; old fast lane returned "007"
        '{"k": -007}',                     # signed leading zero
        '{"k": 0}',                        # canonical zero stays fast
        '{"a": "k", "k": 8}',              # key token as a STRING VALUE:
        #   flank guard can't prove uniqueness -> fallback lane (slower,
        #   never wrong)
    ]
    df = spark.createDataFrame([(d,) for d in docs], "props string")
    out = json_topkey_int(df, "props", "k", "fast")
    # the helper's contract is the extracted STRING (callers cast);
    # string equality is also the strictest form of agreement
    both = out.select(
        "props",
        "fast",
        F.get_json_object("props", "$.k").alias("slow"),
    ).collect()
    for r in both:
        assert r["fast"] == r["slow"], (r["props"], r["fast"], r["slow"])


def test_json_topkey_int_fastpath_fuzz_agreement(spark):
    """Seeded random-document fuzz for the fast==slow contract (round
    14, on top of the 17 hand-built rows): flat objects with random key
    sets, values of every JSON type, duplicate keys, leading zeros,
    nesting, arrays, escapes, and whitespace jitter — every document
    must produce byte-identical output from the guarded fast lane and
    get_json_object."""
    import json
    import random

    from pyspark.sql import functions as F

    from presto_copy_spark.queries.qutil import json_topkey_int

    rng = random.Random(1404)
    keys = ["k", "kk", "ak", "a", "b", "key space", 'we"ird']

    def value():
        return rng.choice(
            [
                rng.randint(-99999, 99999),
                rng.random() * 100,
                "s" + str(rng.randint(0, 9)),
                'quote " inside',
                True,
                None,
                [1, 2],
                {"inner": 1},
            ]
        )

    docs = []
    for _ in range(200):
        n = rng.randint(0, 4)
        items = [(rng.choice(keys), value()) for _ in range(n)]
        if rng.random() < 0.7:
            items.insert(rng.randint(0, len(items)), ("k", value()))
        if rng.random() < 0.2 and items:
            items.append(("k", value()))  # duplicate key
        body = ", ".join(
            f"{json.dumps(k)}:{' ' * rng.randint(0, 2)}{json.dumps(v)}"
            for k, v in items
        )
        doc = "{" + body + "}"
        if rng.random() < 0.1:
            doc = doc.replace(": ", ": 0", 1)  # leading-zero corruption
        docs.append(doc)
    df = spark.createDataFrame([(d,) for d in docs], "props string")
    both = (
        json_topkey_int(df, "props", "k", "fast")
        .select(
            "props", "fast", F.get_json_object("props", "$.k").alias("slow")
        )
        .collect()
    )
    for r in both:
        assert r["fast"] == r["slow"], (r["props"], r["fast"], r["slow"])


def test_pq_lut_indexes_codebook_missing_a_subquantizer(spark):
    # A trained codebook can lose a whole subquantizer (no entry for
    # m=1 here).  The packed LUT positions must still address the slots
    # pq_lut_structs lays out for the codebooks that are present,
    # instead of reading m=2's codes against m=1's subvector.
    from presto_copy_spark.operators.similarity import (
        pq_lut_indexes,
        pq_lut_structs,
    )

    cents = "array<struct<k:int,cv_arr:array<bigint>>>"
    df = spark.createDataFrame(
        [
            (
                [9, 9, 100, 100, 1, 2],
                [
                    (0, [(0, [0, 0]), (2, [10, 10])]),
                    (2, [(0, [5, 5]), (1, [1, 1]), (3, [9, 9])]),
                ],
            )
        ],
        f"arr array<bigint>, pq array<struct<m:int,cents:{cents}>>",
    )
    row = df.select(
        pq_lut_indexes(F.col("arr"), F.col("pq"), 2).alias("lidx"),
        F.transform(
            pq_lut_structs(F.col("arr"), F.col("pq"), 2), lambda e: e["ldist"]
        ).alias("larr"),
    ).first()
    # flat LUT: m=0 -> k0 162, k2 2; m=2 -> k0 25, k1 1, k3 113
    assert row.larr == [162, 2, 25, 1, 113]
    assert row.lidx == [2, 4]
    # ADC distance = sum of each present subquantizer's nearest code
    assert sum(row.larr[i - 1] for i in row.lidx) == 2 + 1


def test_bench_final_line_fits_the_tail_window():
    # Only a bounded tail of bench.py's stdout is parsed: an over-budget
    # final line drops its per-query dicts and keeps every headline scalar.
    import json

    import bench

    summary = {
        "metric": "median_query_seconds_total",
        "value": 12.5,
        "n_queries": 3,
        "queries": {"tpch_q01": 0.5},
        "detail": "BENCH_detail.json",
    }
    line = bench.final_line(summary)
    assert json.loads(line) == summary
    summary["sf1x_tpch_sec"] = {
        f"tpch_q{i:02d}_at_a_much_longer_name": 1.23456789 for i in range(100)
    }
    line = bench.final_line(summary)
    assert len(line) <= bench.FINAL_LINE_BUDGET
    parsed = json.loads(line)
    assert parsed == {
        "metric": "median_query_seconds_total",
        "value": 12.5,
        "n_queries": 3,
        "detail": "BENCH_detail.json",
        "per_query_dropped": True,
    }
