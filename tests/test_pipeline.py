"""Invariants for the training-data pipeline operators
(queries/pipeline.py, sim_pq_adc) beyond their DuckDB value oracles
(which run in test_queries_vs_oracle.py like every registry entry)."""

from __future__ import annotations

from pyspark.sql import functions as F

from presto_copy_spark.queries import registry

registry.load_all()


def test_mix_sample_full_keep_sources_keep_everything(spark, sf_dir):
    """Sources with a 100% keep-rate (src N where N % 4 == 3) must keep
    every document — the hash-threshold form can't drop rows at
    keep_pm=1000 since slots are always < 1000."""
    rows = registry.QUERIES["docs_mix_sample"](spark, sf_dir).collect()
    assert rows
    for r in rows:
        n = int(r.source[3:])
        if n % 4 == 3:
            assert r.n_kept == r.n_total and r.kept_frac == 1.0, r
        else:
            assert r.n_kept <= r.n_total, r


def test_mix_sample_is_deterministic(spark, sf_dir):
    """The mixing primitive must be rerun-stable (resumable pipelines)."""
    a = sorted(map(tuple, registry.QUERIES["docs_mix_sample"](spark, sf_dir).collect()))
    b = sorted(map(tuple, registry.QUERIES["docs_mix_sample"](spark, sf_dir).collect()))
    assert a == b


def test_pack_sequences_budget_and_contiguity(spark, sf_dir):
    """Concat-then-chunk invariants: within each (source, shard) writer,
    seq ids start at 0 and are contiguous, and every chunk's token count
    is bounded by budget + the largest single document (a doc that
    STARTS in a chunk may run past its boundary, never further than its
    own length)."""
    from presto_copy_spark.queries.pipeline import PACK_BUDGET

    df = registry.QUERIES["docs_pack_sequences"](spark, sf_dir)
    rows = df.collect()
    assert rows
    max_doc = max(r.seq_tokens for r in rows)  # upper bound on any doc
    by_writer: dict[tuple, list] = {}
    for r in rows:
        by_writer.setdefault((r.source, r.shard), []).append(r)
    for (src, shard), chunk in by_writer.items():
        seqs = sorted(r.seq_id for r in chunk)
        assert seqs == list(range(len(seqs))), (src, shard, seqs)
        for r in chunk:
            assert r.seq_tokens <= PACK_BUDGET + max_doc, r


def test_decontaminate_flags_only_train_docs(spark, sf_dir):
    from presto_copy_spark.queries.pipeline import DECON_MOD

    rows = registry.QUERIES["docs_decontaminate"](spark, sf_dir).collect()
    # non-empty by construction at the driver SFs (planted near-dups
    # cross the eval/train split)
    assert rows
    for r in rows:
        assert r.doc_id % DECON_MOD != 0 and r.n_hits >= 1


def test_pii_scrub_leaves_no_residual(spark, sf_dir):
    df = registry.QUERIES["pii_scrub"](spark, sf_dir)
    agg = df.agg(
        F.sum("n_emails").alias("e"),
        F.sum("n_phones").alias("p"),
        F.sum("residual_pii").alias("r"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    assert agg.e >= agg.n and agg.p >= agg.n  # one planted each, per doc
    assert agg.r == 0  # the scrub must be total


def test_pq_adc_recall_vs_exact(spark, duck, sf_dir):
    """PQ is an approximation — prove it is a USEFUL one: recall@5 vs
    exact integer-L2 top-5 on the same query set must clear 0.3 (it
    measures 0.44 at sf0.01 with the 1-iteration 16-code codebook), and
    the self-match must always be recalled (ADC distance to a vector's
    own code is minimal for the trivial query)."""
    from presto_copy_spark.operators.similarity import CSCALE
    from presto_copy_spark.queries.similarity import PQ_QMOD, PQ_TOPK

    pq = {
        (r.qid, r.neighbor)
        for r in registry.QUERIES["sim_pq_adc"](spark, sf_dir).collect()
    }
    exact = {
        tuple(t)
        for t in duck.sql(
            f"""
WITH coords AS (
  SELECT vec_id, i, CAST(floor(embedding[i]::DOUBLE * {CSCALE}) AS BIGINT) AS qv
  FROM embeddings, unnest(generate_series(1, len(embedding))) AS g(i)
),
qc AS (SELECT vec_id AS qid, i, qv FROM coords WHERE vec_id % {PQ_QMOD} = 0),
d AS (SELECT qc.qid, c.vec_id, sum((qc.qv - c.qv) * (qc.qv - c.qv)) AS dist
      FROM qc JOIN coords c ON qc.i = c.i GROUP BY 1, 2)
SELECT qid, vec_id FROM (
  SELECT d.*, row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS rn
  FROM d) t WHERE rn <= {PQ_TOPK}
"""
        ).fetchall()
    }
    qids = {q for q, _ in exact}
    assert all((q, q) in pq for q in qids), "self-match must be recalled"
    recall = len(pq & exact) / len(exact)
    assert recall >= 0.3, f"recall@{PQ_TOPK} = {recall}"


def test_ivfadc_recall_beats_flat_pq(spark, duck, sf_dir):
    """The composed IVFADC (coarse cells -> residual PQ -> ADC on 2
    probed cells -> exact re-rank) must not lose recall vs the flat PQ
    scan it replaces (measured 0.52 vs 0.44 at the driver SFs), and the
    self-match must survive the cell pruning (a query's own cell is its
    nearest cell by definition of the assignment argmin)."""
    from presto_copy_spark.operators.similarity import CSCALE
    from presto_copy_spark.queries.similarity import PQ_QMOD, PQ_TOPK

    exact = {
        tuple(t)
        for t in duck.sql(
            f"""
WITH coords AS (
  SELECT vec_id, i, CAST(floor(embedding[i]::DOUBLE * {CSCALE}) AS BIGINT) AS qv
  FROM embeddings, unnest(generate_series(1, len(embedding))) AS g(i)
),
qc AS (SELECT vec_id AS qid, i, qv FROM coords WHERE vec_id % {PQ_QMOD} = 0),
d AS (SELECT qc.qid, c.vec_id, sum((qc.qv - c.qv) * (qc.qv - c.qv)) AS dist
      FROM qc JOIN coords c ON qc.i = c.i GROUP BY 1, 2)
SELECT qid, vec_id FROM (
  SELECT d.*, row_number() OVER (PARTITION BY qid ORDER BY dist, vec_id) AS rn
  FROM d) t WHERE rn <= {PQ_TOPK}
"""
        ).fetchall()
    }
    ivf = {
        (r.qid, r.neighbor)
        for r in registry.QUERIES["sim_ivfadc"](spark, sf_dir).collect()
    }
    flat = {
        (r.qid, r.neighbor)
        for r in registry.QUERIES["sim_pq_adc"](spark, sf_dir).collect()
    }
    qids = {q for q, _ in exact}
    assert all((q, q) in ivf for q in qids), "self-match must survive probing"
    ivf_recall = len(ivf & exact) / len(exact)
    flat_recall = len(flat & exact) / len(exact)
    assert ivf_recall >= flat_recall, (ivf_recall, flat_recall)
    assert ivf_recall >= 0.4, ivf_recall


def test_semantic_dedup_drops_planted_copies(spark, sf_dir):
    """SemDeDup must catch every planted exact copy: an identical
    vector lands in the identical cluster deterministically, so each
    vec_id + 1e6 copy is dropped with its original among the keepers
    at cosine ~1."""
    rows = {
        r.dropped_vec_id: (r.kept_vec_id, r.max_cosine)
        for r in registry.QUERIES["dedup_semantic"](spark, sf_dir).collect()
    }
    assert rows
    import duckdb as _d

    n = _d.sql(
        f"SELECT count(*) FROM '{sf_dir}/embeddings.parquet' WHERE vec_id % 50 = 0"
    ).fetchone()[0]
    planted = {v + 1000000 for v in range(0, 100000) if v % 50 == 0}
    caught = [d for d in rows if d >= 1000000]
    assert len(caught) == n, (len(caught), n)
    for d in caught:
        kept, cos = rows[d]
        assert kept == d - 1000000 or kept < 1000000
        assert cos > 0.999


def test_semantic_pair_kernel_never_pairs_an_id_with_itself(spark):
    """The pair rule is keeper vec_id < dup vec_id, as in the oracle's
    self-join, not sorted position: a vec_id repeated within a cluster
    (a re-ingested row, or a planted id colliding with a natural one)
    must neither drop itself nor yield two rows for one dropped id."""
    from presto_copy_spark.operators.similarity import qdot
    from presto_copy_spark.queries.similarity import _sem_pair_reduce_numpy

    x, z = [1.0, 0.0, 0.0, 0.0], [0.0, 0.0, 1.0, 0.0]
    base = spark.createDataFrame(
        [(0, 3, z), (0, 7, x), (0, 7, x), (0, 9, x), (0, 11, z), (0, 11, x)],
        "cluster long, vec_id long, embedding array<float>",
    ).withColumn("nq", qdot(F.col("embedding"), F.col("embedding")))
    rows = _sem_pair_reduce_numpy(base).collect()
    assert all(r.dropped_vec_id != r.kept_vec_id for r in rows), rows
    assert sorted(map(tuple, rows)) == [(9, 7, 1.0), (11, 3, 1.0)], rows


def test_temperature_mix_upweights_small_sources(spark, sf_dir):
    """alpha = 0.5 temperature sampling must give SMALLER sources a
    keep-rate at least as high as larger ones (the whole point of the
    smoothing), and the realized keep fraction must track keep_pm."""
    rows = registry.QUERIES["docs_temperature_mix"](spark, sf_dir).collect()
    assert rows
    by_n = sorted(rows, key=lambda r: r.n_total)
    for small, large in zip(by_n, by_n[1:]):
        if small.n_total < large.n_total:
            assert small.keep_pm >= large.keep_pm, (small, large)
    for r in rows:
        assert 0 <= r.n_kept <= r.n_total
        if r.n_total >= 50:  # hash threshold tracks the rate statistically
            assert abs(r.n_kept / r.n_total - r.keep_pm / 1000) < 0.25


def test_semantic_dedup_k_scales(spark, sf_dir):
    """The production answer to cluster growth is scaling K with N
    (SemDeDup's own setup), NOT the degenerate-cluster cap: with
    k = n_vectors / 16 every cluster stays far under the cap, nothing
    is dropped by the guard, and every planted duplicate is still
    caught at cosine ~1."""
    import duckdb as _d

    from presto_copy_spark.queries.similarity import semantic_dedup

    n = _d.sql(
        f"SELECT count(*) FROM '{sf_dir}/embeddings.parquet'"
    ).fetchone()[0]
    k = max(8, n // 16)
    rows = {
        r.dropped_vec_id: r.max_cosine
        for r in semantic_dedup(spark, sf_dir, k=k, cap=10**9).collect()
    }
    planted_n = _d.sql(
        f"SELECT count(*) FROM '{sf_dir}/embeddings.parquet' WHERE vec_id % 50 = 0"
    ).fetchone()[0]
    caught = [d for d in rows if d >= 1000000]
    assert len(caught) == planted_n
    assert all(rows[d] > 0.999 for d in caught)


def test_semantic_dedup_derived_k_matches_pinned_at_fixture_scale(spark, sf_dir):
    """The round-8 derived-K path (K = max(SEM_MIN_K, floor(N /
    SEM_TARGET)), computed in-plan) must land on exactly K = SEM_MIN_K
    at the fixture scales (N <= 2,040 < 17*128) and therefore return
    the byte-identical result set to a pinned k=16 — the guarantee
    that the production knob did not move the driver-green row."""
    from presto_copy_spark.queries.similarity import SEM_CAP, SEM_MIN_K, semantic_dedup

    derived = {
        (r.dropped_vec_id, r.kept_vec_id, round(r.max_cosine, 9))
        for r in semantic_dedup(spark, sf_dir, k=None, cap=SEM_CAP).collect()
    }
    pinned = {
        (r.dropped_vec_id, r.kept_vec_id, round(r.max_cosine, 9))
        for r in semantic_dedup(spark, sf_dir, k=SEM_MIN_K, cap=SEM_CAP).collect()
    }
    assert derived == pinned and derived


def test_dedup_lines_planted_skew(spark, sf_dir):
    """Skew guard for dedup_lines (VERDICT r11 What's-wrong #1): one
    boilerplate line planted across 1e5 synthetic docs puts every
    occurrence of one hash60 in a single first-occurrence partition.
    The shipped window-over-hash formulation was A/B'd against the
    partial-agg (`groupBy(h).agg(min, count)`) + shuffle-join-back
    variant at hot-counts 1e5/1e6/4e6 and won every level (0.65 vs
    0.88 s, 2.9 vs 4.4 s, 12.8 vs 19.2 s — the join-back streams the
    hot hash through one SMJ task just like the window, plus a second
    shuffle).  This test pins the decision's CORRECTNESS half: both
    formulations must agree row-for-row on the planted-skew corpus,
    and the hot line must be deduplicated corpus-wide (every synthetic
    doc except the global first occurrence loses exactly one line).
    """
    from pyspark.sql import Window

    from presto_copy_spark.catalog import load_table
    from presto_copy_spark.queries.text import _OCC, LINE_TOKENS, hash60, tokens

    n_hot = 100_000
    hot_line = " ".join(f"tok{i}" for i in range(LINE_TOKENS))
    synth = spark.range(n_hot).selectExpr(
        "id + 10000000 AS doc_id",
        f"concat('{hot_line} ', 'uniq', id, ' alpha beta gamma delta epsilon"
        " zeta eta theta') AS text",
    )
    real = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    d = real.unionByName(synth)

    tok = tokens(F.col("text"))
    n_lines = F.ceil(F.size(tok) / float(LINE_TOKENS)).cast("int")
    lines_arr = F.transform(
        F.sequence(F.lit(0), n_lines - 1),
        lambda i: F.concat_ws(" ", F.slice(tok, i * LINE_TOKENS + 1, LINE_TOKENS)),
    )
    occ = d.select(
        "doc_id", F.posexplode(lines_arr).alias("line_idx", "line")
    ).select(
        "doc_id",
        hash60(F.col("line")).alias("h"),
        (F.col("doc_id") * _OCC + F.col("line_idx")).alias("okey"),
    )

    def per_doc(rm_df):
        return (
            rm_df.groupBy("doc_id")
            .agg(
                F.count(F.lit(1)).alias("n_lines"),
                F.sum("rm").cast("long").alias("n_dup_lines"),
            )
            .filter(F.col("n_dup_lines") > 0)
        )

    w = Window.partitionBy("h")
    win_rm = (F.count(F.lit(1)).over(w) > 1) & (F.col("okey") > F.min("okey").over(w))
    got_window = {
        tuple(r) for r in per_doc(occ.select("doc_id", win_rm.cast("int").alias("rm"))).collect()
    }

    stats = occ.groupBy("h").agg(
        F.min("okey").alias("first_occ"), F.count(F.lit(1)).alias("cnt")
    )
    agg_rm = (F.col("cnt") > 1) & (F.col("okey") > F.col("first_occ"))
    got_agg = {
        tuple(r)
        for r in per_doc(
            occ.join(stats, "h").select("doc_id", agg_rm.cast("int").alias("rm"))
        ).collect()
    }

    assert got_window == got_agg
    # every synthetic doc carries the hot line; exactly one global
    # occurrence is kept, so n_hot - 1 docs lose exactly 1 dup line
    # (minus any real-corpus doc that happened to hash-share, which the
    # fixture's token vocabulary cannot produce)
    synth_rows = {doc: (n, dup) for doc, n, dup in got_window if doc >= 10_000_000}
    assert len(synth_rows) == n_hot - 1
    assert all(v == (2, 1) for v in synth_rows.values())


def test_url_canonicalizer_edge_cases(spark):
    """canonicalize_url literal-case contract (RefinedWeb stage-1
    normalizer): fragment/default-port/www/tracking-param stripping,
    query-parameter sorting, trailing-slash trim, case folding of the
    scheme://host prefix ONLY (paths stay case-sensitive), non-default
    ports preserved."""
    from presto_copy_spark.queries.text import canonicalize_url

    cases = [
        ("HTTP://WWW.Example.COM:80/a/B/?utm_source=x&b=2&a=1#frag",
         "http://example.com/a/B?a=1&b=2"),
        ("https://Site.org:443/p", "https://site.org/p"),
        ("https://site.org:8443/p?x=1", "https://site.org:8443/p?x=1"),
        ("http://a.b/p", "http://a.b/p"),
        ("http://a.b/p/?utm_source=o&utm_medium=m", "http://a.b/p"),
        ("https://www.a.b:443/q/?z=9&a=1#s", "https://a.b/q?a=1&z=9"),
    ]
    df = spark.createDataFrame([(u,) for u, _ in cases], "u string")
    got = [r[0] for r in df.select(canonicalize_url(F.col("u"))).collect()]
    assert got == [want for _, want in cases]


def test_dedup_urls_staged_matches_column_form(spark, sf_dir):
    """The staged normalizer inside dedup_urls must stay semantically
    identical to the reusable canonicalize_url Column (the staging is a
    pure CollapseProject-era performance shape, not a semantic fork)."""
    from presto_copy_spark.catalog import load_table
    from presto_copy_spark.queries.text import _raw_url_col, canonicalize_url
    from presto_copy_spark.queries import registry

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    raw = d.select("doc_id", _raw_url_col().alias("u"))
    col_form = (
        raw.select("doc_id", "u", canonicalize_url(F.col("u")).alias("curl"))
        .groupBy("curl")
        .agg(
            F.min("doc_id").alias("canonical_doc"),
            F.count(F.lit(1)).alias("n_copies"),
            F.countDistinct("u").cast("long").alias("n_raw_forms"),
        )
        .filter(F.col("n_copies") > 1)
    )
    a = sorted(map(tuple, col_form.collect()))
    b = sorted(map(tuple, registry.QUERIES["dedup_urls"](spark, sf_dir).collect()))
    assert a == b and a


def test_exact_substring_catches_offset_dup_that_chunking_misses(spark, sf_dir):
    """dedup_exact_substring's reason to exist (round 13): a duplicated
    span re-entering the corpus at a token offset misaligned with
    dedup_lines' fixed LINE_TOKENS grid is invisible to chunk hashing
    but must be reported as a maximal span by the sliding-gram
    operator.  Uses the operator's own planted re-entry (tokens 8..67
    of every 13th doc behind a 3-token preamble -> offset shift 4 mod
    10, never chunk-aligned)."""
    from presto_copy_spark.catalog import load_table
    from presto_copy_spark.queries import registry
    from presto_copy_spark.queries.text import (
        _ES_OFF,
        _ES_PRE,
        LINE_TOKENS,
        MIN_SPAN,
        tokens,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = (
        d.filter((F.col("doc_id") % 13 == 0) & (F.size(tokens(F.col("text"))) >= 67))
        .orderBy("doc_id")
        .limit(1)
        .collect()
    )
    assert src, "fixture has no 13-multiple doc with >= 67 tokens"
    doc_id, text = src[0]["doc_id"], src[0]["text"]
    toks = text.split()
    planted = _ES_PRE + " " + " ".join(toks[7:67])  # tokens 8..67, 1-based

    def chunks(t: str) -> set[str]:
        tk = t.split()
        return {
            " ".join(tk[i : i + LINE_TOKENS])
            for i in range(0, len(tk), LINE_TOKENS)
        }

    # fixed-width chunk hashing shares NOTHING between the two docs
    assert chunks(text) & chunks(planted) == set()

    spans = {
        r["doc_id"]: r["span_tokens"]
        for r in registry.QUERIES["dedup_exact_substring"](spark, sf_dir)
        .filter(F.col("doc_id").isin(doc_id, doc_id + _ES_OFF))
        .collect()
    }
    # ...while the sliding-gram operator reports the full 60-token span
    # in BOTH the original and the offset re-entry
    assert spans.get(doc_id, 0) >= MIN_SPAN, spans
    assert spans.get(doc_id + _ES_OFF, 0) >= MIN_SPAN, spans
    # >= not ==: if the chosen source doc ever gains a verbatim fixture
    # duplicate at another %13==0 id, the shared _ES_PRE preamble makes
    # the preamble-spanning grams duplicate too, extending the island a
    # few tokens past the planted 60 for a reason unrelated to the
    # operator under test (ADVICE r13).
    assert spans[doc_id + _ES_OFF] >= 60


def test_persisted_prior_index_matches_inline_and_saves_exchanges(spark, sf_dir):
    """operators/incremental.py (round 13): probing a persisted
    BUCKETED prior index must (a) label the new snapshot bit-identically
    to the inline dedup_incremental, and (b) actually exploit the
    layout — bucketed scans feed the probe joins in place
    (SelectedBucketsCount, no broadcast of the prior side) and the plan
    carries strictly fewer exchanges than the identical probe against
    unbucketed copies of the same tables."""
    from presto_copy_spark.operators.incremental import (
        dedup_against_prior,
        persist_prior_index,
    )
    from presto_copy_spark.plans.inspect import plan_string
    from presto_copy_spark.queries import registry
    from presto_copy_spark.queries.text import inc_snapshots

    prior, newc = inc_snapshots(spark, sf_dir)
    try:
        persist_prior_index(spark, prior, "t_prior_idx", n_buckets=4)
        out = dedup_against_prior(spark, newc, "t_prior_idx")
        got = sorted(map(tuple, out.collect()))
        want = sorted(
            map(
                tuple,
                registry.QUERIES["dedup_incremental"](spark, sf_dir).collect(),
            )
        )
        assert got == want and len(got) == 3, (got, want)

        plan = plan_string(out, "simple")
        assert "SelectedBucketsCount" in plan, plan[:1500]
        assert "BroadcastHashJoin" not in plan.split("SelectedBucketsCount")[0]

        # unbucketed control: same data, same probe, plain tables
        spark.table("t_prior_idx_fp").write.mode("overwrite").saveAsTable(
            "t_prior_flat_fp"
        )
        spark.table("t_prior_idx_bands").write.mode("overwrite").saveAsTable(
            "t_prior_flat_bands"
        )
        control = dedup_against_prior(spark, newc, "t_prior_flat")
        n_bucketed = plan_string(out, "simple").count("Exchange")
        n_flat = plan_string(control, "simple").count("Exchange")
        assert n_bucketed < n_flat, (n_bucketed, n_flat)
        # values agree regardless of layout
        assert sorted(map(tuple, control.collect())) == want
    finally:
        for t in (
            "t_prior_idx_fp",
            "t_prior_idx_bands",
            "t_prior_flat_fp",
            "t_prior_flat_bands",
        ):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_stream_dedup_against_prior_index(spark, sf_dir, tmp_path):
    """stream_dedup_against_prior (round 13): a crawl dump arriving as
    a file STREAM, exact-deduped against the persisted prior index via
    a stream-static left-anti join under AvailableNow, must keep
    exactly the docs the batch anti-join keeps — every planted exact
    re-crawl dropped, everything else preserved."""
    from pyspark.sql import functions as F

    from presto_copy_spark.operators.incremental import (
        persist_prior_index,
        stream_dedup_against_prior,
    )
    from presto_copy_spark.operators.text import hash60
    from presto_copy_spark.queries.text import _INC_EXACT_OFF, inc_snapshots
    from presto_copy_spark.streaming.jobs import run_stream_to_batch

    prior, newc = inc_snapshots(spark, sf_dir)
    try:
        persist_prior_index(spark, prior, "t_sd_idx", n_buckets=4)
        dump = str(tmp_path / "new_dump")
        newc.write.parquet(dump)
        schema = spark.read.parquet(dump).schema
        stream = spark.readStream.schema(schema).format("parquet").load(dump)
        out = run_stream_to_batch(
            stream_dedup_against_prior(stream, spark, "t_sd_idx"),
            mode="append",
        )
        got = sorted(r["doc_id"] for r in out.select("doc_id").collect())
        pfp = spark.table("t_sd_idx_fp")
        want = sorted(
            r["doc_id"]
            for r in newc.withColumn("fp", hash60(F.col("text")))
            .join(pfp, "fp", "left_anti")
            .select("doc_id")
            .collect()
        )
        assert got == want and got
        # the planted exact re-crawls are all gone from the stream output
        assert not [i for i in got if _INC_EXACT_OFF <= i < _INC_EXACT_OFF * 4 // 3]
    finally:
        for t in ("t_sd_idx_fp", "t_sd_idx_bands"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_exact_substring_span_property_offset_sweep(spark):
    """Property (round 13): a shared 100-token span planted at ANY
    offset must be reported with exact boundaries in both docs, and a
    corpus with no cross-doc K_SUB-gram overlap must report nothing.
    Offsets sweep 0..K_SUB+1 to cover chunk-aligned, sub-gram and
    super-gram shifts."""
    from presto_copy_spark.queries.text import (
        K_SUB,
        MIN_SPAN,
        exact_substring_spans,
    )

    span = [f"s{i}" for i in range(100)]  # the shared 100-token span
    rows = [(0, " ".join([f"a{i}" for i in range(50)] + span + [f"b{i}" for i in range(30)]))]
    offsets = [0, 1, 3, 9, 10, K_SUB, K_SUB + 1]
    for j, off in enumerate(offsets, start=1):
        junk = [f"j{j}_{i}" for i in range(off)]
        tail = [f"t{j}_{i}" for i in range(5)]
        rows.append((j, " ".join(junk + span + tail)))
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r["doc_id"], r["span_start"], r["span_end"], r["span_tokens"])
        for r in exact_substring_spans(spark, df).collect()
    }
    want = {(0, 51, 150, 100)}
    for j, off in enumerate(offsets, start=1):
        want.add((j, off + 1, off + 100, 100))
    assert got == want, (sorted(got), sorted(want))

    # negative control: unique-token corpus -> zero spans
    neg = spark.createDataFrame(
        [(i, " ".join(f"u{i}_{k}" for k in range(120))) for i in range(4)],
        "doc_id long, text string",
    )
    assert exact_substring_spans(spark, neg).count() == 0
    assert MIN_SPAN <= 100


def test_quality_classifier_invariants(spark, sf_dir):
    """docs_quality_classifier (round 14): the learned gate must
    (a) actually LEARN — holdout accuracy >= 0.9 on the fixture label
    (measured 0.97-0.98 at sf0.01/sf0.1);
    (b) score a planted gibberish document (tokens chosen so their
    hashed buckets are untouched by the fixture vocabulary, repeated
    so it is short AND low-diversity) strictly below every clean
    training document's margin and gate it out (predicted 0);
    (c) be a pure function of (text -> features): a verbatim re-entry
    of a positively-classified train doc at a HOLDOUT id (so training
    is unchanged) must get the identical margin and pass the gate —
    the frozen-broadcast-weights property the 100 TB design relies on."""
    from presto_copy_spark.catalog import load_table
    from presto_copy_spark.queries.pipeline import (
        qc_featurize,
        qc_learn_weights,
        qc_score,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    max_id = d.agg(F.max("doc_id")).collect()[0][0]
    base = ((max_id // 5) + 1) * 5  # planted ids: % 5 == 0 -> holdout
    # (b): gibberish tokens verified (round-14 prototype) to hash into
    # buckets no fixture-vocabulary token occupies at sf0.01/sf0.1
    gib = " ".join(["zx0q", "zx2q", "zx3q", "zx6q"] * 8)
    # (c): verbatim re-entry of a train doc the model passes
    src = (
        qc_score(qc_featurize(d), qc_learn_weights(qc_featurize(d)))
        .filter(F.col("is_train") & (F.col("y") == 1) & (F.col("predicted") == 1))
        .orderBy("doc_id")
        .limit(1)
        .collect()
    )
    assert src, "no positively-classified train doc in fixture"
    src_id, src_z = src[0]["doc_id"], src[0]["z"]
    reentry = d.filter(F.col("doc_id") == src_id).collect()[0]["text"]

    planted = spark.createDataFrame(
        [(base, gib), (base + 5, reentry)], "doc_id long, text string"
    )
    corpus = d.unionByName(planted)
    feats = qc_featurize(corpus)
    scored = qc_score(feats, qc_learn_weights(feats))

    rows = {r["doc_id"]: r for r in scored.collect()}
    # (a) holdout accuracy (excluding the two planted docs)
    hold = [r for i, r in rows.items() if not r["is_train"] and i < base]
    acc = sum(r["y"] == r["predicted"] for r in hold) / len(hold)
    assert acc >= 0.9, acc
    # (b) gibberish gated out, below every clean train margin
    gz = rows[base]["z"]
    assert rows[base]["predicted"] == 0
    min_clean = min(
        r["z"] for r in rows.values() if r["is_train"] and r["y"] == 1
    )
    assert gz < min_clean, (gz, min_clean)
    # (c) re-entry at a holdout id: identical margin, passes the gate
    assert rows[base + 5]["z"] == src_z and rows[base + 5]["predicted"] == 1


def test_quality_gate_stream_matches_batch(spark, sf_dir, tmp_path):
    """qc_gate_stream (round 14): gating a document STREAM with frozen
    weights under Trigger.AvailableNow must keep exactly the doc_ids
    the batch scorer passes — the stateless-map streaming form of the
    learned gate."""
    from presto_copy_spark.catalog import load_table
    from presto_copy_spark.queries.pipeline import (
        qc_featurize,
        qc_gate_stream,
        qc_learn_weights,
        qc_score,
    )
    from presto_copy_spark.streaming.jobs import run_stream_to_batch

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    w = qc_learn_weights(qc_featurize(d))
    want = sorted(
        r["doc_id"]
        for r in qc_score(qc_featurize(d), w)
        .filter(F.col("predicted") == 1)
        .collect()
    )
    dump = str(tmp_path / "doc_dump")
    d.write.parquet(dump)
    schema = spark.read.parquet(dump).schema
    stream = spark.readStream.schema(schema).format("parquet").load(dump)
    out = run_stream_to_batch(qc_gate_stream(stream, w), mode="append")
    got = sorted(r["doc_id"] for r in out.select("doc_id").collect())
    assert got == want and got


def _two_generations(spark, sf_dir):
    """(g1, g2, probe): two disjoint corpus generations and a later
    dump carrying fresh docs plus verbatim re-crawls of both."""
    from presto_copy_spark.catalog import load_table

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    g1 = d.filter(F.col("doc_id") % 3 == 0)
    g2 = d.filter(F.col("doc_id") % 3 == 1)
    off = 10_000_000
    probe = (
        d.filter(F.col("doc_id") % 3 == 2)
        .unionByName(
            g1.filter(F.col("doc_id") % 21 == 0).select(
                (F.col("doc_id") + off).alias("doc_id"), "text"
            )
        )
        .unionByName(
            g2.filter(F.col("doc_id") % 22 == 1).select(
                (F.col("doc_id") + 2 * off).alias("doc_id"), "text"
            )
        )
    )
    return g1, g2, probe


def test_append_to_prior_index_matches_fresh_rebuild(spark, sf_dir):
    """append_to_prior_index (round 14): folding an accepted dump into
    the persisted index must label a later dump EXACTLY like an index
    rebuilt fresh over both generations — exact re-crawls of generation
    1 AND generation 2 both drop — and the appended table must still be
    probed in place (the insertInto routed the increment through the
    catalog's bucket spec)."""
    from presto_copy_spark.operators.incremental import (
        append_to_prior_index,
        dedup_against_prior,
        persist_prior_index,
    )
    from presto_copy_spark.plans.inspect import plan_string

    g1, g2, probe = _two_generations(spark, sf_dir)
    try:
        persist_prior_index(spark, g1, "t_app_idx", n_buckets=4)
        append_to_prior_index(spark, g2, "t_app_idx")
        out = dedup_against_prior(spark, probe, "t_app_idx")
        got = sorted(map(tuple, out.collect()))

        persist_prior_index(
            spark, g1.unionByName(g2), "t_app_fresh", n_buckets=4
        )
        want = sorted(
            map(
                tuple,
                dedup_against_prior(spark, probe, "t_app_fresh").collect(),
            )
        )
        assert got == want, (got, want)
        dropped = {r[0]: r[1] for r in got}
        # re-crawls of BOTH generations were caught
        n_g1 = g1.filter(F.col("doc_id") % 21 == 0).count()
        n_g2 = g2.filter(F.col("doc_id") % 22 == 1).count()
        assert dropped.get("dropped_exact", 0) >= n_g1 + n_g2 > 0
        # appended index still probed in place
        plan = plan_string(out, "simple")
        assert "SelectedBucketsCount" in plan

        # round 15 (ADVICE r14): a RETRIED append must be idempotent —
        # both increments are anti-join-guarded, so re-running the same
        # dump inserts zero rows and the index stays exactly the
        # fresh-rebuild state (no duplicate band rows inflating probes)
        n_fp = spark.table("t_app_idx_fp").count()
        n_bands = spark.table("t_app_idx_bands").count()
        append_to_prior_index(spark, g2, "t_app_idx")
        assert spark.table("t_app_idx_fp").count() == n_fp
        assert spark.table("t_app_idx_bands").count() == n_bands
        assert n_bands == spark.table("t_app_fresh_bands").count()
        retry = sorted(
            map(
                tuple,
                dedup_against_prior(spark, probe, "t_app_idx").collect(),
            )
        )
        assert retry == want
    finally:
        for t in (
            "t_app_idx_fp",
            "t_app_idx_bands",
            "t_app_fresh_fp",
            "t_app_fresh_bands",
        ):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_prior_index_writes_one_file_per_bucket(spark, sf_dir):
    """Each write of the persisted index (the persist and every append)
    reaches the writer through an exchange on the bucket function, so
    one write generation holds at most one file per bucket — not one
    per (write task, bucket) pair — and the appended index is still
    probed in place."""
    import re
    from collections import Counter

    from presto_copy_spark.operators.incremental import (
        append_to_prior_index,
        dedup_against_prior,
        persist_prior_index,
    )
    from presto_copy_spark.plans.inspect import plan_string

    g1, g2, probe = _two_generations(spark, sf_dir)
    # bucketed data files are part-<task>-<write job uuid>_<bucket id>...
    name = re.compile(r"part-\d+-([0-9a-f-]{36})_(\d{5})\.")
    try:
        persist_prior_index(spark, g1, "t_opb_idx", n_buckets=4)
        append_to_prior_index(spark, g2, "t_opb_idx")
        for t in ("t_opb_idx_fp", "t_opb_idx_bands"):
            files = [f.rsplit("/", 1)[1] for f in spark.table(t).inputFiles()]
            keys = [name.match(f).groups() for f in files]
            per_write = Counter(job for job, _ in keys)
            assert len(per_write) == 2, (t, files)
            assert max(per_write.values()) <= 4, (t, files)
            assert len(set(keys)) == len(keys), (t, files)
        plan = plan_string(dedup_against_prior(spark, probe, "t_opb_idx"), "simple")
        assert "SelectedBucketsCount" in plan
    finally:
        for t in ("t_opb_idx_fp", "t_opb_idx_bands"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_append_retry_after_failed_fp_insert_matches_fresh_rebuild(
    spark, sf_dir, tmp_path, monkeypatch
):
    """An append that crashes after its bands insert but before its fp
    insert (the fp table is written last) must leave an index that a
    plain retry brings to exactly the fresh two-generation rebuild: the
    batch probe labels like the rebuild, the failed attempt's band rows
    are absorbed rather than duplicated, and the stream probe keeps
    exactly the rebuild's exact-stage survivors, with every
    generation-2 re-crawl dropped."""
    import pytest
    from pyspark.sql.readwriter import DataFrameWriter

    from presto_copy_spark.operators.incremental import (
        append_to_prior_index,
        dedup_against_prior,
        persist_prior_index,
        stream_dedup_against_prior,
    )
    from presto_copy_spark.operators.text import hash60
    from presto_copy_spark.streaming.jobs import run_stream_to_batch

    g1, g2, probe = _two_generations(spark, sf_dir)

    def labels(prefix):
        out = dedup_against_prior(spark, probe, prefix)
        return sorted(map(tuple, out.collect()))

    real_insert = DataFrameWriter.insertInto

    def failing_fp_insert(self, tableName, overwrite=None):
        if tableName.endswith("_fp"):
            raise RuntimeError("injected fp insert failure")
        return real_insert(self, tableName, overwrite)

    try:
        persist_prior_index(spark, g1, "t_rty_idx", n_buckets=4)
        with monkeypatch.context() as m:
            m.setattr(DataFrameWriter, "insertInto", failing_fp_insert)
            with pytest.raises(RuntimeError, match="injected fp insert failure"):
                append_to_prior_index(spark, g2, "t_rty_idx")

        append_to_prior_index(spark, g2, "t_rty_idx")  # the retry
        persist_prior_index(spark, g1.unionByName(g2), "t_rty_fresh", n_buckets=4)
        assert labels("t_rty_idx") == labels("t_rty_fresh")
        # the failed attempt's band rows were absorbed, not duplicated
        assert (
            spark.table("t_rty_idx_bands").count()
            == spark.table("t_rty_fresh_bands").count()
        )

        dump = str(tmp_path / "dump")
        probe.write.parquet(dump)
        schema = spark.read.parquet(dump).schema
        stream = spark.readStream.schema(schema).format("parquet").load(dump)
        out = run_stream_to_batch(
            stream_dedup_against_prior(stream, spark, "t_rty_idx"),
            mode="append",
        )
        got = sorted(r["doc_id"] for r in out.select("doc_id").collect())
        kept = (
            probe.withColumn("fp", hash60(F.col("text")))
            .join(spark.table("t_rty_fresh_fp"), "fp", "left_anti")
            .select("doc_id")
            .collect()
        )
        assert got == sorted(r["doc_id"] for r in kept)
        assert not [i for i in got if i >= 20_000_000]  # g2 re-crawls dropped
    finally:
        for t in (
            "t_rty_idx_fp",
            "t_rty_idx_bands",
            "t_rty_fresh_fp",
            "t_rty_fresh_bands",
        ):
            spark.sql(f"DROP TABLE IF EXISTS {t}")



def test_append_keeps_null_text_out_of_the_fp_table(spark):
    """A null text hashes to a null fp, which never matches in the
    append's left-anti guard; unfiltered, each append and each retry
    would insert it again.  A null fp can never match a probe either,
    so the index holds none: the append-grown index, appended twice,
    equals a fresh rebuild over both generations."""
    from presto_copy_spark.operators.incremental import (
        append_to_prior_index,
        persist_prior_index,
    )

    def index_rows(prefix):
        return [
            sorted(map(tuple, spark.table(f"{prefix}_{t}").collect()), key=repr)
            for t in ("fp", "bands")
        ]

    schema = "doc_id long, text string"
    g1 = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, None)], schema
    )
    g2 = spark.createDataFrame(
        [(3, "epsilon zeta eta theta"), (4, None)], schema
    )
    try:
        persist_prior_index(spark, g1, "t_nul_idx", n_buckets=4)
        append_to_prior_index(spark, g2, "t_nul_idx")
        append_to_prior_index(spark, g2, "t_nul_idx")
        persist_prior_index(
            spark, g1.unionByName(g2), "t_nul_fresh", n_buckets=4
        )
        grown = index_rows("t_nul_idx")
        assert grown == index_rows("t_nul_fresh")
        assert len(grown[0]) == 2 and (None,) not in grown[0], grown[0]
    finally:
        for t in ("t_nul_idx_fp", "t_nul_idx_bands", "t_nul_fresh_fp", "t_nul_fresh_bands"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_append_guards_read_the_index_in_place(spark, sf_dir, monkeypatch):
    """The append's anti-join guards merge-join each increment against
    its bucketed table: no broadcast, each index scan bucketed and fed
    to its join with no exchange between, and the fp increment's
    distinct() and the write's bucket repartition riding the one
    exchange of the increment onto the bucket function."""
    from presto_copy_spark.operators.incremental import (
        append_to_prior_index,
        persist_prior_index,
    )
    from presto_copy_spark.plans.inspect import _jvm_children, plan_string
    from presto_copy_spark.sources import connectors

    g1, g2, _ = _two_generations(spark, sf_dir)
    handed = {}
    real_insert_into = connectors.insert_into

    def capturing_insert_into(name, df):
        handed[name] = df
        real_insert_into(name, df)

    def merge_joins(df):
        stack, out = [df._jdf.queryExecution().executedPlan()], []
        while stack:
            node = stack.pop()
            if node.nodeName() == "SortMergeJoin":
                out.append(node)
            stack.extend(_jvm_children(node))
        return out

    try:
        persist_prior_index(spark, g1, "t_gip_idx", n_buckets=4)
        monkeypatch.setattr(connectors, "insert_into", capturing_insert_into)
        append_to_prior_index(spark, g2, "t_gip_idx")
        assert set(handed) == {"t_gip_idx_fp", "t_gip_idx_bands"}
        for name, df in handed.items():
            plan = plan_string(df, "simple")
            assert "BroadcastExchange" not in plan, (name, plan)
            (join,) = merge_joins(df)
            index_side = join.right().treeString()
            assert f"{name}[" in index_side, (name, index_side)
            assert "Bucketed: true" in index_side, (name, index_side)
            assert "Exchange" not in index_side, (name, index_side)
        fp_inc = handed["t_gip_idx_fp"]
        assert plan_string(fp_inc, "simple").count("Exchange") == 1
        assert plan_string(fp_inc.repartition(4, "fp"), "simple").count("Exchange") == 1
    finally:
        for t in ("t_gip_idx_fp", "t_gip_idx_bands"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_prior_index_edge_inputs(spark, sf_dir):
    """Edge inputs of the persisted index: built without n_buckets it
    takes one bucket per core of the session (defaultParallelism);
    appending an empty dump writes no data file and leaves both tables'
    rows as they were; probing an empty dump returns no rows."""
    from presto_copy_spark.operators.incremental import (
        append_to_prior_index,
        dedup_against_prior,
        persist_prior_index,
    )

    g1, _, _ = _two_generations(spark, sf_dir)
    empty = g1.limit(0)
    tables = ("t_edge_idx_fp", "t_edge_idx_bands")
    try:
        persist_prior_index(spark, g1, "t_edge_idx")
        for t in tables:
            spec = {
                r["col_name"]: r["data_type"]
                for r in spark.sql(f"DESCRIBE TABLE EXTENDED {t}").collect()
            }
            assert int(spec["Num Buckets"]) == spark.sparkContext.defaultParallelism

        def files_and_rows():
            return [
                (sorted(spark.table(t).inputFiles()), spark.table(t).count())
                for t in tables
            ]

        before = files_and_rows()
        append_to_prior_index(spark, empty, "t_edge_idx")
        assert files_and_rows() == before
        assert dedup_against_prior(spark, empty, "t_edge_idx").collect() == []
    finally:
        for t in tables:
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_quality_classifier_null_text_scores_on_bias(spark):
    """A NULL text must not null the feature vector (concat(NULL, bias)
    trap): both engines score such a doc on the bias pseudo-counts
    alone — Spark via the coalesced empty token array, the oracle via
    unnest(NULL) emitting zero token rows."""
    from presto_copy_spark.queries.pipeline import (
        _QC_BC,
        _QC_D,
        qc_featurize,
        qc_score,
    )

    df = spark.createDataFrame(
        [(1, None), (2, "a b c")], "doc_id long, text string"
    )
    w = [1] * (_QC_D + 1)
    rows = {r["doc_id"]: r for r in qc_score(qc_featurize(df), w).collect()}
    assert rows[1]["z"] == _QC_BC  # bias-only margin
    assert rows[1]["y"] == 0
    assert rows[2]["z"] == 3 + _QC_BC


def test_persisted_ann_index_matches_inline_and_prunes(spark, sf_dir):
    """operators/ann_index.py (round 15): the persisted IVFADC index
    must (a) answer queries bit-identically to the inline sim_ivfadc,
    (b) actually exploit the BY-CELL layout — a probe's codes scan
    carries a PartitionFilters literal restricted to the probed cells
    (for one query: at most IVF_NPROBE of the IVF_NCELLS partitions) —
    and (c) fold a new dump in map-only against the frozen model,
    retry-idempotently, landing exactly where encoding the full corpus
    against that same frozen model would."""
    import re

    from presto_copy_spark.catalog import load_table
    from presto_copy_spark.operators.ann_index import (
        append_to_ann_index,
        persist_ann_index,
        probe_ann_index,
    )
    from presto_copy_spark.queries import registry
    from presto_copy_spark.queries.similarity import (
        IVF_NPROBE,
        PQ_QMOD,
        ivfadc_assign,
        ivfadc_encode,
        ivfadc_quantize,
        ivfadc_search,
        ivfadc_train,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    try:
        # (a) registry probe == inline pipeline, non-trivially many rows
        got = sorted(
            map(
                tuple,
                registry.QUERIES["sim_ann_index_probe"](spark, sf_dir).collect(),
            )
        )
        want = sorted(
            map(tuple, registry.QUERIES["sim_ivfadc"](spark, sf_dir).collect())
        )
        assert got == want and len(got) > 0

        # (b) one-query probe reads at most NPROBE of the NCELLS
        # partitions, enforced at the SCAN (PartitionFilters, not a
        # post-read filter)
        corpus_all = ivfadc_quantize(emb)
        q1 = corpus_all.filter(F.col("vec_id") == 0).select(
            F.col("vec_id").alias("qid"), "qarr"
        )
        out1 = probe_ann_index(spark, q1, "t_ann_idx")
        plan = out1._jdf.queryExecution().toString()
        m = re.search(r"PartitionFilters: \[cell#\d+L? IN \(([-\d,]+)\)", plan)
        assert m, plan[:2000]
        assert len(m.group(1).split(",")) <= IVF_NPROBE, m.group(1)
        assert len(out1.collect()) > 0

        # (c) append against the frozen model == encoding the full
        # corpus with that model (the IVFADC offline-codebook contract)
        g1 = emb.filter(F.col("vec_id") % 2 == 0)
        g2 = emb.filter(F.col("vec_id") % 2 == 1)
        persist_ann_index(spark, g1, "t_ann_app")
        append_to_ann_index(spark, g2, "t_ann_app")
        qs = corpus_all.filter(F.col("vec_id") % PQ_QMOD == 0).select(
            F.col("vec_id").alias("qid"), "qarr"
        )
        got_app = sorted(
            map(tuple, probe_ann_index(spark, qs, "t_ann_app").collect())
        )
        c1, pq1 = ivfadc_train(ivfadc_quantize(g1))
        assigned_all = ivfadc_assign(corpus_all, c1)
        want_app = sorted(
            map(
                tuple,
                ivfadc_search(
                    qs, c1, pq1, ivfadc_encode(assigned_all, pq1), corpus_all
                ).collect(),
            )
        )
        assert got_app == want_app and len(got_app) > 0

        # retry-idempotency: a second append of the same dump inserts 0 rows
        n_codes = spark.table("t_ann_app_codes").count()
        n_vecs = spark.table("t_ann_app_vectors").count()
        append_to_ann_index(spark, g2, "t_ann_app")
        assert spark.table("t_ann_app_codes").count() == n_codes
        assert spark.table("t_ann_app_vectors").count() == n_vecs
        assert n_vecs == emb.count()
    finally:
        for p in ("t_ann_idx", "t_ann_app"):
            for s in ("centroids", "pq", "codes", "vectors"):
                spark.sql(f"DROP TABLE IF EXISTS {p}_{s}")
