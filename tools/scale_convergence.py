#!/usr/bin/env python
"""Scale-convergence measurement: Spark vs DuckDB on identical layouts.

BASELINE.md's claim is that the bench gap at sf0.1 is overhead-bound
(single-row-group files -> 1-task scans + per-job fixed costs) and
shrinks with scale.  This script measures it instead of asserting it:

  layout A  sf0.1 as-is          (single file per table, 1 row group)
  layout B  sf0.1 split          (same rows, 32 parquet files)
  layout C  sf1-ish              (10x key-shifted copies, 32 files)

Layout C multiplies the fact tables with SHIFTED join keys (copy i adds
i * 10^7 to orderkey/custkey/partkey/suppkey) so join cardinalities
scale linearly like a real sf1 — plain row duplication would square
join outputs.  Dimension tables nation/region are shared.

Both engines read the SAME parquet directories; DuckDB runs the literal
oracle SQL of each query.  Usage:

    python tools/scale_convergence.py [--queries q01,q03,...]

Writes a markdown table to stdout (BASELINE.md's convergence section).
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

OUT = "/tmp/spark_graft_scale"
SRC = "/root/testdata/sf0.1"
OFF = 10_000_000
COPIES = 10

KEYED = {
    "lineitem": ["l_orderkey", "l_partkey", "l_suppkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "customer": ["c_custkey"],
    "supplier": ["s_suppkey"],
    "part": ["p_partkey"],
}
SHARED = ["nation", "region"]
# Corpus tables for the pipeline-operator suite: doc_id/vec_id shift
# like the TPC-H keys, and each copy's TEXT is made globally dissimilar
# (every token prefixed with a copy tag) so the shingle/minhash/simhash
# workload scales linearly — verbatim text copies would multiply every
# LSH bucket 10x and square the candidate pairs, which is an adversarial
# duplicate structure, not a bigger corpus.
CORPUS = {"documents": "doc_id", "embeddings": "vec_id"}
# events scales like the fact tables: copy i shifts event_id AND
# user_id, so per-user sessionization/dedup/window workloads grow
# linearly in users (verbatim copies would multiply per-user state).
EVENTS_KEYS = ["event_id", "user_id"]


def _build_shifted(spark, big_dir: str, copies: int) -> None:
    """Key-shifted layout with `copies` copies of the fact/corpus
    tables (join cardinalities scale linearly; see module docstring)."""
    from pyspark.sql import functions as F

    os.makedirs(big_dir, exist_ok=True)
    for name in list(KEYED) + SHARED:
        src = spark.read.parquet(f"{SRC}/{name}.parquet")
        bp = f"{big_dir}/{name}.parquet"
        if not os.path.exists(f"{bp}/_SUCCESS"):
            if name in KEYED:
                parts = [
                    src.select(
                        *[
                            (F.col(c) + i * OFF).alias(c) if c in KEYED[name] else F.col(c)
                            for c in src.columns
                        ]
                    )
                    for i in range(copies)
                ]
                big = parts[0]
                for c in parts[1:]:
                    big = big.unionByName(c)
            else:
                big = src
            n = 32 if name in ("lineitem", "orders") else 4
            if copies > 30:  # sf10x: keep file sizes task-friendly
                n *= 2
            big.repartition(n).write.mode("overwrite").parquet(bp)
    for name, key in CORPUS.items():
        src = spark.read.parquet(f"{SRC}/{name}.parquet")
        bp = f"{big_dir}/{name}.parquet"
        if not os.path.exists(f"{bp}/_SUCCESS"):
            parts = []
            for i in range(copies):
                c = src.withColumn(key, F.col(key) + i * OFF)
                if name == "documents":
                    c = c.withColumn(
                        "text", F.regexp_replace("text", " ", f" x{i}")
                    ).withColumn("n_chars", F.length("text"))
                parts.append(c)
            big = parts[0]
            for c in parts[1:]:
                big = big.unionByName(c)
            big.repartition(8 if copies <= 10 else 16).write.mode(
                "overwrite"
            ).parquet(bp)
    bp = f"{big_dir}/events.parquet"
    if not os.path.exists(f"{bp}/_SUCCESS"):
        from presto_copy_spark.catalog import load_table

        # through load_table: the fixture is TIMESTAMP(NANOS), which the
        # plain reader rejects; the shifted copy lands as micros, which
        # both engines scan natively
        src = load_table(spark, SRC, "events")
        parts = [
            src.select(
                *[
                    (F.col(c) + i * OFF).alias(c) if c in EVENTS_KEYS else F.col(c)
                    for c in src.columns
                ]
            )
            for i in range(copies)
        ]
        big = parts[0]
        for c in parts[1:]:
            big = big.unionByName(c)
        big.repartition(8 if copies <= 10 else 16).write.mode(
            "overwrite"
        ).parquet(bp)


def build_layouts(
    spark, include_sf3x: bool = False, include_sf10x: bool = False
) -> dict[str, str]:
    layouts = {"sf0.1": SRC}
    split_dir = f"{OUT}/sf0.1_split"
    os.makedirs(split_dir, exist_ok=True)
    from presto_copy_spark.catalog import load_table

    for name in list(KEYED) + SHARED + list(CORPUS) + ["events"]:
        # events through load_table (TIMESTAMP(NANOS) fixture)
        src = (
            load_table(spark, SRC, name)
            if name == "events"
            else spark.read.parquet(f"{SRC}/{name}.parquet")
        )
        sp = f"{split_dir}/{name}.parquet"
        if not os.path.exists(f"{sp}/_SUCCESS"):
            n = 32 if name in ("lineitem", "orders") else 4
            src.repartition(n).write.mode("overwrite").parquet(sp)
    _build_shifted(spark, f"{OUT}/sf1x", COPIES)
    layouts["sf0.1_split"] = split_dir
    layouts["sf1x"] = f"{OUT}/sf1x"
    if include_sf3x:
        # one more decade of the convergence curve: 30 key-shifted
        # copies (~sf3) — the trend line sf0.1 -> sf1x -> sf3x is the
        # load-bearing 100 TB evidence (BASELINE.md §scale convergence)
        _build_shifted(spark, f"{OUT}/sf3x", 3 * COPIES)
        layouts["sf3x"] = f"{OUT}/sf3x"
    if include_sf10x:
        # the round-9 TPC-H decade (VERDICT r8 ask: the relational
        # suite needs the third decade the pipeline suite already has):
        # 100 key-shifted copies ~ sf10 — 60M lineitem rows, 64 files
        _build_shifted(spark, f"{OUT}/sf10x", 10 * COPIES)
        layouts["sf10x"] = f"{OUT}/sf10x"
    return layouts


PIPELINE_QUERIES = (
    "dedup_minhash_lsh,dedup_simhash,text_repetition,docs_vocab_coverage,"
    "docs_filter_funnel,docs_pack_sequences,sim_pq_adc,sim_topk_bruteforce,"
    # round-4 additions: the composed ANN and the learned-cluster dedup
    "sim_ivfadc,dedup_semantic,"
    # round-12: sub-document line dedup (added late r11 with sf0.1
    # evidence only; VERDICT r11 ask #2 — the decade row) and URL-level
    # dedup (new r12)
    "dedup_lines,dedup_urls,"
    # round-13: incremental cross-snapshot dedup
    "dedup_incremental,"
    # round-14: exact-substring spans + the learned quality gate.
    # CAVEAT for docs_quality_classifier in THIS tool: its training
    # runs driver-side at DataFrame build, so the noop-save timing here
    # prices scoring only — the train-inclusive decade numbers are in
    # BASELINE.md §r14.
    "dedup_exact_substring,docs_quality_classifier"
)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", default="tpch_q01,tpch_q03,tpch_q05,tpch_q06,tpch_q09,tpch_q10,tpch_q18,tpch_q21")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument(
        "--suite",
        choices=["tpch", "pipeline"],
        default="tpch",
        help="pipeline = the LLM-corpus operator set over documents/embeddings",
    )
    ap.add_argument(
        "--sf10x",
        action="store_true",
        help="add the 100-copy (~sf10) decade to the layout sweep",
    )
    ap.add_argument(
        "--layouts",
        default=None,
        help="comma list to restrict measured layouts (e.g. sf1x,sf3x)",
    )
    args = ap.parse_args()
    names = (
        PIPELINE_QUERIES.split(",") if args.suite == "pipeline" else args.queries.split(",")
    )

    import duckdb

    from presto_copy_spark.queries import registry
    from presto_copy_spark.session import get_spark

    registry.load_all()
    # shuffle partitions sized to the layouts measured here (1x-10x of
    # the sf0.1 fixtures): the local-session default of 8 fits sf0.1;
    # these sweeps get the full core count (session.py sizing note).
    from presto_copy_spark.session import default_parallelism

    spark = get_spark("scale-convergence", shuffle_partitions=default_parallelism())
    layouts = build_layouts(spark, include_sf3x=True, include_sf10x=args.sf10x)
    if args.layouts:
        keep = set(args.layouts.split(","))
        layouts = {k: v for k, v in layouts.items() if k in keep}

    print(f"| layout | engine | {' | '.join(n.removeprefix('tpch_') for n in names)} | total |")
    print("|---|---|" + "---|" * (len(names) + 1))
    for lname, ldir in layouts.items():
        spark_t, duck_t = {}, {}
        # streaming rows: measure the batch-parity twin, exactly as the
        # bench headline does (the twin is the plan price; the streaming
        # machinery premium is measured separately in bench.py) — the
        # REAL streaming path re-plans per micro-batch and checkpoint-
        # WALs, which is a different quantity than the decade curve.
        from presto_copy_spark.streaming.jobs import BATCH_PARITY

        for q in names:
            df = (BATCH_PARITY.get(q) or registry.QUERIES[q])(spark, ldir)
            df.write.format("noop").mode("overwrite").save()
            samples = []
            for _ in range(args.runs):
                t0 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                samples.append(time.perf_counter() - t0)
            spark_t[q] = statistics.median(samples)
        con = duckdb.connect()
        for t in list(KEYED) + SHARED + list(CORPUS) + ["events"]:
            p = f"{ldir}/{t}.parquet"
            glob = p if os.path.isfile(p) else f"{p}/*.parquet"
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{glob}'")
        for q in names:
            con.sql(registry.ORACLES[q]).fetchall()  # warm
            samples = []
            for _ in range(args.runs):
                t0 = time.perf_counter()
                con.sql(registry.ORACLES[q]).fetchall()
                samples.append(time.perf_counter() - t0)
            duck_t[q] = statistics.median(samples)
        con.close()
        for eng, td in (("spark", spark_t), ("duckdb", duck_t)):
            cells = " | ".join(f"{td[q]:.3f}" for q in names)
            print(f"| {lname} | {eng} | {cells} | {sum(td.values()):.3f} |")
        ratio = sum(spark_t.values()) / sum(duck_t.values())
        print(f"| {lname} | ratio | {' | '.join(f'{spark_t[q]/duck_t[q]:.1f}x' for q in names)} | {ratio:.1f}x |")


if __name__ == "__main__":
    main()
