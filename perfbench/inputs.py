"""Seeded inputs for the benchmark workloads.

Everything a run feeds the engine is derived here from ``--seed`` and
the read-only sf0.1 fixtures, without Spark: the interactive query
order and the ingest workload's prior corpus and crawl dumps.  The
ingest inputs are written once per seed as Parquet files under the
work directory; the engine only ever reads those files.
"""

from __future__ import annotations

import json
import os
import random

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Ingest layout: the prior corpus is a seeded 25% of the sf0.1 documents;
# the rest is cut into crawl dumps of DUMP_FRESH unseen documents, each
# with planted re-crawls of already-indexed documents (the prior or an
# earlier dump) under new doc ids: PLANT_EXACT verbatim copies and
# PLANT_NEAR copies whose last word is replaced.
PRIOR_SHARE = 0.25
DUMP_FRESH = 1000
PLANT_EXACT = 60
PLANT_NEAR = 40
# planted copies get ids above every fixture id, one block per dump
RECRAWL_ID_BASE = 10_000_000
# a near copy changes one word, so only documents this long keep a
# shingle Jaccard near the near-duplicate threshold
NEAR_MIN_WORDS = 40


def query_order(seed: int, names: list[str]) -> list[str]:
    """The interactive workload's query order for ``seed``."""
    names = sorted(names)
    random.Random(seed).shuffle(names)
    return names


def ingest_inputs(seed: int, docs_path: str, cache_dir: str) -> dict:
    """Write (once per seed) and describe the ingest workload's inputs.

    Returns the manifest: ``prior`` and ``dumps`` Parquet paths with
    their row counts and the planted re-crawl ids of each dump."""
    out = os.path.join(cache_dir, f"ingest-seed{seed}")
    manifest_path = os.path.join(out, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as f:
            return json.load(f)
    os.makedirs(out, exist_ok=True)

    docs = pq.read_table(docs_path, columns=["doc_id", "text"])
    ids = docs.column("doc_id").to_numpy()
    texts = docs.column("text").to_pylist()
    rng = np.random.Generator(np.random.PCG64(seed))
    perm = rng.permutation(len(ids))
    n_prior = int(len(ids) * PRIOR_SHARE)
    prior_rows = perm[:n_prior]
    fresh = perm[n_prior:]
    n_dumps = len(fresh) // DUMP_FRESH

    def write(name: str, doc_ids, doc_texts) -> str:
        path = os.path.join(out, f"{name}.parquet")
        table = pa.table(
            {"doc_id": pa.array(doc_ids, pa.int64()), "text": pa.array(doc_texts, pa.string())}
        )
        pq.write_table(table, path)
        return path

    manifest = {
        "seed": seed,
        "prior": write("prior", ids[prior_rows], [texts[i] for i in prior_rows]),
        "prior_docs": int(n_prior),
        "dumps": [],
    }
    indexed = list(prior_rows)
    long_indexed = [i for i in indexed if len(texts[i].split()) >= NEAR_MIN_WORDS]
    for k in range(n_dumps):
        rows = fresh[k * DUMP_FRESH : (k + 1) * DUMP_FRESH]
        exact_src = rng.choice(indexed, PLANT_EXACT, replace=False)
        near_src = rng.choice(long_indexed, PLANT_NEAR, replace=False)
        base = RECRAWL_ID_BASE * (k + 1)
        exact_ids = [base + j for j in range(PLANT_EXACT)]
        near_ids = [base + PLANT_EXACT + j for j in range(PLANT_NEAR)]
        near_texts = [texts[i].rsplit(" ", 1)[0] + " recrawled" for i in near_src]
        dump_ids = list(ids[rows]) + exact_ids + near_ids
        dump_texts = [texts[i] for i in rows] + [texts[i] for i in exact_src] + near_texts
        order = rng.permutation(len(dump_ids))
        manifest["dumps"].append(
            {
                "path": write(
                    f"dump{k:02d}",
                    [dump_ids[i] for i in order],
                    [dump_texts[i] for i in order],
                ),
                "docs": len(dump_ids),
                "planted_exact": exact_ids,
                "planted_near": near_ids,
            }
        )
        if k == 0:
            # a run times at least one dump cycle, so dump 0 is always
            # appended before any later dump is probed; later dumps may
            # not be, so only dump 0 joins the re-crawl sources
            indexed.extend(rows)
            long_indexed.extend(i for i in rows if len(texts[i].split()) >= NEAR_MIN_WORDS)
    tmp = manifest_path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(tmp, manifest_path)
    return manifest
