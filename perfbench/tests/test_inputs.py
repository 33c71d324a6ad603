"""The benchmark's inputs are a function of the seed alone.

    python3 -m pytest perfbench/tests -q

The fast tests check the generated inputs; ``test_two_seeds_both_correct``
runs the ingest workload end to end for two seeds (about two minutes).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, ROOT)

import inputs  # noqa: E402

from presto_copy_spark.catalog import default_sf_dir  # noqa: E402

DOCS = os.path.join(default_sf_dir(), "documents.parquet")
pytestmark = pytest.mark.skipif(not os.path.exists(DOCS), reason="sf0.1 fixtures absent")


def _contents(manifest: dict) -> list:
    paths = [manifest["prior"]] + [d["path"] for d in manifest["dumps"]]
    planted = [(d["planted_exact"], d["planted_near"]) for d in manifest["dumps"]]
    return [pq.read_table(p).to_pylist() for p in paths] + [planted]


def test_same_seed_gives_identical_inputs(tmp_path):
    a = inputs.ingest_inputs(7, DOCS, str(tmp_path / "a"))
    b = inputs.ingest_inputs(7, DOCS, str(tmp_path / "b"))
    assert _contents(a) == _contents(b)
    names = [f"q{i}" for i in range(40)]
    assert inputs.query_order(7, names) == inputs.query_order(7, list(reversed(names)))


def test_other_seed_changes_order_and_dumps(tmp_path):
    a = inputs.ingest_inputs(7, DOCS, str(tmp_path / "a"))
    b = inputs.ingest_inputs(8, DOCS, str(tmp_path / "b"))
    ca, cb = _contents(a), _contents(b)
    assert all(x != y for x, y in zip(ca[:-1], cb[:-1]))
    names = [f"q{i}" for i in range(40)]
    assert inputs.query_order(7, names) != inputs.query_order(8, names)
    assert sorted(inputs.query_order(8, names)) == sorted(names)


def test_planted_recrawls_copy_indexed_documents(tmp_path):
    m = inputs.ingest_inputs(7, DOCS, str(tmp_path))
    prior = {r["text"] for r in pq.read_table(m["prior"]).to_pylist()}
    dump0 = pq.read_table(m["dumps"][0]["path"]).to_pylist()
    indexed = prior | {r["text"] for r in dump0 if r["doc_id"] < inputs.RECRAWL_ID_BASE}
    for k, d in enumerate(m["dumps"]):
        rows = {r["doc_id"]: r["text"] for r in pq.read_table(d["path"]).to_pylist()}
        assert len(rows) == d["docs"] == inputs.DUMP_FRESH + inputs.PLANT_EXACT + inputs.PLANT_NEAR
        sources = prior if k == 0 else indexed
        assert all(rows[i] in sources for i in d["planted_exact"])
        assert all(rows[i].endswith(" recrawled") for i in d["planted_near"])


def _run(seed: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), "--workload", "ingest_sf0.1",
         "--seed", str(seed), "--seconds", "1", "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=600, check=True,
    )
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_two_seeds_both_correct():
    for seed in (7, 8):
        result = _run(seed)
        assert result["correct"] and result["failed"] == 0, result
