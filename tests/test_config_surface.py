"""Guards on the engine's configuration and tooling surface.

Runtime switches travel as Spark conf (``get_spark(extra_conf=...)`` or
``spark.conf.set``); environment variables are kept for deployment,
path and size settings only.  A new ``SPARK_GRAFT_*`` variable has to
be added to ``KEPT_ENV`` here on purpose."""

from __future__ import annotations

import ast
import py_compile
import re
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent

KEPT_ENV = {
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_GRAFT_MASTER",
    "SPARK_GRAFT_SF_DIR",
    "SPARK_GRAFT_TEST_SF_DIR",
}

TOOLS = sorted((ROOT / "tools").glob("*.py"))


def _sources():
    for d in ("presto_copy_spark", "tests", "tools"):
        yield from (ROOT / d).rglob("*.py")
    yield ROOT / "bench.py"


def test_env_knobs_are_exactly_the_kept_set():
    pat = re.compile(r"SPARK_GRAFT_[A-Z0-9_]+")
    found = {m for p in _sources() for m in pat.findall(p.read_text())}
    assert found == KEPT_ENV, sorted(found ^ KEPT_ENV)


def test_tools_compile_and_import_only_existing_tools(tmp_path):
    assert TOOLS
    for p in TOOLS + [ROOT / "bench.py"]:
        py_compile.compile(str(p), cfile=str(tmp_path / f"{p.stem}.pyc"), doraise=True)
        for node in ast.walk(ast.parse(p.read_text())):
            if isinstance(node, ast.ImportFrom) and (node.module or "").startswith("tools."):
                target = ROOT / "tools" / (node.module.split(".", 1)[1] + ".py")
                assert target.exists(), f"{p.name} imports missing {node.module}"
