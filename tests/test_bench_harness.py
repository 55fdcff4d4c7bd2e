"""Checks on the bench/ harnesses: the growth replicator and the
scripts' imports of one another."""

import ast
import glob
import importlib.util
import os

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(REPO, "bench")
SF_DIR = os.environ.get("OCRFLOW_TEST_SF_DIR", "/root/testdata/sf0.001")

FACT_KEYS = {"documents": "doc_id", "events": "event_id",
             "embeddings": "vec_id", "orders": "o_orderkey",
             "lineitem": None}


@pytest.fixture(scope="module")
def growth():
    spec = importlib.util.spec_from_file_location(
        "growth", os.path.join(BENCH, "growth.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_replicate_doubles_facts_and_links_dims(spark, growth, tmp_path):
    out = growth.replicate(spark, SF_DIR, 2, str(tmp_path / "x2"))
    for name, key in FACT_KEYS.items():
        base = spark.read.parquet(f"{SF_DIR}/{name}.parquet")
        rep = spark.read.parquet(f"{out}/{name}.parquet")
        assert rep.count() == 2 * base.count(), name
        if key:
            assert rep.select(key).distinct().count() == rep.count(), name

    docs = spark.read.parquet(f"{out}/documents.parquet")
    n = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    rep1 = docs.filter(f"doc_id >= {10 * n}").collect()
    assert len(rep1) == n
    assert all(r["text"].endswith(" rep1") for r in rep1)

    for name in growth.STATIC_TABLES:
        path = os.path.join(out, f"{name}.parquet")
        assert os.path.exists(path), name
        assert (spark.read.parquet(path).count()
                == spark.read.parquet(f"{SF_DIR}/{name}.parquet").count())


def _imported_modules(path):
    with open(path) as fh:
        tree = ast.parse(fh.read(), path)
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and node.level == 0:
            yield node.module.split(".")[0]
        elif isinstance(node, ast.Import):
            for alias in node.names:
                yield alias.name.split(".")[0]


def _resolves(mod):
    """A sibling script, a module of this repo (root or src/), or an
    installed one."""
    for d in (BENCH, REPO, os.path.join(REPO, "src")):
        if (os.path.exists(os.path.join(d, f"{mod}.py"))
                or os.path.exists(os.path.join(d, mod, "__init__.py"))):
            return True
    return importlib.util.find_spec(mod) is not None


def test_bench_imports_resolve():
    scripts = sorted(glob.glob(os.path.join(BENCH, "*.py")))
    assert scripts
    missing = [f"{os.path.basename(p)}: {mod}" for p in scripts
               for mod in _imported_modules(p) if not _resolves(mod)]
    assert not missing, missing
