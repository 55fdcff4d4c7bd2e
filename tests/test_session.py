"""Session-level behaviour the engine's speed depends on."""

import importlib.util
import os

import ocrflow.dataops  # noqa: F401
from ocrflow.queries import QUERIES

SF_DIR = os.environ.get("OCRFLOW_TEST_SF_DIR", "/root/testdata/sf0.001")
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _suite_keys() -> list[str]:
    spec = importlib.util.spec_from_file_location(
        "perfbench_run", os.path.join(ROOT, "perfbench", "run.py"))
    run = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(run)
    return list(run.SUITE_KEYS)


def test_warm_suite_pass_compiles_nothing(spark, count_compiles):
    # The operator_suite keys, run in turn, need more whole-stage
    # codegen classes than Spark's default cache holds (100): each class
    # is then evicted before its next use and every pass recompiles all
    # of them. With the cache sized past the working set and the codegen
    # stage id out of class names, a second pass compiles none.
    keys = _suite_keys()

    def one_pass():
        for k in keys:
            QUERIES[k](spark, SF_DIR).write.format("noop").mode("overwrite").save()

    count_compiles(one_pass)
    _, compiles = count_compiles(one_pass)
    assert compiles == 0
