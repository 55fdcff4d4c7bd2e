"""Local pre-submit copy of the driver's DuckDB oracle check (SURVEY §5.4).

Runs every QUERIES entry with an ORACLE twin at sf0.001 (fast; the
driver uses sf0.01), under the tuned session and again under a stock
one, through bench/sweep.py's oracle_mismatch: equal column names and
equal non-empty str()-rendered, column-sorted, row-sorted rows.
"""

import importlib.util
import os

import duckdb
import pytest

import ocrflow.dataops  # noqa: F401 — registers dataops queries
import ocrflow.multimodal  # noqa: F401 — registers mm_* queries
from ocrflow.queries import ORACLE, QUERIES
from ocrflow.streaming import STREAM_QUERIES

QUERIES = {**QUERIES, **STREAM_QUERIES}  # oracled stream_* keys join the gate

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = os.environ.get("OCRFLOW_TEST_SF_DIR", "/root/testdata/sf0.001")

_spec = importlib.util.spec_from_file_location(
    "sweep", os.path.join(REPO, "bench", "sweep.py"))
sweep = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(sweep)

#: rows-only keys empty at every scale, each with the planted-fixture
#: test that checks its output instead
EMPTY_ON_SF = {
    "dedup_embedding_cosine": "tests/test_dataops.py::"
    "test_embedding_dedup_finds_planted_duplicate[dedup_embedding_cosine]",
    "dedup_embedding_lsh": "tests/test_dataops.py::"
    "test_embedding_dedup_finds_planted_duplicate[dedup_embedding_lsh]",
}


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for name in sweep.TABLES:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{SF_DIR}/{name}.parquet')")
    yield con
    con.close()


@pytest.fixture(scope="module")
def stock(spark):
    """A session sharing the test context with every modifiable SQL conf
    the tuned builder set unset again, except the UTC time zone the
    oracle comparison needs."""
    s = spark.newSession()
    for k, _ in spark.sparkContext.getConf().getAll():
        if (k.startswith("spark.sql.") and k != "spark.sql.session.timeZone"
                and s.conf.isModifiable(k)):
            s.conf.unset(k)
    return s


# every oracled key; the name is kept so its test ids stay stable
@pytest.mark.parametrize("name", sorted(ORACLE))
def test_guarded_query_matches_oracle_stock_session(stock, duck, name):
    assert stock.conf.get("spark.sql.shuffle.partitions") == "200"
    _assert_matches_oracle(stock, duck, name)


@pytest.mark.parametrize("name", sorted(ORACLE))
def test_query_matches_oracle(spark, duck, name):
    _assert_matches_oracle(spark, duck, name)


def _assert_matches_oracle(spark, duck, name):
    issue = sweep.oracle_mismatch(QUERIES[name](spark, SF_DIR),
                                  duck.execute(ORACLE[name]))
    assert issue is None, f"{name} at {SF_DIR}: {issue}"


#: stopwords next to non-ASCII letters (where Java's Unicode-aware \b
#: and RE2's ASCII \b disagree), an underscore and a digit
_STOP_EDGES = ["the日本 and", "Theα the_end", "éthe and", "a the an", "the1 of"]


def test_n_stop_matches_duckdb_next_to_non_ascii(spark, duck):
    from ocrflow.queries import n_stop

    df = spark.createDataFrame(list(enumerate(_STOP_EDGES)),
                               "id int, text string")
    got = [r["n"] for r in
           df.select("id", n_stop().alias("n")).orderBy("id").collect()]
    want = [duck.execute(
        r"SELECT array_length(regexp_extract_all(lower(?),"
        r" '\b(the|a|an|and|or|of|to|in|is|it)\b'))", [t]).fetchone()[0]
        for t in _STOP_EDGES]
    assert want == [2, 1, 2, 3, 1]
    assert got == want


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLE)))
def test_rows_only_queries_run(spark, name):
    n = QUERIES[name](spark, SF_DIR).count()
    if name in EMPTY_ON_SF:
        assert n == 0, (f"{name} has rows now: drop it from EMPTY_ON_SF "
                        f"(its output is checked by {EMPTY_ON_SF[name]})")
    else:
        assert n > 0, f"{name}: empty result at {SF_DIR}"
