"""Local pre-submit copy of the driver's DuckDB oracle check (SURVEY §5.4).

Runs every QUERIES entry with an ORACLE twin at sf0.001 (fast; the
driver uses sf0.01) and compares row count, column names, and
order-insensitive values (floats to 1e-9 rel tol).
"""

import math
import os
import types

import duckdb
import pytest

import ocrflow.dataops  # noqa: F401 — registers dataops queries
import ocrflow.multimodal  # noqa: F401 — registers mm_* queries
from ocrflow.queries import ORACLE, QUERIES
from ocrflow.streaming import STREAM_QUERIES

QUERIES = {**QUERIES, **STREAM_QUERIES}  # oracled stream_* keys join the gate

SF_DIR = os.environ.get("OCRFLOW_TEST_SF_DIR", "/root/testdata/sf0.001")
TABLES = ("region nation customer supplier part orders lineitem "
          "events documents embeddings").split()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for name in TABLES:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet('{SF_DIR}/{name}.parquet')")
    yield con
    con.close()


def _norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return v
    if hasattr(v, "isoformat"):  # datetime/date
        return v.isoformat().replace("+00:00", "")
    return v


def _rows_sorted(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm(r[i]) for i in idx) for r in rows]
    return sorted(out, key=repr)


def _close(a, b):
    if isinstance(a, float) and isinstance(b, (float, int)):
        return math.isclose(a, float(b), rel_tol=1e-9, abs_tol=1e-9)
    return a == b


def _code_names(code) -> set:
    names = set(code.co_names)
    for c in code.co_consts:
        if isinstance(c, types.CodeType):
            names |= _code_names(c)
    return names


def _guarded(fn, seen=frozenset()) -> bool:
    """fn calls widen() or pin(), directly or through an ocrflow helper
    (e.g. dataops._docs_tokenized)."""
    names = _code_names(fn.__code__)
    if names & {"widen", "pin"}:
        return True
    return any(_guarded(h, seen | {fn})
               for h in (fn.__globals__.get(n) for n in names)
               if isinstance(h, types.FunctionType) and h not in seen
               and h.__module__.startswith("ocrflow"))


#: oracled keys behind the scan-parallelism guard or a pushdown barrier
GUARDED = sorted(k for k in ORACLE if _guarded(QUERIES[k]))


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


def test_guarded_keys_found():
    assert {"corpus_curation_e2e", "emb_quantize_int8", "decontaminate_fuzzy",
            "str_regexp", "ann_lsh_recall"} <= set(GUARDED)


@pytest.mark.parametrize("name", GUARDED)
def test_guarded_query_matches_oracle_stock_session(stock, duck, name):
    assert stock.conf.get("spark.sql.shuffle.partitions") == "200"
    _assert_matches_oracle(stock, duck, name)


@pytest.mark.parametrize("name", sorted(ORACLE))
def test_query_matches_oracle(spark, duck, name):
    _assert_matches_oracle(spark, duck, name)


def _assert_matches_oracle(spark, duck, name):
    sdf = QUERIES[name](spark, SF_DIR)
    s_rows = sdf.collect()
    s_cols = sdf.columns

    rel = duck.execute(ORACLE[name])
    d_cols = [d[0] for d in rel.description]
    d_rows = rel.fetchall()

    assert sorted(s_cols) == sorted(d_cols), (
        f"{name}: column mismatch spark={sorted(s_cols)} duck={sorted(d_cols)}")
    assert len(s_rows) == len(d_rows), (
        f"{name}: row count spark={len(s_rows)} duck={len(d_rows)}")
    # the driver sweep flags empty results as issues — catch them here
    # too (a vacuously-true oracle verifies nothing)
    assert len(s_rows) > 0, f"{name}: empty result at {SF_DIR}"

    s_sorted = _rows_sorted(s_cols, [tuple(r) for r in s_rows])
    d_sorted = _rows_sorted(d_cols, d_rows)
    for i, (sr, dr) in enumerate(zip(s_sorted, d_sorted)):
        for a, b in zip(sr, dr):
            assert _close(a, b), (
                f"{name}: value mismatch at sorted row {i}: spark={sr} duck={dr}")


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


def test_rows_only_queries_run(spark):
    for name in sorted(set(QUERIES) - set(ORACLE)):
        df = QUERIES[name](spark, SF_DIR)
        assert df.count() >= 0, name
