"""Streaming parity vs batch recomputation (SURVEY.md §5.7)."""

import os

import pytest
from pyspark.sql import functions as F

from ocrflow.streaming import STREAM_QUERIES

SF_DIR = os.environ.get("OCRFLOW_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="module")
def events(spark):
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return spark.read.parquet(f"{SF_DIR}/events.parquet")


def _rows(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_stream_tumbling_parity(spark, events):
    got = STREAM_QUERIES["stream_tumbling"](spark, SF_DIR)
    batch = (events.groupBy(F.window("ts", "1 minute").alias("w"), "event_type")
             .agg(F.count("*").alias("n"))
             .select(F.col("w.start").alias("w_start"), "event_type", "n"))
    assert _rows(got, "w_start", "event_type", "n") == \
        _rows(batch, "w_start", "event_type", "n")


def test_stream_key_leaves_no_checkpoint_dir(spark):
    import glob
    import tempfile

    pattern = os.path.join(tempfile.gettempdir(), "ocrflow_ckpt_*")
    before = set(glob.glob(pattern))
    assert STREAM_QUERIES["stream_tumbling"](spark, SF_DIR).count() > 0
    assert set(glob.glob(pattern)) - before == set()


def test_stream_data_keys_leave_no_scratch_dir(spark, events):
    """The file sink and the upsert key remove their scratch
    directories, and the frames they return still read after the
    removal."""
    import glob
    import tempfile

    prefixes = ("ocrflow_sink_", "ocrflow_upsert_src_", "ocrflow_upsert_tbl_",
                "ocrflow_ckpt_")

    def scratch():
        return {p for pre in prefixes for p in
                glob.glob(os.path.join(tempfile.gettempdir(), pre + "*"))}

    before = scratch()
    n_events = events.count()
    assert STREAM_QUERIES["stream_sink"](spark, SF_DIR).count() == n_events
    n_users = events.select("user_id").distinct().count()
    assert STREAM_QUERIES["stream_upsert_sink"](spark, SF_DIR).count() == n_users
    assert scratch() - before == set()


def test_stream_sliding_parity(spark, events):
    got = STREAM_QUERIES["stream_sliding"](spark, SF_DIR)
    batch = (events.groupBy(F.window("ts", "5 minutes", "1 minute").alias("w"))
             .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("v"))
             .select(F.col("w.start").alias("w_start"), "n", "v"))
    assert _rows(got, "w_start", "n") == _rows(batch, "w_start", "n")


def test_stream_session_runs(spark):
    got = STREAM_QUERIES["stream_session"](spark, SF_DIR)
    rows = got.collect()
    assert rows, "session windows should close under availableNow"
    assert all(r["w_end"] > r["w_start"] for r in rows)


def test_stream_watermark_late(spark, events):
    got = STREAM_QUERIES["stream_watermark_late"](spark, SF_DIR)
    n_windows_batch = (events.groupBy(F.window("ts", "1 minute"))
                       .count().count())
    # append mode emits only windows closed by the final watermark:
    # a suffix of windows near max(ts) stays open → strictly fewer rows
    assert 0 < got.count() < n_windows_batch


def test_stream_join_static_parity(spark, events):
    got = STREAM_QUERIES["stream_join_static"](spark, SF_DIR)
    cust = (spark.read.parquet(f"{SF_DIR}/customer.parquet")
            .select("c_custkey", "c_mktsegment"))
    batch = (events.join(cust, events.user_id == cust.c_custkey)
             .select("event_id", "user_id", "c_mktsegment"))
    assert _rows(got, "event_id", "user_id", "c_mktsegment") == \
        _rows(batch, "event_id", "user_id", "c_mktsegment")


def test_stream_stream_join_parity(spark, events):
    got = STREAM_QUERIES["stream_stream_join"](spark, SF_DIR)
    c = (events.filter("event_type = 'click'")
         .select(F.col("event_id").alias("click_id"),
                 F.col("user_id").alias("c_user"), F.col("ts").alias("c_ts")))
    p = (events.filter("event_type = 'purchase'")
         .select(F.col("event_id").alias("purchase_id"),
                 F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts")))
    batch = p.join(c, F.expr(
        "c_user = p_user AND c_ts BETWEEN p_ts - INTERVAL 1 HOUR AND p_ts"
    )).select("purchase_id", "click_id")
    assert _rows(got, "purchase_id", "click_id") == \
        _rows(batch, "purchase_id", "click_id")
    assert got.count() > 0


def test_stream_dedup_parity(spark, events):
    got = STREAM_QUERIES["stream_dedup"](spark, SF_DIR)
    assert got.count() == events.select("event_id").distinct().count()


def test_stream_stateful_final_counts(spark, events):
    got = STREAM_QUERIES["stream_stateful"](spark, SF_DIR)
    # update-mode memory sink: keep each user's LAST emitted row
    final = {}
    for r in got.collect():
        final[r["user_id"]] = r["n_events"]
    batch = {r["user_id"]: r["n"] for r in
             events.groupBy("user_id").agg(F.count("*").alias("n")).collect()}
    assert final == batch


def test_stream_sink_exactly_once_rows(spark, events):
    got = STREAM_QUERIES["stream_sink"](spark, SF_DIR)
    assert got.count() == events.count()
    assert set(got.columns) == {"event_id", "user_id", "value"}


# -- round 3: transformWithStateInPandas (environment-gated) --------------

class _StubState:
    def __init__(self):
        self._v, self._exists = None, False

    def exists(self):
        return self._exists

    def get(self):
        return self._v

    def update(self, v):
        self._v, self._exists = v, True

    def clear(self):
        self._v, self._exists = None, False


class _StubHandle:
    def __init__(self):
        self.timers, self.state = [], _StubState()

    def getValueState(self, name, schema):
        return self.state

    def listTimers(self):
        return list(self.timers)

    def deleteTimer(self, t):
        self.timers.remove(t)

    def registerTimer(self, t):
        self.timers.append(t)


class _StubTimerValues:
    def __init__(self, now_ms):
        self._now = now_ms

    def getCurrentProcessingTimeInMs(self):
        return self._now


def test_tws_processor_session_semantics():
    """Drive the TWS StatefulProcessor directly (the protobuf state
    protocol is environment-blocked; the processor's LOGIC is plain
    Python): counts accumulate across batches, the idle timer is
    re-armed on input, fires once to emit a 'closed' row, and a
    returning key starts a fresh session."""
    import pandas as pd
    from ocrflow.streaming import UserSessionProcessor

    p = UserSessionProcessor(timeout_ms=10)
    h = _StubHandle()
    p.init(h)
    ts = pd.Timestamp("2024-01-01")
    out1 = list(p.handleInputRows(
        (7,), iter([pd.DataFrame({"ts": [ts, ts]})]), _StubTimerValues(100)))
    assert out1[0].iloc[0].tolist() == [7, "update", 2]
    assert h.timers == [110]
    # new input re-arms the timer (old one deleted)
    out2 = list(p.handleInputRows(
        (7,), iter([pd.DataFrame({"ts": [ts]})]), _StubTimerValues(105)))
    assert out2[0].iloc[0].tolist() == [7, "update", 3]
    assert h.timers == [115]                 # exactly one, re-armed
    # idle: timer fires -> closed row, state cleared
    closed = list(p.handleExpiredTimer((7,), _StubTimerValues(120), None))
    assert closed[0].iloc[0].tolist() == [7, "closed", 3]
    assert not h.state.exists()
    # a second expiry for the same key is a no-op (state already gone)
    assert list(p.handleExpiredTimer((7,), _StubTimerValues(130), None)) == []
    # returning user starts over
    out3 = list(p.handleInputRows(
        (7,), iter([pd.DataFrame({"ts": [ts]})]), _StubTimerValues(200)))
    assert out3[0].iloc[0].tolist() == [7, "update", 1]


@pytest.mark.skipif(
    not __import__("ocrflow.streaming", fromlist=["_has_tws_proto"])
    ._has_tws_proto(),
    reason="google.protobuf absent: transformWithStateInPandas state "
           "protocol cannot run in this sandbox")
def test_stream_stateful_tws_parity(spark, events):
    got = STREAM_QUERIES["stream_stateful_tws"](spark, SF_DIR)
    upd = got.filter("kind = 'update'")
    final = (upd.groupBy("user_id").agg(F.max("n_events").alias("n_events")))
    exp = events.groupBy("user_id").count()
    assert ({(r["user_id"], r["n_events"]) for r in final.collect()}
            == {(r["user_id"], r["count"]) for r in exp.collect()})


def test_stream_upsert_sink_matches_batch_merge(spark):
    """foreachBatch → icelite merge_upsert across 3 micro-batches must
    equal the batch latest-per-user answer regardless of where the
    micro-batch boundaries fell (the streaming-MERGE contract)."""
    from pyspark.sql import Window as W, functions as F

    from ocrflow.streaming import stream_upsert_sink

    res = stream_upsert_sink(spark, SF_DIR)
    got = sorted(map(tuple, res.collect()))
    e = (spark.read.parquet(f"{SF_DIR}/events.parquet")
         .withColumn("ord", F.struct("ts", "event_id")))
    w = W.partitionBy("user_id").orderBy(F.col("ord").desc())
    want = sorted(map(tuple, (
        e.withColumn("_rn", F.row_number().over(w)).filter("_rn = 1")
        .select("user_id", "event_id", "ts", "event_type", "value")
        .collect())))
    assert got and got == want


def test_stream_curation_parity(spark):
    """The streaming curation rollup equals the batch recomputation of
    the same gate → dedup → agg chain (dedup keeps one row per content
    hash; counts/avg are hash-set-independent, so parity is exact)."""
    from pyspark.sql import functions as F

    from ocrflow.streaming import STREAM_QUERIES

    sf = "/root/testdata/sf0.001"
    got = {(r["lang"], r["source"]): (r["n_docs"], round(r["avg_chars"], 6))
           for r in STREAM_QUERIES["stream_curation"](spark, sf).collect()}

    d = spark.read.parquet(f"{sf}/documents.parquet")
    n_word = F.size(F.expr(r"regexp_extract_all(text, '[A-Za-z0-9]+', 0)"))
    n_stop = F.size(F.expr(
        r"regexp_extract_all(lower(text),"
        r" '\\b(the|a|an|and|or|of|to|in|is|it)\\b', 0)"))
    gated = (d.filter(F.col("text").isNotNull() & (F.length("text") > 0))
             .withColumn("n_word", n_word).withColumn("n_stop", n_stop)
             .filter((F.col("n_word") >= 5)
                     & (F.col("n_chars").cast("double")
                        / F.greatest("n_word", F.lit(1))).between(3, 15)
                     & ((F.col("lang") != "en") | (F.col("n_stop") > 0)))
             .withColumn("h", F.md5("text")).dropDuplicates(["h"]))
    exp = {(r["lang"], r["source"]): (r["n_docs"], round(r["avg_chars"], 6))
           for r in gated.groupBy("lang", "source")
           .agg(F.count("*").alias("n_docs"),
                F.avg("n_chars").alias("avg_chars")).collect()}
    assert got == exp and got
