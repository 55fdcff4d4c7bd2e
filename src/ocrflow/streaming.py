"""Structured Streaming operator corpus (SURVEY.md §2.B streaming rows).

All queries read the events table as a file-source stream and run to
completion with ``trigger(availableNow=True)`` into a memory sink —
the driver's correctness check is rows-only (DuckDB cannot oracle
streams); tests/test_streaming.py additionally asserts parity against
the equivalent batch computation (SURVEY.md §5.7).

Scale notes: at 100 TB-rate ingest the same plans run against a Kafka
source with a real checkpointLocation on durable storage; watermarks
bound state, and `availableNow` becomes a real continuous trigger. The
stateful operator (applyInPandasWithState) keeps per-user state in the
state store — partitioned by the grouping key, so it scales with
executors like any keyed shuffle.
"""

from __future__ import annotations

import contextlib
import shutil
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from .queries import ORACLE, n_stop, n_word, quality_gate, t

EVENTS_SCHEMA = T.StructType([
    T.StructField("event_id", T.LongType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("user_id", T.LongType()),
    T.StructField("event_type", T.StringType()),
    T.StructField("value", T.DoubleType()),
    T.StructField("props", T.StringType()),
])

STREAM_QUERIES: dict = {}


def sq(name: str, sql: str | None = None):
    """Register a streaming query; ``sql`` (optional) is a DuckDB
    oracle for keys whose availableNow result is batch-deterministic —
    COMPLETE-mode aggregations equal their batch twin regardless of
    micro-batch boundaries, so they take the same string-exact gate as
    every batch key (append-mode keys stay rows-only: their emitted
    subset depends on watermark progression across batches)."""
    def deco(fn):
        STREAM_QUERIES[name] = fn
        if sql is not None:
            ORACLE[name] = sql.strip()
        return fn
    return deco


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # file-source streams need a directory; glob-filter to the events file
    return (spark.readStream.schema(EVENTS_SCHEMA)
            .option("pathGlobFilter", "events*.parquet")
            .parquet(sf_dir))


@contextlib.contextmanager
def _checkpoint_dir():
    """A checkpointLocation for a query that runs to completion inside
    the ``with`` block. Nothing reads it once the query has terminated
    (the memory table, file sink and icelite table hold the results),
    so it is removed on the way out."""
    path = tempfile.mkdtemp(prefix="ocrflow_ckpt_")
    try:
        yield path
    finally:
        shutil.rmtree(path, ignore_errors=True)


def _materialized(df: DataFrame, *dirs: str) -> DataFrame:
    """``df`` copied eagerly into executor memory (``localCheckpoint``),
    after which ``dirs`` — the scratch directories it was read from —
    are removed."""
    out = df.localCheckpoint()
    for d in dirs:
        shutil.rmtree(d, ignore_errors=True)
    return out


def _run_to_memory(stream_df: DataFrame, output_mode: str = "append") -> DataFrame:
    """Drive the streaming query to completion; return the materialized
    result as a batch DataFrame (so queries() callables stay uniform)."""
    name = f"s_{uuid.uuid4().hex[:10]}"
    with _checkpoint_dir() as ckpt:
        q = (stream_df.writeStream.outputMode(output_mode)
             .format("memory").queryName(name)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()
    spark = stream_df.sparkSession
    return spark.table(name)


@sq("stream_tumbling", """
SELECT date_trunc('minute', ts) AS w_start, event_type,
       CAST(count(*) AS BIGINT) AS n
FROM events GROUP BY 1, 2
""")
def stream_tumbling(spark, sf):
    # COMPLETE-mode tumbling count: the final materialized table equals
    # the batch group-by (1-minute epoch-aligned windows), so this
    # STREAMING key is string-exact oracled — micro-batch boundaries
    # cannot change a complete-mode aggregate.
    s = _events_stream(spark, sf)
    agg = (s.groupBy(F.window("ts", "1 minute").alias("w"), "event_type")
           .agg(F.count("*").alias("n"))
           .select(F.col("w.start").alias("w_start"), "event_type", "n"))
    return _run_to_memory(agg, "complete")


@sq("stream_sliding", """
WITH e AS (SELECT date_trunc('minute', ts) AS m, value FROM events),
x AS (SELECT m - to_minutes(CAST(k AS INT)) AS w_start, value
      FROM e, range(5) t(k))
SELECT w_start, CAST(count(*) AS BIGINT) AS n, ROUND(sum(value), 4) AS v
FROM x GROUP BY 1
""")
def stream_sliding(spark, sf):
    # COMPLETE-mode sliding agg, oracled: each event lands in the 5
    # overlapping 5-minute windows starting at floor-minute(ts)-k,
    # k ∈ 0..4 — the range-join expansion DuckDB runs explicitly.
    s = _events_stream(spark, sf)
    agg = (s.groupBy(F.window("ts", "5 minutes", "1 minute").alias("w"))
           .agg(F.count("*").alias("n"), F.sum("value").alias("v"))
           .select(F.col("w.start").alias("w_start"), "n",
                   F.round("v", 4).alias("v")))
    return _run_to_memory(agg, "complete")


@sq("stream_session")
def stream_session(spark, sf):
    s = _events_stream(spark, sf)
    agg = (s.withWatermark("ts", "1 hour")
           .groupBy(F.session_window("ts", "30 seconds").alias("w"), "user_id")
           .agg(F.count("*").alias("n"))
           .select(F.col("w.start").alias("w_start"),
                   F.col("w.end").alias("w_end"), "user_id", "n"))
    return _run_to_memory(agg, "append")


@sq("stream_watermark_late")
def stream_watermark_late(spark, sf):
    # watermark bounds state; with availableNow over one file the final
    # watermark drops windows older than max(ts) - 10 min from APPEND
    # emission until closed — rows emitted are the closed windows
    s = _events_stream(spark, sf)
    agg = (s.withWatermark("ts", "10 minutes")
           .groupBy(F.window("ts", "1 minute").alias("w"))
           .agg(F.count("*").alias("n"))
           .select(F.col("w.start").alias("w_start"), "n"))
    return _run_to_memory(agg, "append")


@sq("stream_dedup", """
SELECT event_id, user_id, event_type FROM events
""")
def stream_dedup(spark, sf):
    # Oracled: event_id is unique in the synthetic table, so streaming
    # dropDuplicates must be an exact pass-through — the oracle checks
    # the stream emits every row exactly once (duplicate-free AND
    # loss-free), independent of micro-batch boundaries.
    s = _events_stream(spark, sf)
    dd = (s.withWatermark("ts", "10 minutes")
          .dropDuplicates(["event_id"])
          .select("event_id", "user_id", "event_type"))
    return _run_to_memory(dd, "append")


@sq("stream_join_static", """
SELECT e.event_id, e.user_id, c.c_mktsegment
FROM events e JOIN customer c ON e.user_id = c.c_custkey
""")
def stream_join_static(spark, sf):
    """Stream-static enrichment join: the events stream joined to the
    static customer dimension (user_id → c_custkey). Static side is a
    plain batch DataFrame re-resolved per micro-batch — at scale it
    broadcasts per batch, no state store involved (unlike
    stream-stream joins, which need watermarked state both sides).
    ORACLED (round 4): stateless inner enrichment emits each joined row
    exactly once regardless of micro-batching, so the emitted set
    equals the batch join."""
    s = _events_stream(spark, sf)
    cust = (t(spark, sf, "customer")
            .select("c_custkey", "c_mktsegment"))
    j = (s.join(cust, s.user_id == cust.c_custkey, "inner")
         .select("event_id", "user_id", "c_mktsegment"))
    return _run_to_memory(j, "append")


@sq("stream_stream_join", """
SELECT p.event_id AS purchase_id, c.event_id AS click_id
FROM events p JOIN events c
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts
""")
def stream_stream_join(spark, sf):
    """Stream-stream interval join: purchases joined to the same user's
    clicks within the preceding hour, both sides watermarked — the
    state-store shape (each side buffers rows until its watermark
    passes the join window; the interval condition is what lets Spark
    expire state instead of keeping both streams forever).
    ORACLED (round 4): an INNER interval join emits every match whose
    rows arrive before watermark expiry; under availableNow over one
    file nothing is ever late, so the emitted set equals the batch
    interval join."""
    base = _events_stream(spark, sf)
    clicks = (base.filter(F.col("event_type") == "click")
              .select(F.col("event_id").alias("click_id"),
                      F.col("user_id").alias("c_user"),
                      F.col("ts").alias("c_ts"))
              .withWatermark("c_ts", "30 minutes"))
    purchases = (_events_stream(spark, sf)
                 .filter(F.col("event_type") == "purchase")
                 .select(F.col("event_id").alias("purchase_id"),
                         F.col("user_id").alias("p_user"),
                         F.col("ts").alias("p_ts"))
                 .withWatermark("p_ts", "30 minutes"))
    j = purchases.join(
        clicks,
        F.expr("""c_user = p_user AND
                  c_ts BETWEEN p_ts - INTERVAL 1 HOUR AND p_ts"""),
        "inner").select("purchase_id", "click_id")
    return _run_to_memory(j, "append")


@sq("stream_stateful")
def stream_stateful(spark, sf):
    """Custom stateful operator: running per-user (count, last_ts) via
    applyInPandasWithState — the streaming analog of broadcast-state
    per-glyph classification (state lives in the store, not the kernel)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    s = _events_stream(spark, sf)

    def fn(key, pdfs, state):
        cnt, last = state.get if state.exists else (0, None)
        for pdf in pdfs:
            cnt += len(pdf)
            mx = pdf["ts"].max()
            last = mx if last is None or mx > last else last
        state.update((cnt, last))
        yield pd.DataFrame({"user_id": [key[0]], "n_events": [cnt],
                            "last_ts": [last]})

    out = s.groupBy("user_id").applyInPandasWithState(
        fn,
        outputStructType="user_id long, n_events long, last_ts timestamp",
        stateStructType="cnt long, last timestamp",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout)
    return _run_to_memory(out, "update")


def _has_tws_proto() -> bool:
    """transformWithStateInPandas needs google.protobuf for its
    Python<->JVM state-server protocol (PySpark 4's
    transform_with_state_driver_worker imports StateMessage_pb2).
    protobuf is not installed in this sandbox and installs are
    blocked, so the TWS operator registers only where the dependency
    exists — same environment-gate pattern as multimodal codecs."""
    import importlib.util
    try:
        return importlib.util.find_spec("google.protobuf") is not None
    except ModuleNotFoundError:  # no `google` namespace package at all
        return False


class UserSessionProcessor:
    """StatefulProcessor for transformWithStateInPandas (Spark 4's
    successor to applyInPandasWithState): per-user running
    (count, last_ts) in NAMED value state, plus a per-key TIMER that
    closes the session after ``timeout_ms`` of processing-time
    inactivity — per-key registered timers are exactly what the old
    API cannot express (it has one implicit timeout for the whole
    operator, reset rules fixed by Spark).

    Emits ("update", n) rows on input and a terminal ("closed", n) row
    when the idle timer fires; the timer is re-armed (old one deleted)
    on every input batch, so an active key never closes. State is
    cleared on close, so a returning user starts a fresh session.

    Declared as a plain class (duck-typed to StatefulProcessor's
    interface) so its logic imports and unit-tests without protobuf;
    stream_stateful_tws subclasses it into the real API when the
    dependency exists.
    """

    OUTPUT_SCHEMA = "user_id long, kind string, n_events long"
    STATE_SCHEMA = "cnt long, last timestamp"

    def __init__(self, timeout_ms: int = 0):
        self.timeout_ms = timeout_ms

    def init(self, handle):
        self.handle = handle
        self.state = handle.getValueState("sess", self.STATE_SCHEMA)

    def handleInputRows(self, key, rows, timerValues):
        import pandas as pd
        cnt, last = self.state.get() if self.state.exists() else (0, None)
        for pdf in rows:
            cnt += len(pdf)
            mx = pdf["ts"].max()
            last = mx if last is None or mx > last else last
        self.state.update((cnt, last))
        for t in self.handle.listTimers():
            self.handle.deleteTimer(t)
        self.handle.registerTimer(
            timerValues.getCurrentProcessingTimeInMs() + self.timeout_ms)
        yield pd.DataFrame({"user_id": [key[0]], "kind": ["update"],
                            "n_events": [cnt]})

    def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
        import pandas as pd
        if not self.state.exists():
            return
        cnt, _last = self.state.get()
        self.state.clear()
        yield pd.DataFrame({"user_id": [key[0]], "kind": ["closed"],
                            "n_events": [cnt]})

    def handleInitialState(self, key, initialState, timerValues):  # pragma: no cover
        pass

    def close(self):
        pass


if _has_tws_proto():  # pragma: no cover — protobuf absent in sandbox
    @sq("stream_stateful_tws")
    def stream_stateful_tws(spark, sf):
        """stream_stateful on the transformWithStateInPandas API:
        named state + per-key timers + RocksDB state store. Output
        (filtered to 'update' rows) matches stream_stateful/batch.
        """
        from pyspark.sql.streaming import StatefulProcessor

        proc = type("_P", (UserSessionProcessor, StatefulProcessor), {})()
        prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass",
                              None)
        spark.conf.set(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider")
        try:
            s = _events_stream(spark, sf)
            out = s.groupBy("user_id").transformWithStateInPandas(
                statefulProcessor=proc,
                outputStructType=UserSessionProcessor.OUTPUT_SCHEMA,
                outputMode="Update", timeMode="ProcessingTime")
            return _run_to_memory(out, "update")
        finally:
            if prev is not None:
                spark.conf.set(
                    "spark.sql.streaming.stateStore.providerClass", prev)


@sq("stream_sink")
def stream_sink(spark, sf):
    """Checkpointed file sink: write the stream to parquet with a real
    checkpointLocation, then read the sink back (exactly-once files)."""
    out_dir = tempfile.mkdtemp(prefix="ocrflow_sink_")
    s = _events_stream(spark, sf).select("event_id", "user_id", "value")
    with _checkpoint_dir() as ckpt:
        q = (s.writeStream.format("parquet")
             .option("path", out_dir)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()
    return _materialized(spark.read.parquet(out_dir), out_dir)


@sq("stream_upsert_sink")
def stream_upsert_sink(spark, sf):
    """Streaming MERGE INTO: foreachBatch reduces each micro-batch to
    its latest row per user, then merge_upserts it into an icelite
    table — the standard Spark pattern for streaming upserts into a
    table format (foreachBatch is the merge escape hatch; a plain
    streaming sink can only append). The input is re-staged as three
    files read with maxFilesPerTrigger=1, so the merge genuinely runs
    across MULTIPLE micro-batches and the final table must equal the
    batch latest-per-key answer regardless of where the batch
    boundaries fell. Latest-wins order is the total order
    struct(ts, event_id), so the result is deterministic even under
    duplicate timestamps.

    Scale notes: each epoch's merge is the COW merge_upsert — one keyed
    shuffle of (current ∪ batch); at 100 TB the per-epoch rewrite is
    restricted to the key-bucket partitions the batch touches (see
    merge_upsert's scale note) and the table compacts on a schedule.
    """
    import os

    from .icelite import IceliteTable

    stage = tempfile.mkdtemp(prefix="ocrflow_upsert_src_")
    tbl_dir = tempfile.mkdtemp(prefix="ocrflow_upsert_tbl_")
    shutil.rmtree(tbl_dir)
    (t(spark, sf, "events")
     .repartition(3).write.mode("overwrite").parquet(stage))
    tbl = IceliteTable(tbl_dir)

    def upsert_batch(batch_df, epoch_id: int):
        from pyspark.sql import Window as W
        b = batch_df.withColumn("ord", F.struct("ts", "event_id"))
        w = W.partitionBy("user_id").orderBy(F.col("ord").desc())
        latest = (b.withColumn("_rn", F.row_number().over(w))
                  .filter(F.col("_rn") == 1).drop("_rn"))
        tbl.merge_upsert(batch_df.sparkSession, latest,
                         key_cols=("user_id",), order_col="ord")

    stream = (spark.readStream.schema(EVENTS_SCHEMA)
              .option("maxFilesPerTrigger", 1).parquet(stage))
    with _checkpoint_dir() as ckpt:
        q = (stream.writeStream.foreachBatch(upsert_batch)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()
    return _materialized(
        tbl.read(spark).select("user_id", "event_id", "ts", "event_type",
                               "value"),
        stage, tbl_dir)


@sq("stream_curation")
def stream_curation(spark, sf):
    """Streaming counterpart of corpus_curation_e2e's front half: a
    documents stream is quality-gated (the corpus_quality_filter
    rules), exact-deduped on content hash, and rolled up to per
    (lang, source) counts + mean length in complete mode — the
    continuous-ingestion shape of the batch curation pipeline. The
    content-hash dropDuplicates keeps unbounded state here
    (availableNow, bounded input); a production run bounds it with a
    watermark on an ingest-time column, or swaps to
    dropDuplicatesWithinWatermark — same plan otherwise."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    s = (spark.readStream.schema(
            "doc_id bigint, text string, lang string, source string,"
            " n_chars bigint")
         .option("pathGlobFilter", "documents*.parquet")
         .parquet(sf))
    scored = (s.filter(F.col("text").isNotNull() & (F.length("text") > 0))
              .withColumn("n_word", n_word()).withColumn("n_stop", n_stop()))
    gated = (quality_gate(scored).withColumn("h", F.md5("text"))
             .dropDuplicates(["h"]))
    agg = (gated.groupBy("lang", "source")
           .agg(F.count("*").alias("n_docs"),
                F.avg("n_chars").alias("avg_chars")))
    return _run_to_memory(agg, "complete")
