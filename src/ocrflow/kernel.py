"""The Arrow record-batch extraction kernel (SURVEY.md §2.A A2–A7, A9).

This is the graft analog of the reference's inference hot loop: the JVM
streams Arrow record batches into the Python worker
(``df.mapInArrow``), and the kernel runs the A2–A7 extraction per batch.
The per-turn Python loop does only what is inherently per document —
A2 sniff, A3 block parse and A7 stitch; A6 classify, A4 span
segmentation and span scoring each run once over the whole batch, as
the reference's ``model.predict(batch)`` does. Span columns are
assembled as flat Arrow buffers — no per-span Python objects cross
back. Model state (weights/thresholds) arrives via
a Spark broadcast created once per run and deserialized once per
executor (A9), mirroring the reference's load-model-once behavior.

Batch size is governed by ``spark.sql.execution.arrow.maxRecordsPerBatch``
— the graft analog of the reference's inference batch size
(BASELINE.json north_star: "inference batches sized per Arrow record
batch to keep the classify kernel saturated").

Each task first drops the zip importers from the worker's import cache
(``_drop_zip_importers``). Executors load pyspark from
``$SPARK_HOME/python/lib/pyspark.zip``, and a reused Python worker
calls ``importlib.invalidate_caches()`` at the start of every task
(``pyspark.worker_util.setup_spark_files``). On CPython 3.11 that makes
every cached ``zipimport.zipimporter`` re-read its archive's whole
central directory: 16 importers once the kernel has run (12 for the
1,328-entry pyspark.zip and the subpackages imported from it, 2 each
for py4j and the spark-core jar). On a 4-vCPU host, cProfile put 30.9 of
50.8 s of 52 reused-worker tasks in those re-reads, and the median gap
from task launch to a UDF's first line was ~280 ms. With the drop it is
~30 ms, and in a traced ``extract_skewed`` pass the kernel stage's
median task fell from 0.34 to 0.20 s. Dropping the entries is safe:
the path finder makes a new importer on the next lookup, and zipimport
keeps each parsed directory in its module cache, so that does not
re-read the archive either. The first task of each worker still pays
once; where nothing is imported from a zip the helper finds nothing to
drop.
"""

from __future__ import annotations

import sys
import time
import zipimport

import numpy as np
import pyarrow as pa

from . import chartables as ct
from . import reference as R

#: Spark DDL for the extracted table (SURVEY.md §1.2, amended: span kind
#: ships as a dictionary CODE, not a string — 5.6M per-span UTF8String
#: materializations in the JVM collapsed 32-core throughput ~6x; decode
#: lazily with pipeline.decode_spans() / kernel.SPAN_KINDS)
EXTRACTED_DDL = (
    "conv_id string, turn_idx int, extracted_text string, "
    "spans array<struct<start:int, end:int, kind_code:tinyint, score:double>>, "
    "payload_kind string, n_spans int"
)

_SPAN_STRUCT = pa.struct([
    pa.field("start", pa.int32()),
    pa.field("end", pa.int32()),
    pa.field("kind_code", pa.int8()),
    pa.field("score", pa.float64()),
])

_OUT_SCHEMA = pa.schema([
    pa.field("conv_id", pa.string()),
    pa.field("turn_idx", pa.int32()),
    pa.field("extracted_text", pa.string()),
    pa.field("spans", pa.list_(_SPAN_STRUCT)),
    pa.field("payload_kind", pa.string()),
    pa.field("n_spans", pa.int32()),
])

#: kind-code → kind-string dictionary (export for consumers)
SPAN_KINDS = R.SPAN_KINDS


def extract_batch(batch: pa.RecordBatch, weights: dict) -> pa.RecordBatch:
    """Extract one Arrow batch; returns the extracted batch.

    Only A2 sniff, A3 block parse and A7 stitch run once per turn; A6
    classify, A4 span segmentation and span scoring each run once per
    batch:

    - A2+A3, per turn: ``reference.segment_blocks``.
    - A6, per batch: one ``reference._score_and_keep`` over every block
      of the batch, with one role per block.
    - A7, per turn: ``reference._stitch`` over the turn's kept blocks.
    - A4 and span scoring, per batch: one ``reference.segment_spans``
      and one ``chartables.score_spans`` over the turns' texts joined
      with '\\n' — a space class, so every turn boundary breaks a run —
      with code ranges shifted to batch positions. Spans are then split
      back per turn at the turn start offsets and rebased to their turn.

    The result equals ``reference.extract_turn_arrays`` per turn (the
    golden oracle) for any batch composition. Span columns are built
    vectorized: the kind codes ship as a dictionary code, and the list
    offsets close over the whole batch.
    """
    texts = batch.column(batch.schema.get_field_index("text")).to_pylist()
    role_idx = batch.schema.get_field_index("role")
    roles = (batch.column(role_idx).to_pylist() if role_idx >= 0
             else [None] * len(texts))
    n = len(texts)

    kinds: list[str] = []
    blocks: list[R.Block] = []
    block_roles: list[str | None] = []
    bounds = np.zeros(n + 1, dtype=np.int64)
    for i, t in enumerate(texts):
        kind, turn_blocks = R.segment_blocks(t)
        kinds.append(kind)
        blocks.extend(turn_blocks)
        block_roles.extend([roles[i]] * len(turn_blocks))
        bounds[i + 1] = len(blocks)

    kept = set(map(id, R._score_and_keep(blocks, weights, block_roles)))

    ex_texts: list[str] = []
    code_ranges: list[tuple[int, int]] = []
    turn_starts = np.zeros(n, dtype=np.int64)
    pos = 0
    for i in range(n):
        ex, turn_code = R._stitch([b for b in blocks[bounds[i]:bounds[i + 1]]
                                   if id(b) in kept])
        ex_texts.append(ex)
        code_ranges.extend((pos + s, pos + e) for s, e in turn_code)
        turn_starts[i] = pos
        pos += len(ex) + 1

    starts, ends, kcodes = R.segment_spans("\n".join(ex_texts), code_ranges)
    scores = ct.score_spans(kcodes, (ends - starts).astype(np.float64),
                            R._BASE_BY_CODE)
    owner = np.searchsorted(turn_starts, starts, side="right") - 1
    offsets = np.zeros(n + 1, dtype=np.int32)
    np.cumsum(np.bincount(owner, minlength=n), out=offsets[1:])
    base = turn_starts[owner]

    span_struct = pa.StructArray.from_arrays(
        [pa.array((starts - base).astype(np.int32), type=pa.int32()),
         pa.array((ends - base).astype(np.int32), type=pa.int32()),
         pa.array(kcodes.astype(np.int8), type=pa.int8()),
         pa.array(scores, type=pa.float64())],
        fields=list(_SPAN_STRUCT))
    spans = pa.ListArray.from_arrays(pa.array(offsets, type=pa.int32()),
                                     span_struct)
    n_spans = np.diff(offsets).astype(np.int32)

    return pa.RecordBatch.from_arrays(
        [batch.column(batch.schema.get_field_index("conv_id")),
         batch.column(batch.schema.get_field_index("turn_idx")).cast(pa.int32()),
         pa.array(ex_texts, type=pa.string()),
         spans,
         pa.array(kinds, type=pa.string()),
         pa.array(n_spans, type=pa.int32())],
        schema=_OUT_SCHEMA)


def _drop_zip_importers() -> None:
    """Delete every ``zipimporter`` from ``sys.path_importer_cache``.

    The next ``importlib.invalidate_caches()`` then re-reads no zip
    archive (see the module docstring); a later import through a zip
    path entry gets a fresh importer from zipimport's directory cache.
    """
    cache = sys.path_importer_cache
    for path, finder in list(cache.items()):
        if isinstance(finder, zipimport.zipimporter):
            del cache[path]


def make_kernel(broadcast_weights, lineage_acc=None, input_file_col: str | None = None):
    """Build the mapInArrow function.

    ``broadcast_weights`` is a ``pyspark.Broadcast`` of the model dict
    (A9: torrent-broadcast once per executor). If ``lineage_acc`` (a
    list accumulator) is given, the kernel emits one lineage record per
    task: (partition_id, input_file, rows_in, rows_out, turn_lo,
    turn_hi, wall_ms) — zero extra Spark jobs (SURVEY.md §2.A A11).
    ``wall_ms`` times the kernel generator only, from just after the
    broadcast lookup to the end of its last batch. It does not include
    the Python worker's per-task set-up before the kernel starts, which
    was once about half of each task (see the module docstring).
    """

    def kernel(batches):
        _drop_zip_importers()
        from pyspark import TaskContext
        weights = broadcast_weights.value
        t0 = time.perf_counter()
        rows = 0
        turn_lo, turn_hi = None, None
        files = set()
        for batch in batches:
            if input_file_col is not None:
                idx = batch.schema.get_field_index(input_file_col)
                # after the salted exchange a batch mixes rows of many files
                files.update(pa.compute.unique(batch.column(idx)).to_pylist())
                batch = batch.drop_columns([input_file_col])
            out = extract_batch(batch, weights)
            rows += out.num_rows
            if out.num_rows and lineage_acc is not None:
                ti = out.column(1)
                lo = pa.compute.min(ti).as_py()
                hi = pa.compute.max(ti).as_py()
                turn_lo = lo if turn_lo is None else min(turn_lo, lo)
                turn_hi = hi if turn_hi is None else max(turn_hi, hi)
            yield out
        if lineage_acc is not None:
            tc = TaskContext.get()
            pid = tc.partitionId() if tc is not None else -1
            lineage_acc.add([(pid, ",".join(sorted(files)), rows, rows,
                              turn_lo if turn_lo is not None else -1,
                              turn_hi if turn_hi is not None else -1,
                              (time.perf_counter() - t0) * 1000.0)])

    return kernel
