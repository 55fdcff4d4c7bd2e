"""Custom Python data source (PySpark 4 DataSource API).

`spark.read.format("ocrflow_synth")` — the synthetic transcripts
corpus as a first-class pluggable SOURCE instead of a pre-materialized
DataFrame: the engine asks the source for partitions, each partition
generates its global-id slice with the same pure `synth.gen_turn`
the rest of the repo uses, so the rows are identical to
`synth.synth_dataframe` / `synth.gen_rows` (tested by content
equality).

Why this exists: the reference's ingest seam is "a table appears";
Spark's modern pluggable seam for that is the Python DataSource API —
options flow in (`turns`, `seed`, `monster_every`, `partitions`),
partition planning happens source-side, and every executor reads only
its slice (no driver materialization, no broadcast). The same class is
where a real corpus connector (object-store listing → per-file
partitions) would plug in.
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)


class _SliceParts(InputPartition):
    def __init__(self, lo: int, hi: int):
        self.lo, self.hi = lo, hi


class SynthTranscriptsReader(DataSourceReader):
    def __init__(self, options):
        self.turns = int(options.get("turns", 1000))
        self.seed = int(options.get("seed", 42))
        self.monster_every = int(options.get("monster_every", 1000))
        self.monster_size = int(options.get("monster_size", 100000))
        self.n_parts = int(options.get("partitions", 8))

    def partitions(self):
        per = -(-self.turns // self.n_parts)  # ceil
        return [_SliceParts(i * per, min((i + 1) * per, self.turns))
                for i in range(self.n_parts) if i * per < self.turns]

    def read(self, partition):
        # executed on executors
        return _gen_slice(partition.lo, partition.hi, self.seed,
                          self.monster_every, self.monster_size, self.turns)


def _gen_slice(lo: int, hi: int, seed: int, monster_every: int,
               monster_size: int, turns: int):
    """Rows for global turn ids [lo, hi) — shared by the batch
    partitions and the stream waves, so stream == batch by
    construction."""
    import numpy as np

    from ocrflow.synth import _conv_lookup, gen_turn, plan_sizes

    sizes = plan_sizes(turns, seed, monster_every, monster_size)
    offsets = _conv_lookup(sizes)
    ids = np.arange(lo, hi)
    conv = np.searchsorted(offsets, ids, side="right") - 1
    turn = ids - offsets[conv]
    for ci, ti in zip(conv.tolist(), turn.tolist()):
        row = gen_turn(int(ci), int(ti), seed)
        yield (row["conv_id"], row["turn_idx"], row["role"],
               row["text"], row["tool"], row["ts"])


class SynthTranscriptsStreamReader(SimpleDataSourceStreamReader):
    """Streaming half of the source (PySpark 4 simpleStreamReader):
    the same deterministic corpus arrives in bounded WAVES of
    ``batch_turns`` rows per micro-batch; the offset is just the
    global turn position, so recovery replay (readBetweenOffsets)
    regenerates exactly the committed wave — the pure-function analog
    of a replayable log, and why stream == batch byte-for-byte."""

    def __init__(self, options):
        self.turns = int(options.get("turns", 1000))
        self.seed = int(options.get("seed", 42))
        self.monster_every = int(options.get("monster_every", 1000))
        self.monster_size = int(options.get("monster_size", 100000))
        self.batch_turns = int(options.get("batch_turns", 500))

    def initialOffset(self) -> dict:
        return {"pos": 0}

    def read(self, start: dict):
        pos = int(start["pos"])
        end = min(pos + self.batch_turns, self.turns)
        rows = list(_gen_slice(pos, end, self.seed, self.monster_every,
                               self.monster_size, self.turns))
        return (iter(rows), {"pos": end})

    def readBetweenOffsets(self, start: dict, end: dict):
        return _gen_slice(int(start["pos"]), int(end["pos"]), self.seed,
                          self.monster_every, self.monster_size,
                          self.turns)


class SynthTranscriptsDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "ocrflow_synth"

    def schema(self) -> str:
        from ocrflow.synth import TRANSCRIPTS_DDL
        return TRANSCRIPTS_DDL

    def reader(self, schema) -> DataSourceReader:
        return SynthTranscriptsReader(self.options)

    def simpleStreamReader(self, schema) -> SimpleDataSourceStreamReader:
        return SynthTranscriptsStreamReader(self.options)


def register(spark) -> None:
    spark.dataSource.register(SynthTranscriptsDataSource)
