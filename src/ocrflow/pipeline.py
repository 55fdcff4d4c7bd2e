"""The distributed extraction pipeline (SURVEY.md §3.2 — the flagship).

    read ──► prune ──► salted repartition ──► Arrow kernel ──► write

Scale design (BASELINE.json north_rule; SURVEY.md §4):

- **Column pruning before the kernel**: only (conv_id, turn_idx, text,
  role) reach the Python worker; Catalyst pushes the projection into
  the Parquet scan (`ReadSchema` carries 4 columns, not 6). role feeds
  the A6 role prior (tool/system turns need more evidence to keep).
- **Native prefilters stay ahead of the UDF** — Python kernels are
  pushdown barriers, so anything expressible as a Column goes first.
- **Explicit skew handling (A10)**: repartition on
  (hash(conv_id), pmod(turn_idx, salt)) spreads a monster conversation
  over ≤`salt_buckets` partitions. The kernel is stateless per turn, so
  salting cannot change bytes; conversation-level reassembly (A8)
  regroups by *unsalted* conv_id. Size salt_buckets ≥ partitions/2:
  with salt=8 a 100k-turn conversation made 12.5k-turn cells whose
  partition collisions produced 50s straggler tasks at 32 cores
  (measured, 1M-turn bench); salt=64 restores near-uniform cells.
- **One shuffle total, no sort**: the kernel is stateless per turn and
  the ordering CONTRACT is enforced where it is semantic — the A8
  reassembly array_sort — so the pipeline does not pay a
  within-partition sort it does not need (32-core history, not
  re-measured since: the sort was ~30% of wall).
- **Broadcast model state (A9)**: weights dict broadcast once;
  executors deserialize once per process.
- **Zero per-row Python at the Spark API level**: the only Python is
  the Arrow batch kernel; everything else is Column expressions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import chartables as ct
from .kernel import EXTRACTED_DDL, SPAN_KINDS, make_kernel

DEFAULT_SALT_BUCKETS = 64


def salted_key(salt_buckets: int = DEFAULT_SALT_BUCKETS):
    """Deterministic salt: splits a conversation across ≤salt_buckets
    partitions. xxhash64 is a JVM-side codegen'd expression."""
    return [F.xxhash64(F.col("conv_id")),
            F.pmod(F.col("turn_idx").cast("long"), F.lit(salt_buckets))]


def extract_df(spark: SparkSession, transcripts: DataFrame,
               partitions: int | None = None,
               salt_buckets: int = DEFAULT_SALT_BUCKETS,
               lineage_acc=None, input_file_col: str | None = None) -> DataFrame:
    """Build the extraction plan over a transcripts DataFrame (lazy)."""
    b = spark.sparkContext.broadcast(ct.default_weights())

    cols = ["conv_id", "turn_idx", "text"]
    if "role" in transcripts.columns:
        cols.append("role")  # feeds the A6 role prior
    if input_file_col:
        cols.append(input_file_col)
    pruned = transcripts.select(*cols)

    if partitions is None:
        partitions = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    salted = pruned.repartition(partitions, *salted_key(salt_buckets))

    kern = make_kernel(b, lineage_acc=lineage_acc, input_file_col=input_file_col)
    return salted.mapInArrow(kern, EXTRACTED_DDL)


def decode_spans(extracted: DataFrame) -> DataFrame:
    """Add human-readable span kinds (lazy, JVM-side dictionary lookup).

    The hot path ships kind as a tinyint code; this view decodes it only
    where a consumer actually reads strings — element_at over a constant
    array costs nothing until evaluated.
    """
    kinds = F.array(*[F.lit(k) for k in SPAN_KINDS])
    return extracted.withColumn(
        "spans",
        F.transform("spans", lambda s: F.struct(
            s["start"].alias("start"),
            s["end"].alias("end"),
            F.element_at(kinds, s["kind_code"] + 1).alias("kind"),
            s["score"].alias("score"))))


def assemble_conversations(extracted: DataFrame) -> DataFrame:
    """A8 conversation reassembly: stable (conv_id, turn_idx) order via
    sorted struct collection — all JVM-side built-ins, no Python.

    array_sort on struct(turn_idx, text) orders by turn_idx (first
    field) — the stable-turn-ordering contract of the north rule.
    Groups by UNSALTED conv_id (salting never leaks into ordering).
    """
    return (extracted
            .groupBy("conv_id")
            .agg(F.array_sort(F.collect_list(
                F.struct("turn_idx", "extracted_text"))).alias("turns"))
            .select(
                "conv_id",
                F.size("turns").alias("n_turns"),
                F.array_join(
                    F.transform("turns", lambda s: s["extracted_text"]),
                    "\n").alias("conversation_text")))

