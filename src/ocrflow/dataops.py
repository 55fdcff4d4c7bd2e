"""Large-scale training-data pipeline operators + the UDF/UDTF surface.

First-class components alongside the relational corpus: deduplication
(exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding cosine),
similarity search (brute-force + LSH-bucketed ANN), and text analysis
(language-ID, quality scoring, token counting, fingerprinting) — each a
`queries()` entry over the driver testdata, with a DuckDB oracle where
SQL can express the semantics.

Scale notes (100 TB design point) are on each operator: what shuffles,
what broadcasts, and why the candidate-generation step is subquadratic.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import functions as F, types as T
from pyspark.sql import Window as W

from .queries import (ORACLE, QUERIES, conv_id, n_stop, n_word, pin, q,
                      quality_gate, spaced, t, widen, word_ngrams, words)

# =========================================================================
# Deduplication
# =========================================================================

@q("dedup_exact", """
SELECT md5(text) AS content_hash, min(doc_id) AS keep_id, count(*) AS n_dups
FROM documents WHERE text IS NOT NULL
GROUP BY md5(text)
""")
def dedup_exact(spark, sf):
    # exact dedup: hash-groupBy — one shuffle on the 128-bit content
    # hash; at 100 TB hash first so the shuffle moves 16B keys, not docs
    d = t(spark, sf, "documents").filter(F.col("text").isNotNull())
    return (d.groupBy(F.md5("text").alias("content_hash"))
            .agg(F.min("doc_id").alias("keep_id"),
                 F.count("*").alias("n_dups")))


@q("dedup_ngram_jaccard", """
WITH toks AS (
  SELECT doc_id, n_chars,
         list_distinct(regexp_split_to_array(text, '\\s+')) AS tk
  FROM documents WHERE text IS NOT NULL AND n_chars < 150
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       ROUND(CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE) /
             (len(a.tk) + len(b.tk) - len(list_intersect(a.tk, b.tk))), 6)
           AS jaccard
FROM toks a JOIN toks b ON a.doc_id < b.doc_id
WHERE CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE) /
      (len(a.tk) + len(b.tk) - len(list_intersect(a.tk, b.tk))) >= 0.5
""")
def dedup_ngram_jaccard(spark, sf):
    # token-set Jaccard over short docs; the small-side is broadcast so
    # the pairwise step never shuffles the corpus. At 100 TB this exact
    # variant is the verifier for MinHash candidates, not the scanner.
    d = (t(spark, sf, "documents")
         .filter(F.col("text").isNotNull() & (F.col("n_chars") < 150))
         .select("doc_id", F.array_distinct(F.split("text", r"\s+")).alias("tk")))
    a = d.alias("a")
    b = d.alias("b")
    return (a.join(F.broadcast(b), F.col("a.doc_id") < F.col("b.doc_id"))
            .withColumn("jaccard", jaccard(F.col("a.tk"), F.col("b.tk")))
            .filter(F.col("jaccard") >= 0.5)
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"),
                    F.round("jaccard", 6).alias("jaccard")))


@q("dedup_fuzzy_levenshtein", """
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       levenshtein(a.text, b.text) AS edit_dist
FROM documents a JOIN documents b ON a.doc_id < b.doc_id
WHERE a.text IS NOT NULL AND b.text IS NOT NULL
  AND a.n_chars < 200 AND b.n_chars < 200
  AND abs(length(a.text) - length(b.text)) <=
      0.4 * greatest(length(a.text), length(b.text))
  AND levenshtein(a.text, b.text) <=
      0.4 * greatest(length(a.text), length(b.text))
""")
def dedup_fuzzy_levenshtein(spark, sf):
    # character-level fuzzy dedup (edit distance ≤ 40% of the longer
    # doc): catches typo-level near-dups token ops miss. Integer
    # distances → bit-exact across engines. The length-difference
    # prefilter is a FREE lower bound on levenshtein (|len a − len b| ≤
    # dist always), so the O(len²) DP runs only on plausible pairs —
    # both engines carry it for plan parity. Like dedup_ngram_jaccard,
    # the broadcast all-pairs form is the small-scale VERIFIER twin: at
    # 100 TB the pair source is the LSH candidate stream
    # (dedup_lsh_verified's shape), with this as the exact re-check.
    d = (t(spark, sf, "documents")
         .filter(F.col("text").isNotNull() & (F.col("n_chars") < 200))
         .select("doc_id", "text", F.length("text").alias("ln")))
    a, b = d.alias("a"), d.alias("b")
    bound = 0.4 * F.greatest(F.col("a.ln"), F.col("b.ln"))
    dist = F.levenshtein(F.col("a.text"), F.col("b.text"))
    return (a.join(F.broadcast(b), F.col("a.doc_id") < F.col("b.doc_id"))
            .filter(F.abs(F.col("a.ln") - F.col("b.ln")) <= bound)
            .filter(dist <= bound)
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"),
                    dist.alias("edit_dist")))


N_MINHASH = 16          # permutations
LSH_BANDS = 4           # bands of 4 rows each
SHINGLE_K = 3           # word shingles
LSH_MAX_BUCKET = 64     # hot-bucket cap: drop degenerate band buckets

# Similarity primitives shared by the near-dup and ANN operators. Each
# is written once so every operator builds the same expression (and the
# same executed plan) for the same idea.


def emb_double():
    """``embeddings.embedding`` cast element-wise to double."""
    return F.transform("embedding", lambda x: x.cast("double"))


def dot(a, b):
    """Dot product of two double arrays as a left fold from 0.0 in index
    order — the order of DuckDB's sequential list kernels, so results
    match its list_cosine_similarity bit for bit."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, x: acc + x)


def l2norm(v):
    """Euclidean norm of a double array, folded like ``dot``."""
    return F.sqrt(F.aggregate(v, F.lit(0.0), lambda acc, x: acc + x * x))


def jaccard(a, b):
    """Token-set Jaccard |a ∩ b| / |a ∪ b| of two distinct-token arrays."""
    inter = F.size(F.array_intersect(a, b))
    return inter.cast("double") / (F.size(a) + F.size(b) - inter)


def capped_gather(df, keys, item, max_bucket):
    """Gather ``item`` per bucket ``keys`` into ``ids``, keeping buckets of
    2..max_bucket rows (``max_bucket=None``: no upper cap).

    The cap acts BEFORE the gather: a window ``count(*)`` over the
    bucket key tags every row with its bucket size on the same exchange
    the gather needs (WindowExec buffers a partition in a spillable row
    buffer — a mega-bucket goes to disk, never into a single
    aggregation buffer), the filter drops singleton and hot-bucket rows,
    and only then does ``collect_list`` run, so its per-group buffer is
    ≤ max_bucket items by construction. One shuffle total: the window's
    hashpartitioning satisfies the groupBy's required distribution.
    """
    df = (df.withColumn("bsz", F.count("*").over(W.partitionBy(*keys)))
          .filter(F.col("bsz") >= 2))
    if max_bucket is not None:
        df = df.filter(F.col("bsz") <= max_bucket)
    return df.groupBy(*keys).agg(F.collect_list(item).alias("ids"))


def expand_pairs(grouped):
    """One row ``p = struct(a, b)``, a < b, per two ids of each ``ids``
    array: the i<j combinations, emitted JVM-side with higher-order
    functions instead of a bucket self-join."""
    return grouped.select(F.explode(F.expr("""
        flatten(transform(ids, (x, i) ->
            transform(slice(ids, i + 2, size(ids)),
                      y -> struct(least(x, y) AS a, greatest(x, y) AS b))))
    """)).alias("p"))


def minhash_bands(sh, *keys):
    """MinHash signature → LSH band buckets over a ``(keys…, shingle)``
    frame: N_MINHASH xxhash64 "permutations" (min per key per seed),
    banded into LSH_BANDS buckets of N_MINHASH // LSH_BANDS rows each.
    Returns (keys…, band, bucket)."""
    hashes = sh.select(
        *keys,
        *[F.xxhash64("shingle", F.lit(s)).alias(f"h{s}") for s in range(N_MINHASH)])
    sig = hashes.groupBy(*keys).agg(
        *[F.min(f"h{s}").alias(f"m{s}") for s in range(N_MINHASH)])
    rpb = N_MINHASH // LSH_BANDS
    return sig.select(
        *keys,
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     F.xxhash64(*[F.col(f"m{b * rpb + r}")
                                  for r in range(rpb)]).alias("bucket"))
            for b in range(LSH_BANDS)])).alias("bb")
    ).select(*keys, F.col("bb.band").alias("band"),
             F.col("bb.bucket").alias("bucket"))


def sign_buckets(n_tables: int, n_bits: int, seed: int):
    """Random-hyperplane LSH as a pandas UDF: embedding → one bucket id
    per table (``n_tables`` tables of ``n_bits`` sign bits, ids
    table-qualified so tables never collide).

    The hyperplanes are derived inside the UDF from (seed, dim) per
    batch — deterministic, identical on every worker, no driver-side
    action to learn the embedding dim and nothing to broadcast (the A9
    broadcast-state idiom without the broadcast).
    """
    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def buckets_of(embs: pd.Series) -> pd.Series:
        if len(embs) == 0:
            return pd.Series([], dtype=object)
        dim = len(embs.iloc[0])
        p = np.random.default_rng(seed).standard_normal((n_tables * n_bits, dim))
        m = np.vstack([np.asarray(e, dtype=np.float64) for e in embs])
        bits = (m @ p.T) > 0                       # N × (L*b)
        bits = bits.reshape(len(m), n_tables, n_bits)
        codes = (bits @ (1 << np.arange(n_bits))).astype(np.int32)  # N × L
        codes = codes + (np.arange(n_tables, dtype=np.int32) << n_bits)
        return pd.Series(list(codes))
    return buckets_of


def cosine_topk(cand, k: int):
    """Exact-cosine re-rank of ANN candidates ``(query_id, qe, vec_id, e)``:
    the k nearest per query (ties to the lower vec_id), as
    (query_id, neighbor_id, rank, cos rounded to 4 places)."""
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), "vec_id")
    return (cand.withColumn("cos", dot("qe", "e") / (l2norm("qe") * l2norm("e")))
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", F.col("vec_id").alias("neighbor_id"),
                    "rank", F.round("cos", 4).alias("cos")))


def label_cosine_pairs(spark, sf, tau: float):
    """Embedding pairs of one label (the blocking key) at exact cosine
    ≥ tau: (vec_a < vec_b, cosine). Zero vectors are dropped."""
    em = (t(spark, sf, "embeddings")
          .select("vec_id", "label", emb_double().alias("v")))
    em = em.withColumn("n", l2norm("v")).filter(F.col("n") > 0)
    a, b = em.alias("a"), em.alias("b")
    cos = dot(F.col("a.v"), F.col("b.v")) / (F.col("a.n") * F.col("b.n"))
    return (a.join(b, (F.col("a.label") == F.col("b.label"))
                   & (F.col("a.vec_id") < F.col("b.vec_id")))
            .withColumn("cosine", cos)
            .filter(F.col("cosine") >= tau)
            .select(F.col("a.vec_id").alias("vec_a"),
                    F.col("b.vec_id").alias("vec_b"), "cosine"))


def minhash_lsh_pairs(docs, max_bucket: int = LSH_MAX_BUCKET):
    """Candidate near-dup pairs via MinHash + LSH banding over
    ``docs(doc_id, w: array<string>)``.

    All built-ins (explode + groupBy + per-bucket pair expansion):
    candidate generation is O(docs × shingles), never O(n²). At 100 TB
    the band-bucket shuffle is the only wide exchange and its keys are
    8-byte hashes.

    ``max_bucket`` caps degenerate buckets: a boilerplate-heavy corpus
    puts millions of docs in one band bucket, re-creating the
    all-pairs blowup (size² pairs from a single key). The cap is
    applied BEFORE the gather (see capped_gather), on the gather's own
    exchange, so there is no second exchange and no recompute of the
    shingle→minhash pipeline. Docs in dropped buckets are
    near-identical to so many others that exact-hash dedup or a
    per-bucket sample handles them; the cap bounds the pair output
    (≤ buckets × max_bucket²/2). Pass max_bucket=None to disable
    (collect_list then gathers unbounded arrays — only safe on corpora
    known not to degenerate).
    """
    # k-word shingles via higher-order functions (JVM-side)
    sh = docs.select(
        "doc_id",
        F.explode(F.transform(
            F.sequence(F.lit(0), F.greatest(F.size("w") - SHINGLE_K, F.lit(0))),
            lambda i: F.concat_ws(" ", F.slice("w", i + 1, SHINGLE_K)))
        ).alias("shingle")).filter(F.col("shingle") != "")
    bands = minhash_bands(sh, "doc_id")
    # pair generation WITHOUT a self-join: gather each bucket's doc ids
    # and expand the i<j combinations JVM-side. One computation of the
    # shingle→minhash pipeline and one exchange — the plan-identical
    # self-join computed the whole pipeline TWICE (ReuseExchange does
    # not fire under AQE) plus a join shuffle.
    grouped = capped_gather(bands, ["band", "bucket"], "doc_id", max_bucket)
    return (expand_pairs(grouped)
            .select(F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b"))
            .distinct())


def _docs_tokenized(spark, sf):
    # scan-parallelism guard: the shingle+minhash stage downstream is
    # the expensive part; never let a one-row-group scan serialize it
    return (widen(spark, t(spark, sf, "documents"))
            .filter(F.col("text").isNotNull() & (F.col("n_chars") < 300))
            .select("doc_id", F.split("text", r"\s+").alias("w")))


@q("dedup_minhash_lsh")  # rows-only: xxhash64 has no DuckDB twin
def dedup_minhash_lsh(spark, sf):
    """MinHash + LSH banding candidate pairs (see minhash_lsh_pairs).
    Verified downstream by dedup_lsh_verified / dedup_ngram_jaccard."""
    return minhash_lsh_pairs(_docs_tokenized(spark, sf))


@q("dedup_lsh_verified")  # rows-only: candidates come from xxhash64 LSH
def dedup_lsh_verified(spark, sf):
    """The full two-stage near-dup pipeline: LSH candidate pairs →
    exact token-set Jaccard verification (≥ 0.5) on ONLY the candidate
    pairs. This is the 100 TB shape end-to-end: the subquadratic
    scanner proposes, the exact verifier disposes — the all-pairs
    variant (dedup_ngram_jaccard) exists only as the small-scale oracle
    twin of this verifier.
    """
    docs = _docs_tokenized(spark, sf)
    cands = minhash_lsh_pairs(docs)
    toks = docs.select("doc_id", F.array_distinct("w").alias("tk"))
    j = (cands
         .join(toks.select(F.col("doc_id").alias("doc_a"),
                           F.col("tk").alias("tk_a")), "doc_a")
         .join(toks.select(F.col("doc_id").alias("doc_b"),
                           F.col("tk").alias("tk_b")), "doc_b"))
    return (j.withColumn("jaccard", F.round(jaccard("tk_a", "tk_b"), 6))
            .filter(F.col("jaccard") >= 0.5)
            .select("doc_a", "doc_b", "jaccard"))


def simhash_df(docs):
    """64-bit SimHash per doc: tokenize + xxhash64 JVM-side (codegen'd),
    then bit votes + sign packing in ONE vectorized numpy pass over the
    Arrow-delivered hash arrays — no per-token Python loop anywhere.

    Why hybrid: a pure-SQL vote loop (aggregate/zip_with over
    sequence(0,63)) is interpreted per token×bit and measured 19.5 s
    for 5k docs on 8 cores; the numpy segmented-reduce below does the
    same 64-bit vote matrix as flat array ops. The round-1 version's
    sin was a per-token Python FNV loop — hashing stays JVM.
    Returns (doc_id, simhash, bucket) where bucket is the 16-bit prefix.
    """
    @F.pandas_udf(T.LongType())
    def pack_votes(hash_arrays: pd.Series) -> pd.Series:
        lengths = hash_arrays.map(len).to_numpy(dtype=np.int64)
        out = np.zeros(len(hash_arrays), dtype=np.int64)
        nonempty = lengths > 0
        if not nonempty.any():
            return pd.Series(out)
        all_h = np.concatenate(
            [np.asarray(a, dtype=np.int64) for a in hash_arrays[nonempty]]
        ).astype(np.uint64)
        bits = ((all_h[:, None] >> np.arange(64, dtype=np.uint64)) & 1
                ).astype(np.uint8)                      # tokens × 64
        offsets = np.concatenate(([0], np.cumsum(lengths[nonempty])[:-1]))
        ones = np.add.reduceat(bits.astype(np.int64), offsets, axis=0)
        votes = 2 * ones - lengths[nonempty][:, None]   # sum of (2b-1)
        packed = ((votes > 0).astype(np.uint64)
                  << np.arange(64, dtype=np.uint64)).sum(axis=1)
        out[nonempty] = packed.astype(np.int64)
        return pd.Series(out)

    toks = "filter(split(trim(text), '\\\\s+'), x -> x <> '')"
    return (docs
            .withColumn("_hs", F.expr(f"transform({toks}, x -> xxhash64(x))"))
            .withColumn("simhash", pack_votes("_hs"))
            .withColumn("bucket", F.shiftright("simhash", 48))
            .drop("_hs"))


@q("dedup_simhash")  # rows-only: xxhash64 bit arithmetic has no SQL twin
def dedup_simhash(spark, sf):
    """SimHash near-dup buckets: near-dups share the 16-bit prefix
    bucket. The hash itself is all JVM built-ins (see simhash_df)."""
    # scan-parallelism guard: the pack_votes pandas UDF runs before any
    # exchange — one-row-group inputs would serialize it on one worker
    d = widen(spark, t(spark, sf, "documents")).filter(
        F.col("text").isNotNull())
    sh = simhash_df(d.select("doc_id", "text"))
    return (sh.groupBy("bucket")
            .agg(F.count("*").alias("n_docs"),
                 F.min("doc_id").alias("min_doc")))


@q("dedup_embedding_cosine")  # rows-only: float fold order differs per engine
def dedup_embedding_cosine(spark, sf):
    """Embedding near-dup pairs: label-blocked cosine ≥ τ. The label
    acts as the blocking key (the honest 100 TB shape: block or LSH
    first, exact cosine within the block)."""
    return label_cosine_pairs(spark, sf, 0.95).select("vec_a", "vec_b")


@q("emb_cosine_block_pairs", """
WITH v AS (
  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
), n AS (
  SELECT vec_id, label, e,
         sqrt(list_aggregate(list_transform(e, x -> x*x), 'sum')) AS nn
  FROM v
)
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       ROUND(list_cosine_similarity(a.e, b.e), 6) AS cosine
FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
WHERE a.nn > 0 AND b.nn > 0
  AND list_cosine_similarity(a.e, b.e) >= 0.4
""")
def emb_cosine_block_pairs(spark, sf):
    """The externally-verifiable twin of dedup_embedding_cosine: the
    SAME label-blocked exact-cosine machinery (JVM zip_with/aggregate
    left fold over double-cast arrays — fold order matches DuckDB's
    sequential list kernels, proven by ann_bruteforce_cosine), with the
    threshold at 0.4 — inside the synthetic corpus's within-label
    similarity range (max 0.475), where τ=0.95 on this corpus is
    vacuously empty and an empty result can't anchor an oracle. Margin
    to the nearest pair is ~1e-3, 12 orders above ULP flip risk."""
    return label_cosine_pairs(spark, sf, 0.4).select(
        "vec_a", "vec_b", F.round("cosine", 6).alias("cosine"))


# =========================================================================
# Similarity search (ANN)
# =========================================================================

ANN_K = 5
ANN_QUERIES = 4


@q("ann_bruteforce_cosine", f"""
WITH v AS (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
), qv AS (
  SELECT vec_id AS query_id, e AS qe FROM v WHERE vec_id < {ANN_QUERIES}
), scored AS (
  SELECT q.query_id, v.vec_id AS neighbor_id,
         list_cosine_similarity(q.qe, v.e) AS cos,
         row_number() OVER (PARTITION BY q.query_id
                            ORDER BY list_cosine_similarity(q.qe, v.e) DESC,
                                     v.vec_id) AS rn
  FROM qv q JOIN v ON v.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, rn AS rank FROM scored WHERE rn <= {ANN_K}
""")
def ann_bruteforce_cosine(spark, sf):
    # brute-force top-k: broadcast the query set, scan the corpus once,
    # per-partition top-k via window. The 100 TB baseline ANN.
    # scan-parallelism guard: the per-row dot products are interpreted
    # higher-order folds — one scan task would serialize them all
    em = (widen(spark, t(spark, sf, "embeddings"))
          .select("vec_id", emb_double().alias("e")))
    qs = (em.filter(F.col("vec_id") < ANN_QUERIES)
          .select(F.col("vec_id").alias("query_id"), F.col("e").alias("qe")))
    j = em.join(F.broadcast(qs), F.col("vec_id") != F.col("query_id"))
    return cosine_topk(j, ANN_K).drop("cos")


@q("ann_lsh_bucketed")  # rows-only: hyperplane seeds have no SQL twin
def ann_lsh_bucketed(spark, sf):
    """Random-hyperplane LSH ANN (the scale path): 8 hash tables of
    3 sign bits each (sign_buckets, seed 42); candidates = union over
    tables of same-bucket vectors; exact cosine re-rank.

    Tuning: more bits → smaller buckets (fewer candidates, lower
    recall); more tables → higher recall at more shuffle. At 100 TB set
    the bits ≈ log2(corpus / bucket_target) — 3 bits is sized for the
    small testdata corpus. Recall vs the brute-force twin measured in
    tests (≥0.6).
    """
    # scan-parallelism guard: buckets_of is a pandas UDF directly over
    # the scan — see dedup_simhash
    em = widen(spark, t(spark, sf, "embeddings"))
    buckets_of = sign_buckets(n_tables=8, n_bits=3, seed=42)
    emb = em.select(
        "vec_id", buckets_of("embedding").alias("buckets"),
        emb_double().alias("e"))
    flat = emb.select("vec_id", "e", F.explode("buckets").alias("bucket"))
    qs = (flat.filter(F.col("vec_id") < ANN_QUERIES)
          .select(F.col("vec_id").alias("query_id"),
                  F.col("bucket").alias("qbucket"), F.col("e").alias("qe")))
    cand = (flat.join(F.broadcast(qs),
                      (F.col("bucket") == F.col("qbucket"))
                      & (F.col("vec_id") != F.col("query_id")))
            .select("query_id", "qe", "vec_id", "e")
            .dropDuplicates(["query_id", "vec_id"]))
    return cosine_topk(cand, ANN_K)


@q("ann_lsh_recall", f"""
SELECT CAST({ANN_QUERIES} AS BIGINT) AS n_queries, true AS recall_ok
""")
def ann_lsh_recall(spark, sf):
    """Externally checkable recall row for the sign-LSH ANN scanner:
    joins ann_lsh_bucketed's candidates against the brute-force exact
    top-k (both computed in Spark, fixed seed 42) and asserts recall
    >= 0.6 — the same bound the local behavioral test enforces, here
    upgraded to a driver-verifiable row. The oracle is the CONTRACT
    (n_queries and the recall bound), not the sf-dependent recall
    value itself: hyperplanes have no SQL twin, but whether the
    scanner meets its recall spec on the given corpus is a fixed
    boolean both engines can state. Composition cost: the truth side
    is the brute-force scan (the baseline ANN), so this row doubles as
    a standing scanner-vs-verifier agreement check, same pattern as
    the dedup scanner/verifier twins."""
    truth = (ann_bruteforce_cosine(spark, sf)
             .select("query_id", "neighbor_id"))
    lsh = (ann_lsh_bucketed(spark, sf)
           .select("query_id", "neighbor_id", F.lit(1).alias("_hit")))
    marked = truth.join(lsh, ["query_id", "neighbor_id"], "left")
    return marked.agg(
        F.countDistinct("query_id").cast("bigint").alias("n_queries"),
        ((F.sum(F.coalesce("_hit", F.lit(0)))
          / F.count("*")) >= 0.6).alias("recall_ok"))


@q("dedup_embedding_lsh")  # rows-only: hyperplane seeds have no SQL twin
def dedup_embedding_lsh(spark, sf, max_bucket: int | None = LSH_MAX_BUCKET):
    """Embedding near-dup SCANNER at scale: sign-LSH buckets (6 tables
    of 4 bits, seed 7; same sign_buckets machinery as ann_lsh_bucketed)
    → within-bucket pairs → exact cosine ≥ 0.95 re-check. Subquadratic where
    dedup_embedding_cosine (the label-blocked exact verifier) is not:
    the only wide exchange is the bucket shuffle, and pair candidates
    are bounded by bucket sizes, not corpus². Bits scale with
    log2(corpus / bucket_target) exactly as the ANN twin documents.

    ``max_bucket`` bounds the gather the same way minhash_lsh_pairs
    does (capped_gather), so one dense embedding cluster (e.g. a
    near-constant-vector corpus) can never accumulate an unbounded id
    array in a single aggregation buffer. Dropped buckets mean "this
    vector is near-dup to huge numbers of others" — exact-hash dedup or
    per-bucket sampling is the right tool there, not pair expansion.
    """
    em = t(spark, sf, "embeddings")
    buckets_of = sign_buckets(n_tables=6, n_bits=4, seed=7)
    # candidate ids WITHOUT a bucket self-join: the self-join would run
    # the hyperplane UDF pipeline once per side — gather ids per bucket
    # (8-byte ids only, never the vectors) and expand i<j combinations
    # JVM-side, then join the small pair list back to the PLAIN vector
    # scan (no UDF) for the exact re-rank.
    flat = (em.select("vec_id", F.explode(buckets_of("embedding")).alias("bucket")))
    grouped = capped_gather(flat, ["bucket"], "vec_id", max_bucket)
    pairs = (expand_pairs(grouped)
             .select(F.col("p.a").alias("vec_a"), F.col("p.b").alias("vec_b"))
             .distinct())
    vec = (em.select("vec_id", emb_double().alias("v"))
           .withColumn("n", l2norm("v"))
           .filter(F.col("n") > 0))
    j = (pairs
         .join(vec.select(F.col("vec_id").alias("vec_a"),
                          F.col("v").alias("va"), F.col("n").alias("na")), "vec_a")
         .join(vec.select(F.col("vec_id").alias("vec_b"),
                          F.col("v").alias("vb"), F.col("n").alias("nb")), "vec_b"))
    return (j.withColumn("cosine", dot("va", "vb") / (F.col("na") * F.col("nb")))
            .filter(F.col("cosine") >= 0.95)
            .select("vec_a", "vec_b", F.round("cosine", 4).alias("cosine")))


# =========================================================================
# Text analysis
# =========================================================================

@q("text_lang_id", """
SELECT doc_id,
       CASE WHEN length(regexp_replace(text, '[^\\x{4e00}-\\x{9fff}]', '', 'g'))
                 > 0.3 * length(text) THEN 'cjk'
            WHEN length(regexp_replace(text, '[^a-zA-Z ]', '', 'g'))
                 > 0.5 * length(text) THEN 'latin'
            ELSE 'other' END AS lang_pred,
       lang
FROM documents WHERE text IS NOT NULL AND length(text) > 0
""")
def text_lang_id(spark, sf):
    # n-gram-free heuristic language ID: script-class character ratios —
    # all JVM-side regexps, no Python
    d = t(spark, sf, "documents").filter(
        F.col("text").isNotNull() & (F.length("text") > 0))
    cjk = F.length(F.regexp_replace("text", "[^一-鿿]", ""))
    lat = F.length(F.regexp_replace("text", "[^a-zA-Z ]", ""))
    n = F.length("text")
    return d.select(
        "doc_id",
        F.when(cjk > 0.3 * n, "cjk")
         .when(lat > 0.5 * n, "latin")
         .otherwise("other").alias("lang_pred"),
        "lang")


@q("text_quality_score", """
WITH f AS (
  SELECT doc_id,
         length(text) AS n_char,
         array_length(regexp_extract_all(text, '[A-Za-z0-9]+')) AS n_word,
         array_length(regexp_extract_all(text, '[.,;:!?]')) AS n_punct,
         array_length(regexp_extract_all(lower(text),
             '\\b(the|a|an|and|or|of|to|in|is|it)\\b')) AS n_stop
  FROM documents WHERE text IS NOT NULL AND length(text) > 0
)
SELECT doc_id, n_char, n_word,
       ROUND(CAST(n_punct AS DOUBLE) / n_char, 6) AS punct_ratio,
       ROUND(CAST(n_stop AS DOUBLE) / greatest(n_word, 1), 6) AS stopword_ratio,
       ROUND(CAST(n_char AS DOUBLE) / greatest(n_word, 1), 6) AS avg_word_len
FROM f
""")
def text_quality_score(spark, sf):
    # four regexp_extract_all passes per doc dominate; scan-parallelism
    # guard keeps them off a single scan task (guide §2.5 input skew)
    d = widen(spark, t(spark, sf, "documents")).filter(
        F.col("text").isNotNull() & (F.length("text") > 0))
    n_char = F.length("text")
    nw = n_word()
    n_punct = F.size(F.regexp_extract_all("text", F.lit("[.,;:!?]"), 0))
    return d.select(
        "doc_id", n_char.alias("n_char"), nw.alias("n_word"),
        F.round(n_punct.cast("double") / n_char, 6).alias("punct_ratio"),
        F.round(n_stop().cast("double") / F.greatest(nw, F.lit(1)), 6)
         .alias("stopword_ratio"),
        F.round(n_char.cast("double") / F.greatest(nw, F.lit(1)), 6)
         .alias("avg_word_len"))


@q("text_token_count", """
SELECT doc_id,
       array_length(regexp_split_to_array(trim(text), '\\s+')) AS ws_tokens,
       array_length(regexp_extract_all(text,
           '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]')) AS bpe_ish_tokens
FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0
""")
def text_token_count(spark, sf):
    # whitespace tokens + a BPE-ish regex segmentation (letters | digits
    # | single symbol), both JVM-side
    d = t(spark, sf, "documents").filter(
        F.col("text").isNotNull() & (F.length(F.trim("text")) > 0))
    return d.select(
        "doc_id",
        F.size(words()).alias("ws_tokens"),
        F.size(F.regexp_extract_all(
            "text", F.lit(r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"), 0))
         .alias("bpe_ish_tokens"))


@q("text_fingerprint", """
SELECT doc_id,
       md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fingerprint
FROM documents WHERE text IS NOT NULL
""")
def text_fingerprint(spark, sf):
    # canonicalized content fingerprint (whitespace-collapse + casefold
    # + md5) — the doc-level analog of the extraction content hash
    d = t(spark, sf, "documents").filter(F.col("text").isNotNull())
    return d.select(
        "doc_id",
        F.md5(F.lower(F.regexp_replace("text", r"\s+", " "))).alias("fingerprint"))


@q("corpus_quality_filter", """
WITH f AS (
  SELECT doc_id, lang, n_chars,
         array_length(regexp_extract_all(text, '[A-Za-z0-9]+')) AS n_word,
         array_length(regexp_extract_all(lower(text),
             '\\b(the|a|an|and|or|of|to|in|is|it)\\b')) AS n_stop
  FROM documents WHERE text IS NOT NULL AND length(text) > 0
)
SELECT doc_id, lang, n_chars FROM f
WHERE n_word >= 5
  AND CAST(n_chars AS DOUBLE) / greatest(n_word, 1) BETWEEN 3 AND 15
  AND (lang <> 'en' OR n_stop > 0)
""")
def corpus_quality_filter(spark, sf):
    # the quality GATE a pretraining pipeline runs after scoring:
    # min length, sane chars-per-word band, stopword evidence for
    # English — all JVM regexps, the filter composes with the parquet
    # scan (no materialized score table needed)
    d = t(spark, sf, "documents").filter(
        F.col("text").isNotNull() & (F.length("text") > 0))
    return (quality_gate(d.withColumn("n_word", n_word())
                         .withColumn("n_stop", n_stop()))
            .select("doc_id", "lang", "n_chars"))


@q("sample_deterministic", """
SELECT doc_id, lang FROM documents
WHERE text IS NOT NULL AND doc_id % 10 < 3
""")
def sample_deterministic(spark, sf):
    # reproducible corpus sampling: modulo on a stable id (the
    # hash-mod idiom — at 100 TB use pmod(xxhash64(id), 100) < rate so
    # clustered id ranges can't bias the sample; id%k keeps the oracle
    # engine-portable here). Deterministic across runs/partitions,
    # unlike df.sample().
    d = t(spark, sf, "documents").filter(F.col("text").isNotNull())
    return (d.filter(F.col("doc_id") % 10 < 3)
            .select("doc_id", "lang"))


@q("corpus_stats", """
SELECT lang,
       count(*) AS n_docs,
       CAST(sum(array_length(regexp_split_to_array(trim(text), '\\s+')))
            AS BIGINT) AS total_tokens,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       ROUND(quantile_cont(n_chars, 0.5), 1) AS median_chars,
       CAST(max(n_chars) AS BIGINT) AS max_chars
FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0
GROUP BY lang
""")
def corpus_stats(spark, sf):
    # the corpus report card (docs / tokens / chars / size percentiles
    # per language): one scan, one partial-agg shuffle on the tiny lang
    # key — the shape that stays cheap at 100 TB (swap the exact
    # percentile for percentile_approx there; the exact one keeps the
    # oracle string-identical at test scale).
    d = t(spark, sf, "documents").filter(
        F.col("text").isNotNull() & (F.length(F.trim("text")) > 0))
    toks = F.size(words())
    return (d.groupBy("lang")
            .agg(F.count("*").alias("n_docs"),
                 F.sum(toks).cast("long").alias("total_tokens"),
                 F.sum("n_chars").cast("long").alias("total_chars"),
                 F.round(F.expr("percentile(n_chars, 0.5)"), 1)
                  .alias("median_chars"),
                 F.max("n_chars").cast("long").alias("max_chars")))


@q("doc_chunking", """
WITH d AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS w
  FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0
)
SELECT doc_id,
       CAST((s - 1) / 24 AS BIGINT) AS chunk_idx,
       CAST(len(list_slice(w, s, s + 31)) AS INT) AS n_tokens,
       md5(array_to_string(list_slice(w, s, s + 31), ' ')) AS chunk_hash
FROM d, unnest(generate_series(1, len(w), 24)) AS t(s)
""")
def doc_chunking(spark, sf):
    """Context-window chunking (the pretraining packing primitive):
    split each document into 32-token chunks with stride 24 (8-token
    overlap so no span is lost at a boundary). One narrow scan → JVM
    tokenize → sequence()+explode for the start offsets → slice per
    chunk; emitted as (doc_id, chunk_idx, n_tokens, md5-of-chunk) so
    the result stays key-sized. No shuffle at all — chunking is
    embarrassingly per-row, which is exactly why it belongs in the
    scan stage of a 100 TB pipeline (downstream ops key on chunk_hash
    or (doc_id, chunk_idx)). The trailing chunk may be shorter than 32
    (kept: truncating it would drop document tails)."""
    d = (t(spark, sf, "documents")
         .filter(F.col("text").isNotNull() & (F.length(F.trim("text")) > 0))
         .select("doc_id", words().alias("w")))
    s = d.select(
        "doc_id", "w",
        F.explode(F.sequence(F.lit(1), F.size("w"), F.lit(24))).alias("s"))
    chunk = F.slice("w", F.col("s"), 32)
    return s.select(
        "doc_id",
        ((F.col("s") - 1) / 24).cast("long").alias("chunk_idx"),
        F.size(chunk).alias("n_tokens"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_hash"))


@q("sample_stratified", """
SELECT doc_id, lang FROM documents
WHERE text IS NOT NULL
  AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
      CASE WHEN lang = 'en' THEN '2000' ELSE '8000' END
""")
def sample_stratified(spark, sf):
    # STRATIFIED deterministic sampling (per-language quotas — the
    # pretraining data-mix knob: downsample the dominant language,
    # keep the tail): threshold a stable per-row hash against a
    # per-stratum rate. The first 4 hex digits of md5(id) are uniform
    # in [0, 0x10000); comparing the lowercase hex STRING against a
    # fixed-width threshold is numeric order, and md5 renders
    # identically in Spark and DuckDB — so the sample is reproducible
    # across engines, runs, and partitionings (df.sample() is none of
    # these). en keeps 2000/10000 = 12.5%, others 50%. At 100 TB the
    # rates come from corpus_stats and the same one-scan filter shape
    # composes with the quality gate; no shuffle at all.
    d = t(spark, sf, "documents").filter(F.col("text").isNotNull())
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    thr = F.when(F.col("lang") == "en", F.lit("2000")).otherwise(F.lit("8000"))
    return d.filter(bucket < thr).select("doc_id", "lang")


@q("tfidf_top_terms", """
WITH tok AS (
  SELECT doc_id, unnest(list_distinct(
           regexp_split_to_array(lower(trim(text)), '\\s+'))) AS term
  FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0
),
tok_all AS (
  SELECT doc_id, unnest(
           regexp_split_to_array(lower(trim(text)), '\\s+')) AS term
  FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0
),
tf AS (
  SELECT doc_id, term, count(*) AS tf FROM tok_all
  WHERE regexp_matches(term, '^[a-z]{3,}$') GROUP BY doc_id, term
),
df_t AS (SELECT term, count(*) AS df FROM tok
         WHERE regexp_matches(term, '^[a-z]{3,}$') GROUP BY term),
n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tok)
SELECT doc_id, term, tf, df,
       ROUND(tf * ln((n_docs + 1.0) / (df + 1.0)), 4) AS tfidf
FROM (
  SELECT f.doc_id, f.term, f.tf, d.df, n.n_docs,
         row_number() OVER (PARTITION BY f.doc_id
                            ORDER BY f.tf DESC, d.df ASC, f.term ASC) AS rn
  FROM tf f JOIN df_t d USING (term) CROSS JOIN n
) WHERE rn <= 3
""")
def tfidf_top_terms(spark, sf):
    """Per-document key-term extraction (TF-IDF): term frequencies per
    doc, document frequencies per term, top-3 terms per doc. Fully
    relational — tokenize (JVM regexp), two hash aggregations, one
    equi-join of tf against the (small, broadcastable) df table, one
    per-doc window. At 100 TB the df table is the only global state
    and it's ~vocabulary-sized; everything else partitions by doc.

    Ranking is (tf DESC, df ASC, term ASC) — integers only, so the
    top-3 cut is bit-deterministic across engines; the tfidf score
    itself multiplies by ln(), which engines round within 1 ulp, so it
    rides along ROUND(...,4)ed as a value, never as a sort key.
    """
    d = (t(spark, sf, "documents")
         .filter(F.col("text").isNotNull() & (F.length(F.trim("text")) > 0)))
    toks = d.select("doc_id", F.explode(words(lower=True)).alias("term"))
    terms = toks.filter(F.col("term").rlike("^[a-z]{3,}$"))
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dft = (terms.select("doc_id", "term").distinct()
           .groupBy("term").agg(F.count("*").alias("df")))
    n_docs = d.select(F.countDistinct("doc_id").alias("n_docs"))
    w = W.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("term").asc())
    return (tf.join(F.broadcast(dft), "term")
            .crossJoin(F.broadcast(n_docs))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 3)
            .select("doc_id", "term", "tf", "df",
                    F.round(F.col("tf") * F.log((F.col("n_docs") + 1.0)
                                                / (F.col("df") + 1.0)), 4)
                     .alias("tfidf")))


# =========================================================================
# UDF / UDAF / UDTF surface (SURVEY.md §2.B)
# =========================================================================

@q("udf_scalar_pandas", """
SELECT doc_id, ROUND(ln(1 + length(text)), 6) AS len_score
FROM documents WHERE text IS NOT NULL
""")
def udf_scalar_pandas(spark, sf):
    # Series→Series scorer: Arrow-batched, numpy-vectorized
    @F.pandas_udf(T.DoubleType())
    def len_score(texts: pd.Series) -> pd.Series:
        return np.round(np.log1p(texts.str.len().astype("float64")), 6)

    d = t(spark, sf, "documents").filter(F.col("text").isNotNull())
    return d.select("doc_id", len_score("text").alias("len_score"))


@q("udf_iter_pandas", """
SELECT doc_id,
       array_length(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens
FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0
""")
def udf_iter_pandas(spark, sf):
    # Iterator[Series]→Iterator[Series]: one-time per-worker init before
    # the batch loop (the A9 broadcast-state idiom); the body is fully
    # vectorized pandas (the round-1 per-row .map() demoed the iterator
    # surface with an anti-pattern inside it)
    @F.pandas_udf(T.IntegerType())
    def n_tokens(it: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for texts in it:
            yield (texts.str.strip().str.split().str.len()
                   .fillna(0).astype("int32"))

    d = t(spark, sf, "documents").filter(
        F.col("text").isNotNull() & (F.length(F.trim("text")) > 0))
    return d.select("doc_id", n_tokens("text").alias("n_tokens"))


@q("udf_map_arrow")  # rows-only: the extraction kernel itself
def udf_map_arrow(spark, sf):
    """RecordBatch→RecordBatch: the full A2–A7 extraction kernel applied
    to documents re-shaped as transcripts — the flagship as a corpus op."""
    from .pipeline import extract_df

    d = t(spark, sf, "documents").select(
        F.concat(F.lit("doc-"), F.col("doc_id").cast("string")).alias("conv_id"),
        F.lit(0).alias("turn_idx"),
        F.col("text"))
    out = extract_df(spark, d, partitions=8)
    return out.select("conv_id", "payload_kind", "n_spans",
                      F.length("extracted_text").alias("n_chars_out"))


@q("udf_grouped_map", """
SELECT user_id, event_id,
       value - min(value) OVER (PARTITION BY user_id) AS rebased
FROM events
""")
def udf_grouped_map(spark, sf):
    # per-group pandas repair/normalization (applyInPandas); rebasing on
    # the group MIN keeps the arithmetic exact on both engines (a mean
    # accumulates in engine-specific order — 1-ULP ties broke the
    # string-exact oracle at round-6)
    def center(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf["rebased"] = pdf["value"] - pdf["value"].min()
        return pdf[["user_id", "event_id", "rebased"]]

    e = t(spark, sf, "events")
    return e.groupBy("user_id").applyInPandas(
        center, schema="user_id long, event_id long, rebased double")


@q("udf_grouped_arrow", """
SELECT user_id, event_id,
       ROUND(max(value) OVER (PARTITION BY user_id) - value, 6) AS headroom
FROM events
""")
def udf_grouped_arrow(spark, sf):
    # per-group Arrow-native transform (PySpark 4 applyInArrow): the
    # zero-pandas grouped-map path — pyarrow.compute end to end, no
    # Series materialization. Rebasing on the group MAX keeps the
    # arithmetic a single exact double op on both engines.
    import pyarrow as pa
    import pyarrow.compute as pc

    def headroom(tbl: pa.Table) -> pa.Table:
        v = tbl.column("value")
        hr = pc.subtract(pc.max(v), v)
        return pa.table({"user_id": tbl.column("user_id"),
                         "event_id": tbl.column("event_id"),
                         "headroom": hr})

    e = t(spark, sf, "events")
    out = e.groupBy("user_id").applyInArrow(
        headroom, schema="user_id long, event_id long, headroom double")
    # final rounding JVM-side: pyarrow's pc.round lands 1 ULP away from
    # Spark/DuckDB ROUND on some values (scale-multiply rounding)
    return out.withColumn("headroom", F.round("headroom", 6))


@q("udf_grouped_agg", """
SELECT event_type, ROUND(sqrt(avg(value * value)), 6) AS rms
FROM events GROUP BY event_type
""")
def udf_grouped_agg(spark, sf):
    # grouped-agg pandas UDF (custom UDAF): root-mean-square
    @F.pandas_udf(T.DoubleType())
    def rms(v: pd.Series) -> float:
        return float(np.round(np.sqrt(np.mean(np.square(v.to_numpy()))), 6))

    e = t(spark, sf, "events")
    return e.groupBy("event_type").agg(rms("value").alias("rms"))


@q("udtf_tokens", """
SELECT doc_id, tok AS token, length(tok) AS token_len
FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
      FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0)
WHERE tok <> ''
""")
def udtf_tokens(spark, sf):
    # PySpark 4 Python UDTF: one row in → N token rows out (the span
    # explosion shape); lateral-joined against the documents scan
    from pyspark.sql.functions import udtf

    @udtf(returnType="token string, token_len int")
    class Tokenize:
        def eval(self, text: str):
            if text is None:
                return
            for tok in text.strip().split():
                if tok:
                    yield tok, len(tok)

    spark.udtf.register("ocrflow_tokenize", Tokenize)
    t(spark, sf, "documents").createOrReplaceTempView("docs_udtf")
    return spark.sql("""
        SELECT doc_id, s.token, s.token_len
        FROM docs_udtf,
        LATERAL ocrflow_tokenize(text) s
        WHERE text IS NOT NULL AND length(trim(text)) > 0
    """)


# =========================================================================
# Sinks / icelite sources (rows-only; exercised further in tests)
# =========================================================================

def _scratch(name: str, wipe: bool = True) -> str:
    """Fixed per-query scratch dir (reused across runs so a repeated
    driver verify doesn't accrete temp dirs — round-1 hygiene nit)."""
    import shutil
    import tempfile
    d = os.path.join(tempfile.gettempdir(), f"ocrflow_q_{name}")
    if wipe and os.path.exists(d):
        shutil.rmtree(d)
    return d


@q("sink_partitioned", """
WITH b AS (
  SELECT user_id, substr(md5(CAST(user_id AS VARCHAR)), 1, 1) AS bucket
  FROM events
), probe AS (
  SELECT substr(md5(CAST(min(user_id) AS VARCHAR)), 1, 1) AS target
  FROM events
)
SELECT bucket, CAST(count(*) AS BIGINT) AS n,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM b, probe WHERE bucket = target GROUP BY bucket
""")
def sink_partitioned(spark, sf):
    """Hive-partitioned SINK round-trip, ORACLED (round 4 upgrade
    from rows-only): bucket = first md5 hex char of the key (16-way,
    engine-portable — the old xxhash64 bucket had no DuckDB twin),
    write partitionBy(bucket), read back, and aggregate ONE bucket —
    the probed bucket is the minimum user's (non-empty at every
    scale by construction), so partition pruning scans exactly one
    directory and the values must equal DuckDB computing the same
    bucket relationally (the write→hive-layout→prune→read cycle
    loses nothing)."""
    out = _scratch("sink_partitioned", wipe=False)  # overwrite truncates
    e = t(spark, sf, "events").withColumn(
        "bucket", F.substring(F.md5(F.col("user_id").cast("string")), 1, 1))
    e.write.mode("overwrite").partitionBy("bucket").parquet(out)
    target = (e.agg(F.min("user_id").alias("mu"))
              .select(F.substring(F.md5(F.col("mu").cast("string")), 1, 1)
                      .alias("target")))
    back = spark.read.parquet(out)
    return (back.crossJoin(F.broadcast(target))
            .filter(F.col("bucket") == F.col("target"))
            .groupBy("bucket")
            .agg(F.count("*").cast("bigint").alias("n"),
                 F.countDistinct("user_id").cast("bigint")
                 .alias("n_users")))


@q("source_python_datasource")  # rows-only: synthetic source, no oracle table
def source_python_datasource(spark, sf):
    """The PySpark 4 Python DataSource API as an ingest seam:
    spark.read.format("ocrflow_synth") — partition planning source-side,
    per-executor slice generation, zero driver materialization
    (ocrflow.sources; content equality vs gen_rows tested)."""
    from .sources import register
    register(spark)
    df = (spark.read.format("ocrflow_synth")
          .option("turns", 2000).option("seed", 42)
          .option("partitions", 8).load())
    return (df.groupBy("role")
            .agg(F.count("*").alias("n_turns"),
                 F.min("conv_id").alias("first_conv")))


@q("source_icelite_snapshot", """
SELECT CAST(count(*) AS BIGINT) AS n_snapshot1,
       max(event_id) AS max_id
FROM events WHERE event_id % 2 = 0
""")
def source_icelite_snapshot(spark, sf):
    """Snapshot isolation + TIME TRAVEL, ORACLED (round 4 upgrade
    from rows-only): two commits (even ids, then odd ids); reading
    snapshot 1 must see EXACTLY the even half — which DuckDB can
    predict relationally, so the isolation property itself takes the
    string-exact gate, not just a row count."""
    from .icelite import IceliteTable, write_dataframe_files
    tbl = IceliteTable(_scratch("icelite_snapshot"))  # wiped: snapshots must restart at 1
    e = t(spark, sf, "events")
    f1 = write_dataframe_files(e.filter(F.col("event_id") % 2 == 0),
                               tbl.new_commit_dir("c1"))
    tbl.commit_append(f1)
    f2 = write_dataframe_files(e.filter(F.col("event_id") % 2 == 1),
                               tbl.new_commit_dir("c2"))
    tbl.commit_append(f2)
    # time-travel: snapshot 1 sees only the even half
    return (tbl.read(spark, snapshot_id=1)
            .agg(F.count("*").alias("n_snapshot1"),
                 F.max("event_id").alias("max_id")))


@q("agg_mad_udaf", """
SELECT event_type, ROUND(avg(abs(value - m)), 6) AS mad
FROM (SELECT event_type, value,
             avg(value) OVER (PARTITION BY event_type) AS m
      FROM events)
GROUP BY event_type
""")
def agg_mad_udaf(spark, sf):
    # the §2.B-planned custom UDAF: mean absolute deviation as a
    # grouped-agg pandas UDF (Arrow-batched per group)
    @F.pandas_udf(T.DoubleType())
    def mad(v: pd.Series) -> float:
        a = v.to_numpy()
        return float(np.round(np.mean(np.abs(a - a.mean())), 6))

    e = t(spark, sf, "events")
    return e.groupBy("event_type").agg(mad("value").alias("mad"))


@q("join_null_safe_eq", """
SELECT a.event_id AS id_a, b.event_id AS id_b
FROM (SELECT event_id, CASE WHEN event_id % 7 = 0 THEN NULL
                            ELSE event_id % 5 END AS k FROM events) a
JOIN (SELECT event_id, CASE WHEN event_id % 11 = 0 THEN NULL
                            ELSE event_id % 5 END AS k FROM events) b
  ON a.k IS NOT DISTINCT FROM b.k AND a.event_id < b.event_id
WHERE a.event_id < 60 AND b.event_id < 60
""")
def join_null_safe_eq(spark, sf):
    # null-safe equality (<=>): NULL keys join each other, unlike `=`
    e = t(spark, sf, "events").filter(F.col("event_id") < 60)
    a = e.select("event_id", F.when(F.col("event_id") % 7 == 0, None)
                 .otherwise(F.col("event_id") % 5).alias("k")).alias("a")
    b = e.select("event_id", F.when(F.col("event_id") % 11 == 0, None)
                 .otherwise(F.col("event_id") % 5).alias("k")).alias("b")
    return (a.join(b, F.col("a.k").eqNullSafe(F.col("b.k"))
                   & (F.col("a.event_id") < F.col("b.event_id")))
            .select(F.col("a.event_id").alias("id_a"),
                    F.col("b.event_id").alias("id_b")))


@q("join_bucketed_colocated", """
SELECT o.o_orderkey, c.c_name, o.o_totalprice
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = 'BUILDING'
""")
def join_bucketed_colocated(spark, sf):
    """Bucketed co-located join: both sides written with bucketBy on the
    join key, so the sort-merge join runs with ZERO exchanges — the
    100 TB technique for repeated joins on a stable key (bucket once,
    join forever). Same semantics as join_inner_equi (shared oracle);
    tests assert the exchange-free plan."""
    wh = _scratch("bucketed_wh", wipe=False)  # saveAsTable overwrite reuses
    ot, ct_ = "ocrflow_orders_bkt", "ocrflow_customer_bkt"
    for name in (ot, ct_):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
    # external tables (explicit path): no writes under the session's
    # static warehouse dir
    (t(spark, sf, "orders").write.bucketBy(8, "o_custkey")
     .sortBy("o_custkey").option("path", f"{wh}/orders")
     .mode("overwrite").saveAsTable(ot))
    (t(spark, sf, "customer").write.bucketBy(8, "c_custkey")
     .sortBy("c_custkey").option("path", f"{wh}/customer")
     .mode("overwrite").saveAsTable(ct_))
    o, c = spark.table(ot), spark.table(ct_)
    # merge hint (not session conf — plans resolve lazily): SMJ over the
    # bucketed scans joins with zero exchanges
    return (o.join(c.hint("merge"), o.o_custkey == c.c_custkey)
            .filter(F.col("c_mktsegment") == "BUILDING")
            .select("o_orderkey", "c_name", "o_totalprice"))


_CONV_REASSEMBLY_GOLDEN_SQL = """
SELECT conv_id, CAST(n_turns AS BIGINT) AS n_turns,
       CAST(n_chars AS BIGINT) AS n_chars, conv_md5
FROM (VALUES
  ('conv-00000000', 34, 9948, 'b624a40573febf81eb76670b4cdbe2d7'),
  ('conv-00000001', 28, 7940, '73a1831a3a2ebdc725029482d297672a'),
  ('conv-00000002', 30, 9126, '0b339eb138dc5853998e5ac29f4b2535'),
  ('conv-00000003', 18, 4144, 'e39f57f396b591c5d2eb6609e3dfc2e9'),
  ('conv-00000004', 21, 6149, '3bc4baab80ea33bed9e82200644cacb7'),
  ('conv-00000005', 11, 2546, 'a8e5566bcdc26bafb0293dae2b0f59a3'),
  ('conv-00000006', 33, 8166, '99f950974d6878b4a896821473be251c'),
  ('conv-00000007', 32, 7373, 'bb7b016af7cd0b2dadc172a5dce44077'),
  ('conv-00000008', 32, 7936, '92c8433eaac1ac41603dd9326575ac0e'),
  ('conv-00000009', 3, 627, '633a5b23808cbbcf2a3339f5f40e2107'),
  ('conv-00000010', 354, 100508, '95ffcd228bf67ca3068d0d537ebf1d5f'),
  ('conv-00000011', 14, 2582, 'e1e8bcac2ad2bac9619b7a8189fb8405'),
  ('conv-00000012', 15, 3702, 'e8a3604d8246632c96eae2bb021894e9'),
  ('conv-00000013', 38, 10463, '6b08dbad341a58e86178aea853088f5e'),
  ('conv-00000014', 16, 3417, 'b7396dad50f0ebddbc8d625c64d85145'),
  ('conv-00000015', 4, 1077, 'e0c41bd9622f4ce09aa54a73a8c5fada'),
  ('conv-00000016', 25, 6547, 'e7d307f1fcaa0270e6f58b4c627dfa11'),
  ('conv-00000017', 21, 8166, 'a6807f477573232dc2f56893ff4a65b1'),
  ('conv-00000018', 2, 182, '4e69b4f0061ee1fab006af28d17c2a09'),
  ('conv-00000019', 18, 4603, '38f5576e308e67abd3aacc9a72bbaefd'),
  ('conv-00000020', 19, 5199, '24b71e46ee6ac7344f08fc0c6446dcd0'),
  ('conv-00000021', 6, 1522, '109ae62e3655ca50c606fabb24b061a6'),
  ('conv-00000022', 34, 9919, '5e9bf2a5cf891e7f37151e4541c2c2eb'),
  ('conv-00000023', 7, 1837, 'e075631f3ba99a13b7ce3c3cff9d0406'),
  ('conv-00000024', 36, 9796, '5b20dca10569f5e42ae824c8ef3df78a'),
  ('conv-00000025', 11, 3185, 'dad76e592f4d8e92aabe7d4991e7af59'),
  ('conv-00000026', 37, 8653, '139cdf19bfb008c9ef8d571ecf77cad4'),
  ('conv-00000027', 33, 10139, 'd129281a42bc7c907cd9a50bc3694752'),
  ('conv-00000028', 13, 3970, 'ec649886a0aa8da44479560aa68d0096'),
  ('conv-00000029', 27, 6330, '299c4f30fb27b041053618546602f7dc'),
  ('conv-00000030', 39, 10776, 'e334f570e8fd3b9986c8a7e72efcfe36'),
  ('conv-00000031', 9, 2687, '258583d2edfbb4e34effeeab5b1e01d1'),
  ('conv-00000032', 28, 8639, '3d72316ddbd1d8efeb387c9caa2ca295'),
  ('conv-00000033', 17, 3058, '407545ecd79e4f0ff5567f5239f7c0ee'),
  ('conv-00000034', 18, 5221, '5be612d55ae7c7d05e922d48c81f7718'),
  ('conv-00000035', 15, 3310, 'a11efccf5ac48b7bf5db509a1408e95e'),
  ('conv-00000036', 6, 1297, '670fb686df5d4bf6fa9860d54c913f9f'),
  ('conv-00000037', 36, 9871, 'b08ba307cc8d5dd15487e3e66ded1e32'),
  ('conv-00000038', 33, 10874, 'c3f1f5bfd66e7b81f94f7cce5d41d373'),
  ('conv-00000039', 11, 2697, '757036644d55288686d86a5e1e9b3a46'),
  ('conv-00000040', 37, 8850, '62761593759bdea9e6dd2eef602744bc'),
  ('conv-00000041', 3, 1085, '66f5565458ed674d210a1182209b842a'),
  ('conv-00000042', 38, 10179, 'e0b2e7775fa785b63f6dda9143ebfb19'),
  ('conv-00000043', 15, 4703, 'e9c9958b1734a916b1bf5ed7349c93af'),
  ('conv-00000044', 16, 4887, 'c6616891a357d35a724935b90916c865'),
  ('conv-00000045', 21, 5309, '8aee5ca884a0cbf82864499b25b270a7'),
  ('conv-00000046', 6, 1762, 'c654ba2c6639131e6b5895a08a00078f'),
  ('conv-00000047', 22, 5689, 'ce9db8137cbe8b23c5b56411bcd3b5cd'),
  ('conv-00000048', 37, 8233, '0d5fe00bfca7736439a2357cb540dcc9'),
  ('conv-00000049', 37, 8784, 'a745a73de139f55fe57210facf74f636'),
  ('conv-00000050', 29, 7366, '2c049e922621050f5c3a9e9feef0724f'),
  ('conv-00000051', 26, 7324, 'a51dbf0677163225513e913569204676'),
  ('conv-00000052', 30, 7839, 'f2df09fa75a931c8e0dae270142c9f6b'),
  ('conv-00000053', 6, 1533, '986aaffaa8f3446bec3eb6ec64e5ba12'),
  ('conv-00000054', 13, 3499, 'd0288d0cf2aeea4d565f51e5942f594f'),
  ('conv-00000055', 480, 142863, '165df80f15ebc12fc47e31852cf44943')
) AS g(conv_id, n_turns, n_chars, conv_md5)
"""


@q("conv_reassembly", _CONV_REASSEMBLY_GOLDEN_SQL)
def conv_reassembly(spark, sf):
    """The A8 flagship reassembly as a corpus op: deterministic synthetic
    transcripts → extraction → stable-ordered conversation texts
    (groupBy unsalted conv_id + array_sort; all JVM-side), fingerprinted
    per conversation (n_turns, n_chars, md5 of the stitched text).

    ORACLED (round 5) against a GOLDEN VALUES table: the input is
    sf-independent (synth seed 42, 2000 turns, no monster rows) and the
    extraction kernel is byte-deterministic (the golden-file suite pins
    per-turn bytes), so the 56 per-conversation md5s are constants —
    recorded once and checked by the driver exactly like a golden
    fixture. Any kernel byte change, ordering slip, or stitch
    regression anywhere in any conversation flips a hash."""
    from .pipeline import assemble_conversations, extract_df
    from .synth import synth_dataframe
    tr = synth_dataframe(spark, 2000, seed=42, partitions=8,
                         monster_every=0)
    out = assemble_conversations(extract_df(spark, tr, partitions=8))
    return out.select(
        "conv_id", F.col("n_turns").cast("bigint").alias("n_turns"),
        F.length("conversation_text").cast("bigint").alias("n_chars"),
        F.md5(F.encode("conversation_text", "utf-8")).alias("conv_md5"))


@q("conv_reassembly_order", r"""
WITH tr AS (
  SELECT 'conv-' || lpad(CAST(doc_id % 50 AS VARCHAR), 8, '0') AS conv_id,
         CAST(doc_id // 50 AS INT) AS turn_idx,
         text
  FROM documents WHERE text IS NOT NULL
)
SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns,
       md5(string_agg(text, chr(10) ORDER BY turn_idx)) AS conv_md5
FROM tr GROUP BY conv_id
""")
def conv_reassembly_order(spark, sf):
    """The A8 stable-ordering contract made externally checkable:
    documents re-shaped into transcripts (the entry() mapping), then
    the SAME sorted-struct reassembly assemble_conversations uses
    (groupBy unsalted conv_id → array_sort(collect_list(struct(
    turn_idx, text))) → ordered stitch), fingerprinted with md5 so a
    single out-of-order turn anywhere in any conversation flips the
    hash. Oracle: DuckDB ordered string_agg — order-exact per conv,
    string-exact end to end. conv_reassembly (rows-only sibling) keeps
    covering the extraction-kernel content; this key isolates the
    ordering/stitch semantics the north rule names."""
    d = t(spark, sf, "documents").filter(F.col("text").isNotNull())
    tr = d.select(
        conv_id(),
        (F.col("doc_id") / 50).cast("int").alias("turn_idx"),
        "text")
    return (tr.groupBy("conv_id")
            .agg(F.array_sort(F.collect_list(F.struct("turn_idx", "text")))
                 .alias("turns"))
            .select("conv_id",
                    F.size("turns").cast("bigint").alias("n_turns"),
                    F.md5(F.encode(F.array_join(
                        F.transform("turns", lambda s: s["text"]), "\n"),
                        "utf-8")).alias("conv_md5")))


@q("iter_pagerank")  # rows-only: iterative algorithm, not SQL-expressible
def iter_pagerank(spark, sf):
    """Iterative algorithm on DataFrames: 10 PageRank iterations over a
    deterministic user-interaction graph derived from events
    (src=user_id, dst=hash-derived peer).

    Scale notes: each iteration is one join + one aggregation (two
    shuffles) on the same key — at 100 TB you pre-partition ranks and
    edges on the key so iterations reuse the exchange. localCheckpoint
    every 4 iterations truncates the lineage/plan, which otherwise
    grows linearly and blows up the optimizer (the classic iterative-
    on-Spark trap).
    """
    e = t(spark, sf, "events")
    n_users = e.select("user_id").distinct().count()
    edges = (e.select(
        F.col("user_id").alias("src"),
        F.pmod(F.xxhash64("user_id", "event_id"), F.lit(n_users)).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct())
    out_deg = edges.groupBy("src").agg(F.count("*").alias("deg"))
    # join edges to out-degrees ONCE and pin the result on the
    # per-round join key: each iteration's join then shuffles only the
    # ranks side — the (static, large) edge list never re-exchanges,
    # and the degree join isn't recomputed per round.
    ej = (edges.join(out_deg, "src")
          .select("src", "dst", "deg")
          .repartition("src").persist())
    ranks = (ej.select(F.col("src").alias("user_id")).distinct()
             .unionByName(ej.select(F.col("dst").alias("user_id")).distinct())
             .distinct().withColumn("rank", F.lit(1.0)))
    d = 0.85
    for i in range(10):
        contribs = (ej.join(ranks, ej.src == ranks.user_id)
                    .select(F.col("dst").alias("user_id"),
                            (F.col("rank") / F.col("deg")).alias("c")))
        ranks = (ranks.select("user_id").join(
            contribs.groupBy("user_id").agg(F.sum("c").alias("s")),
            "user_id", "left")
            .select("user_id",
                    (F.lit(1 - d) + F.lit(d) * F.coalesce("s", F.lit(0.0)))
                    .alias("rank")))
        if (i + 1) % 4 == 0:
            ranks = ranks.localCheckpoint()  # truncate the growing plan
    ej.unpersist()
    return (ranks.orderBy(F.col("rank").desc(), "user_id").limit(20)
            .select("user_id", F.round("rank", 6).alias("rank")))


# =========================================================================
# Dedup materialization: pairs → connected components → kept corpus
# =========================================================================

def connected_components(edges, src: str = "src", dst: str = "dst",
                         max_iter: int = 25, edges_distinct: bool = False):
    """Connected components over an edge list via iterative min-label
    propagation. Returns (id, comp) where comp is the minimum vertex id
    reachable from ``id``; vertices not in any edge are absent (their
    component is themselves — callers left-join and coalesce).

    Each round is a neighbor-min step (join + min-agg on the vertex
    key) followed by a POINTER-JUMPING step (comp ← comp[comp]) that
    compresses the remaining label depth, so the round count grows
    with O(log diameter) rather than O(diameter) — the property that
    makes iterative CC viable on deep chains (same effect as
    large-star/small-star, Kiveris et al., "Connected Components in
    MapReduce and Beyond"). Round 1 is computed without a label table:
    its labels are the identity, so its neighbor-min is
    least(src, min(dst)) grouped on the edge list's own partitioning,
    with no join and no exchange. From round 2 on, the loop stops at the
    first neighbor-min step that changes no label: labels that are
    final after k rounds cost k + 1 neighbor-min steps and k jump
    passes (k = 1 for chains of up to 5 nodes, k = 2 for the up-to-14-
    node fingerprint chains of sf0.1). ``max_iter`` bounds the
    neighbor-min steps; reaching it without that fixpoint raises
    RuntimeError instead of returning labels that may not be final.
    localCheckpoint after every step truncates the plan (the iterative
    lineage trap, same pattern as iter_pagerank).
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    # pre-partition the (static) edge list on the per-round join key
    # ONCE: every round's neighbor-min join then sees its required
    # hashpartitioning(src) already satisfied by the cached exchange
    # and shuffles only the (much smaller) labels side — without this,
    # the full edge list re-exchanges every round.
    und = e.unionByName(e.select(F.col("dst").alias("src"),
                                 F.col("src").alias("dst")))
    if not edges_distinct:
        und = und.distinct()
    # edges_distinct=True skips the dedup exchange over the (corpus-
    # pair-sized) edge table when the caller guarantees src < dst
    # uniqueness — true for both dedup materializations (chain edges /
    # LSH pairs post-.distinct()); duplicate edges would only duplicate
    # min-messages, but the exchange they cost is the largest in CC
    und = und.repartition("src").persist()
    labels = None
    for _ in range(max_iter):
        if labels is None:
            # round 1: identity labels, so no label table and no join
            stepped = (und.groupBy("src")
                       .agg(F.least("src", F.min("dst")).alias("comp"))
                       .withColumnRenamed("src", "id"))
        else:
            # neighbor-min: every vertex absorbs the smallest label adjacent
            msgs = (und.join(labels, und.src == labels.id)
                    .select(F.col("dst").alias("id"), "comp"))
            stepped = (labels.unionByName(msgs)
                       .groupBy("id").agg(F.min("comp").alias("comp")))
        # stepped feeds the fixpoint probe and BOTH sides of the
        # pointer-jump join; the checkpoint makes the neighbor-min
        # aggregate run once per round instead of once per reader
        # (ReuseExchange is not guaranteed under AQE — the engine's own
        # round-5 lesson). Under AQE even eager=False runs the plan's
        # shuffle stages inside the call; only its last stage waits for
        # the next action, the probe.
        stepped = stepped.localCheckpoint(eager=False)
        # Fixpoint probe, one aggregate job: stepped ≤ labels id by id
        # over the same ids, so sum(labels) - sum(stepped) is 0 exactly
        # when no neighbor offers a smaller label. Then every edge
        # joins equal labels, and each component carries one label that
        # is a member's id ≤ every member's id: its minimum. Exact
        # decimal, since ids can be any long. Round 1 has no labels to
        # probe against: any edge changes the identity.
        if labels is not None:
            dec = F.col("comp").cast("decimal(38,0)")
            gap = (labels.select(dec.alias("d"))
                   .unionByName(stepped.select((-dec).alias("d")))
                   .agg(F.sum("d")).first()[0])
            if not gap:  # 0, or NULL when there are no edges at all
                und.unpersist()
                return labels
        # pointer jump ×3, all against stepped's OWN parent map:
        # composing the parent map k times compresses pointer depth to
        # ~d/4 per round (s∘s∘s∘s — composition is associative, so
        # three chained applications of stepped's map equal the
        # classic c₂=c₁[c₁] double jump), making rounds ~log4(d)
        # instead of log2(d). Fewer rounds = fewer full edge passes at
        # any scale (Kiveris et al.'s "more local work per round").
        # Labels only ever decrease, so the parent's label is ≤ mine;
        # every comp value is itself a vertex id, hence the left join
        # always resolves. Keeping every jump's parent = the
        # CHECKPOINTED stepped (not the previous jump's output) makes
        # the three joins a LINEAR chain over cached scans — no
        # duplicated subtree, so no per-jump checkpoint and only ONE
        # plan compilation per round beyond stepped's (the per-round
        # fixed cost that dominates the loop locally, guide §1.2).
        # Measured, interleaved: 197-deep-chain 10× corpus 8 → 5
        # rounds, CC wall median 6.1 → 4.4 s (the per-jump-checkpoint
        # double-jump variant measured 4.7); sf0.1 median 2.33 → 1.90.
        parent = stepped.select(F.col("id").alias("comp"),
                                F.col("comp").alias("pcomp"))
        new_labels = stepped
        for _ in range(3):
            new_labels = (new_labels.join(parent, "comp", "left")
                          .select("id",
                                  F.coalesce(F.least("comp", "pcomp"),
                                             F.col("comp")).alias("comp")))
        labels = new_labels.localCheckpoint(eager=False)
    und.unpersist()
    raise RuntimeError(f"connected_components: no fixpoint within "
                       f"max_iter={max_iter} neighbor-min steps")


def _doc_fingerprints(spark, sf):
    """(doc_id, n_chars, fingerprint): md5 of the lowercased first-two-
    token prefix — a deliberately coarse near-dup key so the testdata
    (no exact dups) still yields real multi-doc groups to materialize.
    """
    d = t(spark, sf, "documents").filter(
        F.col("text").isNotNull() & (F.length(F.trim("text")) > 0))
    prefix = F.lower(F.concat_ws(" ", F.slice(words(), 1, 2)))
    return d.select("doc_id", "n_chars", F.md5(prefix).alias("fingerprint"))


@q("dedup_materialize", """
WITH fp AS (
  SELECT doc_id, n_chars,
         md5(lower(array_to_string(
             regexp_split_to_array(trim(text), '\\s+')[1:2], ' ')))
             AS fingerprint
  FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0
)
SELECT doc_id, n_chars FROM (
  SELECT doc_id, n_chars,
         row_number() OVER (PARTITION BY fingerprint ORDER BY doc_id) AS rn
  FROM fp
) WHERE rn = 1
""")
def dedup_materialize(spark, sf):
    """Materialize the deduplicated corpus — the operator a training-
    data pipeline actually runs end-to-end: dup pairs → connected
    components → keep the min-id winner per component → anti-join the
    losers out. The round-1 dedup_* ops emitted pair lists / hash
    groups; this emits the kept-rows table.

    Pair generation here links each fingerprint group as a CHAIN
    (id1-id2, id2-id3, ...) via a lag window — deliberately NOT
    (min, other) stars — so the min label must propagate multiple hops
    and the CC iteration is genuinely exercised; the oracle (min doc_id
    per fingerprint group) then proves the propagation converged. In
    production the pairs input is dedup_lsh_verified's output and the
    same CC → anti-join tail runs unchanged.
    """
    fp = _doc_fingerprints(spark, sf)
    w = W.partitionBy("fingerprint").orderBy("doc_id")
    edges = (fp.withColumn("prev", F.lag("doc_id").over(w))
             .filter(F.col("prev").isNotNull())
             .select(F.col("prev").alias("src"), F.col("doc_id").alias("dst")))
    return materialize_kept(fp, edges, "doc_id").select("doc_id", "n_chars")


def materialize_kept(rows, dup_pairs, id_col: str):
    """The CC → keep-winner tail shared by every dedup materialization:
    connected components over ``dup_pairs(src, dst)``, keep each row
    whose id is its component's minimum (or that appears in no pair).
    One left join against the (components-sized, small) label table —
    at 100 TB the labels broadcast and the corpus never reshuffles.

    Both materialization callers guarantee src < dst uniqueness (chain
    edges from a lag window; LSH pairs post-.distinct()), so CC skips
    its defensive dedup exchange over the edge table."""
    labels = connected_components(dup_pairs, edges_distinct=True)
    return (rows.join(labels, rows[id_col] == labels.id, "left")
            .filter(F.col("comp").isNull() | (F.col("comp") == rows[id_col]))
            .drop("id", "comp"))


@q("dedup_materialize_lsh")  # rows-only: pairs come from xxhash64 LSH
def dedup_materialize_lsh(spark, sf):
    """The PRODUCTION near-dup materialization end to end: MinHash LSH
    candidates (hot-bucket capped) → exact Jaccard ≥ 0.5 verification →
    connected components → kept corpus. Composes dedup_lsh_verified and
    materialize_kept unchanged — the pair source is the only thing that
    differs from the oracled dedup_materialize twin.
    """
    d = t(spark, sf, "documents").filter(
        F.col("text").isNotNull() & (F.col("n_chars") < 300))
    pairs = (dedup_lsh_verified(spark, sf)
             .select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst")))
    return (materialize_kept(d.select("doc_id", "n_chars"), pairs, "doc_id")
            .select("doc_id", "n_chars"))


# =========================================================================
# Training-corpus curation extensions (round 3): keep-best dedup, PII
# pseudonymization, per-source dup-rate profiling, n-gram stats, and the
# cogrouped-map UDF API. All oracled.
# =========================================================================

@q("dedup_keep_best", r"""
WITH keyed AS (
  SELECT doc_id, n_chars,
         md5(array_to_string(list_slice(
             regexp_split_to_array(lower(trim(text)), '\s+'), 1, 8), ' '))
             AS dup_key
  FROM documents WHERE text IS NOT NULL
), rk AS (
  SELECT doc_id, dup_key, n_chars,
         row_number() OVER (PARTITION BY dup_key
                            ORDER BY n_chars DESC, doc_id) AS r,
         count(*) OVER (PARTITION BY dup_key) AS group_sz
  FROM keyed
)
SELECT doc_id, dup_key, CAST(group_sz AS BIGINT) AS group_sz
FROM rk WHERE r = 1
""")
def dedup_keep_best(spark, sf):
    """Quality-aware dedup: group by a normalized PREFIX fingerprint
    (first 8 lowercased tokens — catches same-lead boilerplate where a
    full-content hash collapses nothing), keep the HIGHEST-QUALITY row
    per group (longest doc, doc_id tiebreak) instead of an arbitrary
    one — the curation policy real corpus builds want (dedup_exact
    keeps min-id; this keeps argmax-quality). One window over md5 keys:
    the corpus shuffles once on the 16-byte key; text never moves after
    the hash."""
    d = t(spark, sf, "documents").filter(F.col("text").isNotNull())
    key = F.md5(F.array_join(F.slice(words(lower=True), 1, 8), " "))
    wk = W.partitionBy("dup_key")
    keyed = d.select("doc_id", "n_chars", key.alias("dup_key"))
    return (keyed
            .withColumn("r", F.row_number().over(
                wk.orderBy(F.col("n_chars").desc(), "doc_id")))
            .withColumn("group_sz", F.count("*").over(wk).cast("long"))
            .filter(F.col("r") == 1)
            .select("doc_id", "dup_key", "group_sz"))


@q("pii_pseudonymize", """
SELECT event_id,
       substr(md5(CAST(user_id AS VARCHAR)), 1, 12) AS user_pseudo,
       regexp_replace(props, '[0-9]+', '#', 'g') AS props_redacted
FROM events
""")
def pii_pseudonymize(spark, sf):
    """Privacy scrub pass for a training corpus: stable pseudonymous id
    (md5 of the raw id — joinable across tables, not reversible without
    the original) + numeric-literal redaction in the free-form payload.
    Pure per-row JVM expressions: zero shuffle, pipelines into the scan
    at any corpus size."""
    e = t(spark, sf, "events")
    return e.select(
        "event_id",
        F.substring(F.md5(F.col("user_id").cast("string")), 1, 12)
         .alias("user_pseudo"),
        F.regexp_replace("props", "[0-9]+", "#").alias("props_redacted"))


@q("corpus_dup_rate", """
SELECT source, count(*) AS n_docs,
       count(DISTINCT md5(text)) AS n_uniq,
       ROUND(1.0 - count(DISTINCT md5(text)) * 1.0 / count(*), 4) AS dup_rate
FROM documents GROUP BY source
""")
def corpus_dup_rate(spark, sf):
    """Per-source duplication profile — the dashboard number a corpus
    curator checks before picking dedup thresholds. count(DISTINCT md5)
    shuffles 16-byte hashes (never text); Spark plans it as a two-phase
    expand + partial agg, so the fact scans once."""
    d = t(spark, sf, "documents")
    return (d.groupBy("source")
            .agg(F.count("*").alias("n_docs"),
                 F.countDistinct(F.md5("text")).alias("n_uniq"))
            .select("source", "n_docs", "n_uniq",
                    F.round(F.lit(1.0) - F.col("n_uniq") * 1.0 / F.col("n_docs"),
                            4).alias("dup_rate")))


@q("text_ngram_top", r"""
WITH toks AS (
  SELECT lang, regexp_split_to_array(trim(text), '\s+') AS tk
  FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0
), bg AS (
  SELECT lang,
         unnest(list_transform(range(1, len(tk)),
                               i -> tk[i] || ' ' || tk[i + 1])) AS bigram
  FROM toks WHERE len(tk) >= 2
), cnt AS (
  SELECT lang, bigram, count(*) AS n FROM bg GROUP BY lang, bigram
)
SELECT lang, bigram, n FROM (
  SELECT lang, bigram, n,
         row_number() OVER (PARTITION BY lang ORDER BY n DESC, bigram) AS r
  FROM cnt
) WHERE r <= 3
""")
def text_ngram_top(spark, sf):
    """Top bigrams per language — the n-gram LM / contamination-check
    statistic. Bigrams are built with a JVM higher-order transform over
    the token array (no Python, no self-join); the heavy shuffle is the
    (lang, bigram) count whose partials combine map-side, then a window
    over per-lang counts. At 100 TB add a salted pre-agg if one lang
    dominates (same recipe as join_salted_skew)."""
    d = t(spark, sf, "documents").filter(
        F.col("text").isNotNull() & (F.length(F.trim("text")) > 0))
    bg = d.select("lang", F.explode(word_ngrams(spaced(), 2)).alias("bigram"))
    cnt = bg.groupBy("lang", "bigram").agg(F.count("*").alias("n"))
    w = W.partitionBy("lang").orderBy(F.col("n").desc(), "bigram")
    return (cnt.withColumn("r", F.row_number().over(w))
            .filter(F.col("r") <= 3).select("lang", "bigram", "n"))


@q("udf_cogrouped_map", """
WITH e AS (
  SELECT user_id, count(*) AS n_events,
         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS value_cents
  FROM events GROUP BY user_id
), o AS (
  SELECT o_custkey AS user_id, count(*) AS n_orders,
         CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT)
             AS price_cents
  FROM orders GROUP BY o_custkey
)
SELECT coalesce(e.user_id, o.user_id) AS user_id,
       coalesce(e.n_events, 0) AS n_events,
       coalesce(o.n_orders, 0) AS n_orders,
       coalesce(e.value_cents, 0) AS value_cents,
       coalesce(o.price_cents, 0) AS price_cents
FROM e FULL OUTER JOIN o ON e.user_id = o.user_id
""")
def udf_cogrouped_map(spark, sf):
    """The cogrouped-map Pandas API (groupBy().cogroup().applyInPandas)
    — the remaining Pandas-UDF entry point after scalar/iter/grouped
    map/grouped agg: both sides hash-partition on the key, each key's
    two frames arrive in ONE Python call. Money math in integer cents
    (floor(x*100+0.5) — identical in numpy, Spark, and DuckDB; float
    sums would be fold-order-dependent). Oracle is the equivalent
    full-outer join of the two aggregates."""
    ev = t(spark, sf, "events").select("user_id", "value")
    od = t(spark, sf, "orders").select(
        F.col("o_custkey").alias("user_id"), "o_totalprice")

    def merge(key, edf: pd.DataFrame, odf: pd.DataFrame) -> pd.DataFrame:
        cents = lambda s: int(np.floor(s.to_numpy(dtype=np.float64) * 100 + 0.5).sum())
        return pd.DataFrame({
            "user_id": [key[0]],
            "n_events": [len(edf)],
            "n_orders": [len(odf)],
            "value_cents": [cents(edf["value"]) if len(edf) else 0],
            "price_cents": [cents(odf["o_totalprice"]) if len(odf) else 0],
        })

    return (ev.groupBy("user_id").cogroup(od.groupBy("user_id"))
            .applyInPandas(merge, schema=("user_id long, n_events long, "
                                          "n_orders long, value_cents long, "
                                          "price_cents long")))


IVF_CELLS = 8            # coarse-quantizer cells (K)
IVF_PROBE = 3            # cells searched per query


@q("ann_ivf_coarse")  # rows-only: centroid means are float-fold-dependent
def ann_ivf_coarse(spark, sf):
    """IVF (inverted-file) ANN — the coarse-quantizer scale path next to
    ann_lsh_bucketed: train K = IVF_CELLS centroids, assign every vector
    to its nearest cell, search only the IVF_PROBE cells nearest each
    query.

    Training is deterministic and cheap: seeds = the K lowest vec_ids
    (one bounded driver fetch of K×dim floats), then ONE Lloyd step
    whose mean-update is posexplode → groupBy(cell, pos) — partial aggs
    combine map-side, so the exchange carries at most K×dim rows per
    map partition no matter the corpus size; the refined centroids are
    again K×dim scalars on the driver and ride to executors in the UDF
    closure (A9 broadcast-state idiom).

    Query path: each query probes its IVF_PROBE nearest cells,
    candidates come from an equi-join on cell id (hash join, never
    all-pairs), and the exact cosine re-rank runs on candidates only —
    at 100 TB the scan fraction is ~IVF_PROBE/K of the corpus per query
    batch. Recall vs the brute-force twin is measured in tests.
    Rows-only: centroid means are float-fold-dependent in the last ULP,
    so there is no engine-portable SQL twin.
    """
    em = t(spark, sf, "embeddings").select("vec_id", emb_double().alias("e"))

    seeds = em.orderBy("vec_id").limit(IVF_CELLS).collect()
    c0 = np.array([r["e"] for r in seeds], dtype=np.float64)
    dim = c0.shape[1]

    def assigner(cents):
        cn = cents / np.linalg.norm(cents, axis=1, keepdims=True)

        @F.pandas_udf(T.IntegerType())
        def cell_of(es: pd.Series) -> pd.Series:
            if len(es) == 0:
                return pd.Series([], dtype="int32")
            m = np.vstack([np.asarray(v, dtype=np.float64) for v in es])
            mn = m / np.linalg.norm(m, axis=1, keepdims=True)
            return pd.Series(np.argmax(mn @ cn.T, axis=1).astype("int32"))
        return cell_of

    # one Lloyd refinement: per-(cell, dim) means via map-side-combined agg
    a0 = em.withColumn("cell", assigner(c0)("e"))
    sums = (a0.select("cell", F.posexplode("e").alias("pos", "v"))
            .groupBy("cell", "pos")
            .agg(F.sum("v").alias("s"), F.count("*").alias("n"))
            .collect())
    c1 = c0.copy()                      # cells with no members keep their seed
    by_cell: dict = {}
    for r in sums:
        by_cell.setdefault(r["cell"], {})[r["pos"]] = r["s"] / r["n"]
    for cell, d in by_cell.items():
        c1[cell] = np.array([d[p] for p in range(dim)])
    c1n = c1 / np.linalg.norm(c1, axis=1, keepdims=True)

    corpus = em.withColumn("cell", assigner(c1)("e"))

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def probe_cells(es: pd.Series) -> pd.Series:
        if len(es) == 0:
            return pd.Series([], dtype=object)
        m = np.vstack([np.asarray(v, dtype=np.float64) for v in es])
        mn = m / np.linalg.norm(m, axis=1, keepdims=True)
        order = np.argsort(-(mn @ c1n.T), axis=1, kind="stable")
        return pd.Series(list(order[:, :IVF_PROBE].astype("int32")))

    qs = (em.filter(F.col("vec_id") < ANN_QUERIES)
          .select(F.col("vec_id").alias("query_id"), F.col("e").alias("qe"),
                  F.explode(probe_cells("e")).alias("qcell")))
    cand = (corpus.join(F.broadcast(qs),
                        (F.col("cell") == F.col("qcell"))
                        & (F.col("vec_id") != F.col("query_id")))
            .select("query_id", "qe", "vec_id", "e"))
    return cosine_topk(cand, ANN_K)


@q("text_repetition_filter", r"""
WITH wc AS (
  SELECT doc_id, w, count(*) AS n
  FROM (
    SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
    FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0
  ) GROUP BY doc_id, w
)
SELECT doc_id,
       CAST(sum(n) AS BIGINT) AS n_words,
       CAST(count(*) AS BIGINT) AS n_distinct,
       ROUND(1.0 - CAST(count(*) AS DOUBLE) / CAST(sum(n) AS DOUBLE), 6)
           AS dup_word_frac,
       ROUND(CAST(max(n) AS DOUBLE) / CAST(sum(n) AS DOUBLE), 6)
           AS top_word_frac,
       (CAST(max(n) AS DOUBLE) / CAST(sum(n) AS DOUBLE)) > 0.2
           AS is_repetitive
FROM wc GROUP BY doc_id
""")
def text_repetition_filter(spark, sf):
    """Per-document repetition signals (Gopher-style quality filters,
    word granularity): duplicate-word fraction and most-common-word
    fraction, plus the keep/drop flag a curation pipeline thresholds
    on. Two keyed aggs, both map-side-combinable: (doc_id, word)
    counts first — the shuffle key includes doc_id so hot WORDS don't
    skew a reducer, only hot docs do, and a single doc fits a
    partition by construction — then a per-doc rollup of (Σn, count,
    max). All-JVM (split + explode + agg, no Python); ratios of exact
    ints are IEEE-identical across engines, rounded to 6 dp."""
    d = t(spark, sf, "documents").filter(
        F.col("text").isNotNull() & (F.length(F.trim("text")) > 0))
    toks = d.select("doc_id", F.explode(words()).alias("w"))
    wc = toks.groupBy("doc_id", "w").agg(F.count("*").alias("n"))
    tot = F.sum("n").cast("double")
    mx = F.max("n").cast("double")
    dst = F.count("*").cast("double")
    return (wc.groupBy("doc_id")
            .agg(F.sum("n").cast("bigint").alias("n_words"),
                 F.count("*").cast("bigint").alias("n_distinct"),
                 F.round(F.lit(1.0) - dst / tot, 6).alias("dup_word_frac"),
                 F.round(mx / tot, 6).alias("top_word_frac"),
                 ((mx / tot) > 0.2).alias("is_repetitive")))


@q("decontaminate_overlap", r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
  FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0
), grams AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(tk) - 2),
                i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' '
                     || tk[i+3])) AS g
  FROM toks WHERE len(tk) >= 4
), bench AS (
  SELECT DISTINCT doc_id AS bench_id, g FROM grams WHERE doc_id % 11 = 0
), corpus AS (
  SELECT DISTINCT doc_id, g FROM grams WHERE doc_id % 11 <> 0
)
SELECT c.doc_id,
       CAST(count(DISTINCT c.g) AS BIGINT) AS n_shared_grams,
       CAST(count(DISTINCT b.bench_id) AS BIGINT) AS n_bench_docs
FROM corpus c JOIN bench b ON c.g = b.g
GROUP BY c.doc_id
""")
def decontaminate_overlap(spark, sf):
    """Benchmark decontamination: flag corpus documents sharing any
    4-gram with a held-out benchmark set (here: doc_id % 11 == 0 —
    deterministic stand-in for an eval suite; real pipelines use 8-13
    grams, scaled down to this corpus's tiny vocabulary so the flag
    rate is realistic — 71 of 478 docs at sf0.01). The benchmark gram set
    is tiny by construction, so it BROADCASTS (plan-asserted): the
    corpus side streams through one scan + shingle explode and never
    shuffles for the join; the only exchange is the per-doc count agg.
    That's the 100 TB shape — eval suites are MBs, corpora are TBs.
    Gram-level dedup (DISTINCT before the join) bounds the join fanout
    by distinct-gram multiplicity, not raw repetition."""
    d = t(spark, sf, "documents").filter(
        F.col("text").isNotNull() & (F.length(F.trim("text")) > 0))
    grams = d.select("doc_id", F.explode(word_ngrams(spaced(), 4)).alias("g"))
    bench = (grams.filter(F.col("doc_id") % 11 == 0)
             .select(F.col("doc_id").alias("bench_id"), "g").distinct())
    corpus = (grams.filter(F.col("doc_id") % 11 != 0)
              .select("doc_id", "g").distinct())
    return (corpus.join(F.broadcast(bench), "g")
            .groupBy("doc_id")
            .agg(F.countDistinct("g").cast("bigint").alias("n_shared_grams"),
                 F.countDistinct("bench_id").cast("bigint")
                  .alias("n_bench_docs")))


_PACK_BUDGET = 256


def nextfit_pack(ns, budget: int):
    """Next-fit packing kernel (sequential by construction): returns
    (bin_ids, offsets) for sizes ``ns`` in order. A doc joins the
    current pack iff it fits the budget; otherwise a new pack opens —
    oversized docs therefore always pack alone. Property-tested
    against the invariant set in tests/test_dataops.py."""
    bins = np.empty(len(ns), dtype=np.int64)
    offs = np.empty(len(ns), dtype=np.int64)
    cur, b = 0, 0
    for i, n in enumerate(ns):
        if b == 0 or cur + n > budget:
            b += 1
            cur = 0
        offs[i] = cur
        bins[i] = b
        cur += n
    return bins, offs


@q("pack_sequences_nextfit", r"""
WITH RECURSIVE s AS (
  SELECT source, doc_id,
         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n,
         row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0
), r AS (
  SELECT source, doc_id, n, rn, n AS cur, CAST(1 AS BIGINT) AS bin
  FROM s WHERE rn = 1
  UNION ALL
  SELECT s.source, s.doc_id, s.n, s.rn,
         CASE WHEN r.cur + s.n <= 256 THEN r.cur + s.n ELSE s.n END,
         CASE WHEN r.cur + s.n <= 256 THEN r.bin ELSE r.bin + 1 END
  FROM r JOIN s ON s.source = r.source AND s.rn = r.rn + 1
)
SELECT source, doc_id, n AS n_tokens, bin AS bin_id,
       cur - n AS offset_in_bin
FROM r
""")
def pack_sequences_nextfit(spark, sf):
    """Greedy next-fit sequence packing into fixed token budgets (the
    pretraining batch-construction primitive): within each source, in
    doc_id order, a document joins the current pack if it fits in the
    256-token budget, else opens a new pack; oversized docs get a pack
    of their own. Packing is inherently sequential PER GROUP (bin state
    threads through the scan), so the Spark plan is applyInPandas over
    source groups — one shuffle on source, then a linear numpy-assisted
    pass per group; groups are independent, so 100 TB parallelism comes
    from the number of sources/shards, and a finer deterministic
    shard key (e.g. source × hash-bucket) raises it without changing
    any pack's contents. The oracle is a DuckDB RECURSIVE CTE stepping
    the same fold row-by-row — an imperative kernel and a recursive
    query agreeing exactly."""
    d = (t(spark, sf, "documents")
         .filter(F.col("text").isNotNull() & (F.length(F.trim("text")) > 0))
         .select("source", "doc_id",
                 F.size(words()).cast("bigint").alias("n_tokens")))
    out_schema = T.StructType([
        T.StructField("source", T.StringType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_tokens", T.LongType()),
        T.StructField("bin_id", T.LongType()),
        T.StructField("offset_in_bin", T.LongType()),
    ])

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("doc_id").reset_index(drop=True)
        bins, offs = nextfit_pack(pdf["n_tokens"].to_numpy(), _PACK_BUDGET)
        pdf["bin_id"] = bins
        pdf["offset_in_bin"] = offs
        return pdf[["source", "doc_id", "n_tokens", "bin_id",
                    "offset_in_bin"]]

    return d.groupBy("source").applyInPandas(pack, out_schema)


@q("corpus_curation_e2e", r"""
WITH base AS (
  SELECT doc_id, lang, n_chars, text,
         regexp_split_to_array(trim(text), '\s+') AS w
  FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0
), gated AS (          -- stage 1: quality gate (corpus_quality_filter rules)
  SELECT * FROM (
    SELECT doc_id, lang, n_chars, text, w,
           array_length(regexp_extract_all(text, '[A-Za-z0-9]+')) AS n_word,
           array_length(regexp_extract_all(lower(text),
               '\b(the|a|an|and|or|of|to|in|is|it)\b')) AS n_stop
    FROM base)
  WHERE n_word >= 5
    AND CAST(n_chars AS DOUBLE) / greatest(n_word, 1) BETWEEN 3 AND 15
    AND (lang <> 'en' OR n_stop > 0)
), deduped AS (        -- stage 2: exact dedup, keep lowest doc_id per text
  SELECT doc_id, text, w FROM (
    SELECT doc_id, text, w,
           row_number() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
    FROM gated)
  WHERE rn = 1
), grams AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(w) - 2),
                i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' '
                     || w[i+3])) AS g
  FROM deduped WHERE len(w) >= 4
), contaminated AS (   -- stage 3: drop eval docs + 4-gram contamination
  SELECT DISTINCT c.doc_id
  FROM (SELECT doc_id, g FROM grams WHERE doc_id % 11 <> 0) c
  JOIN (SELECT DISTINCT g FROM grams WHERE doc_id % 11 = 0) b
    ON c.g = b.g
), clean AS (
  SELECT d.doc_id, d.w FROM deduped d
  WHERE d.doc_id % 11 <> 0
    AND NOT EXISTS (SELECT 1 FROM contaminated x WHERE x.doc_id = d.doc_id)
)                      -- stage 4: chunk survivors (doc_chunking params)
SELECT doc_id,
       CAST((s - 1) / 24 AS BIGINT) AS chunk_idx,
       CAST(len(list_slice(w, s, s + 31)) AS INT) AS n_tokens,
       md5(array_to_string(list_slice(w, s, s + 31), ' ')) AS chunk_hash
FROM clean, unnest(generate_series(1, len(w), 24)) AS t(s)
""")
def corpus_curation_e2e(spark, sf):
    """The end-to-end curation flagship: quality gate → exact dedup
    (keep lowest doc_id per content hash) → benchmark decontamination
    (drop the eval split and every doc sharing a 4-gram with it) →
    context-window chunking (32 tokens, stride 24) — the whole
    pretraining-corpus pipeline as ONE declarative plan, so Catalyst
    sees all four stages together (the gate's filters prune the scan;
    the chunker explodes only survivors). Exchanges: the dedup window
    (hash of text), the gram count for decontamination (bench side
    broadcast), and the final explode is shuffle-free. Every stage
    reuses the standalone operator's exact rules, so this key also
    pins their composition. At 100 TB: identical shape — the stages a
    production run would checkpoint between are marked by the
    exchanges."""
    d = (widen(spark, t(spark, sf, "documents"))
         .filter(F.col("text").isNotNull() & (F.length(F.trim("text")) > 0))
         .select("doc_id", "lang", "n_chars", "text", words().alias("w")))
    # stage 1: quality gate. pin() keeps each gate regex at one eval
    # per row above the widen() exchange; unpinned, the gate filter
    # pulled all of them below it, 3x each (10x replica median 3.7 ->
    # 1.67 s with the barrier)
    gated = quality_gate(d.withColumn("n_word", pin(n_word()))
                         .withColumn("n_stop", pin(n_stop())))
    # stage 2: exact dedup. The survivor table feeds THREE branches
    # (bench grams, corpus grams, the clean anti-join left side); the
    # quality-gate regexes + md5 window above are the expensive part
    # and ReusedExchange only dedups up to the window's exchange, so
    # each branch re-ran the window + gram stages. localCheckpoint
    # materializes survivors once per invocation (token arrays only —
    # text is dropped here; guide §5 lineage cut).
    wd = W.partitionBy(F.md5("text")).orderBy("doc_id")
    deduped = (gated.withColumn("rn", F.row_number().over(wd))
               .filter(F.col("rn") == 1).select("doc_id", "w")
               .localCheckpoint(eager=False))
    # stage 3: decontamination — 4-grams over the re-joined token array
    # (text was dropped at the checkpoint)
    grams = deduped.select(
        "doc_id", F.explode(word_ngrams(F.concat_ws(" ", "w"), 4)).alias("g"))
    bench = grams.filter(F.col("doc_id") % 11 == 0).select("g").distinct()
    contaminated = (grams.filter(F.col("doc_id") % 11 != 0)
                    .join(F.broadcast(bench), "g")
                    .select("doc_id").distinct())
    clean = (deduped.filter(F.col("doc_id") % 11 != 0)
             .join(contaminated, "doc_id", "left_anti"))
    # stage 4: chunking (32-token windows, stride 24)
    chunks = clean.select(
        "doc_id",
        F.posexplode(F.expr(
            "transform(sequence(1, size(w), 24),"
            " s -> slice(w, s, 32))")).alias("pos", "chunk"))
    return chunks.select(
        "doc_id", F.col("pos").cast("bigint").alias("chunk_idx"),
        F.size("chunk").alias("n_tokens"),
        F.md5(F.concat_ws(" ", "chunk")).alias("chunk_hash"))


_MG_COUNTERS = 128
_HH_PHI = 0.01


@q("heavy_hitters_mg", r"""
WITH words AS (
  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS w
  FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0
), tot AS (SELECT count(*) AS n FROM words)
SELECT w, CAST(count(*) AS BIGINT) AS n_occ
FROM words, tot
GROUP BY w, tot.n
HAVING count(*) >= 0.01 * tot.n
""")
def heavy_hitters_mg(spark, sf):
    """Corpus heavy hitters (words with frequency ≥ φ = 1%) via a
    two-pass Misra-Gries sketch: pass 1 keeps at most k=128 counters
    PER PARTITION (mapInPandas, merging vectorized per-batch
    value_counts into the summary — classic MG decrement when the
    counter set overflows), so the shuffle carries ≤ k·partitions
    candidate rows instead of the vocabulary; pass 2 exact-counts only
    the candidates (broadcast semi-join) and applies the φ·N
    threshold. MG guarantees every true φ-heavy word survives pass 1
    whenever k ≥ 1/φ (here 128 ≥ 100), so the final output is EXACT and independent of
    partitioning — which is why this sketch op can carry a plain SQL
    oracle while HLL (agg_approx_distinct) cannot. This corpus's
    synthetic vocabulary is smaller than k, making the sketch
    lossless here; the machinery is what matters at a 10^9-word
    vocabulary."""
    # the MG summarizer is a Python pass over every token: without the
    # scan-parallelism guard a one-row-group input runs it on ONE core
    d = widen(spark, t(spark, sf, "documents")).filter(
        F.col("text").isNotNull() & (F.length(F.trim("text")) > 0))
    toks = d.select(F.explode(words()).alias("w"))

    out_schema = T.StructType([T.StructField("w", T.StringType()),
                               T.StructField("est", T.LongType())])

    def mg_summarize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        counts: dict[str, int] = {}
        for pdf in batches:
            for w, c in pdf["w"].value_counts().items():
                counts[w] = counts.get(w, 0) + int(c)
                if len(counts) > _MG_COUNTERS:
                    # MG step: decrement all by the minimum, drop zeros
                    m = min(counts.values())
                    counts = {k: v - m for k, v in counts.items() if v > m}
        if counts:
            yield pd.DataFrame({"w": list(counts), "est": list(counts.values())})

    candidates = (toks.mapInPandas(mg_summarize, out_schema)
                  .select("w").distinct())
    # total word count WITHOUT a third explode pass: count of exploded
    # tokens == sum of per-doc token-array sizes (guide §2.3 — shuffle
    # /scan metadata, not payloads); integer-identical by construction
    total = d.agg(F.sum(F.size(words())).cast("long").alias("n_total"))
    return (toks.join(F.broadcast(candidates), "w")
            .groupBy("w").agg(F.count("*").cast("bigint").alias("n_occ"))
            .crossJoin(F.broadcast(total))
            .filter(F.col("n_occ") >= _HH_PHI * F.col("n_total"))
            .select("w", "n_occ"))


@q("text_lm_score", r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
  FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0
), bg AS (
  SELECT doc_id,
         unnest(list_transform(range(1, len(tk)),
                i -> tk[i] || ' ' || tk[i + 1])) AS bigram,
         unnest(list_transform(range(1, len(tk)), i -> tk[i])) AS w1
  FROM toks WHERE len(tk) >= 2
), bc AS (SELECT bigram, count(*) AS nb FROM bg GROUP BY bigram),
uc AS (SELECT w1, count(*) AS nu FROM bg GROUP BY w1)
SELECT g.doc_id,
       CAST(count(*) AS BIGINT) AS n_bigrams,
       ROUND(avg(ln(CAST(b.nb AS DOUBLE) / CAST(u.nu AS DOUBLE))), 4)
           AS avg_logprob
FROM bg g JOIN bc b ON g.bigram = b.bigram JOIN uc u ON g.w1 = u.w1
GROUP BY g.doc_id
""")
def text_lm_score(spark, sf):
    """Bigram language-model fluency score per document (the KenLM-
    style perplexity proxy a curation pipeline thresholds on): corpus-
    wide MLE bigram probabilities p(w2|w1) = c(w1 w2)/c(w1 ·), each
    doc scored by its mean log-probability. Counts come from one
    shingle explode reused for both numerator and denominator aggs
    (no smoothing needed — the scoring corpus IS the count corpus, so
    no zero probabilities). Count tables are vocabulary-sized, far
    smaller than the corpus: broadcast both (plan-asserted shape at
    scale: the fact stream joins two broadcast LM tables, shuffles
    only for the per-doc mean). ln() appears only inside ROUND(,4) —
    the established float-parity discipline."""
    d = t(spark, sf, "documents").filter(
        F.col("text").isNotNull() & (F.length(F.trim("text")) > 0))
    toks = d.select("doc_id", words().alias("tk"))
    # w1 falls out of the exploded bigram with substring_index (JVM,
    # codegen) instead of building structs in an interpreted lambda
    bg = (toks.select("doc_id", F.explode(
              word_ngrams(F.concat_ws(" ", "tk"), 2)).alias("bigram"))
          .select("doc_id", "bigram",
                  F.substring_index("bigram", " ", 1).alias("w1")))
    bc = bg.groupBy("bigram").agg(F.count("*").alias("nb"))
    uc = bg.groupBy("w1").agg(F.count("*").alias("nu"))
    j = (bg.join(F.broadcast(bc), "bigram")
         .join(F.broadcast(uc), "w1"))
    return (j.groupBy("doc_id")
            .agg(F.count("*").cast("bigint").alias("n_bigrams"),
                 F.round(F.avg(F.log(F.col("nb").cast("double")
                                     / F.col("nu").cast("double"))), 4)
                 .alias("avg_logprob")))


_CONTAINMENT_SQL = r"""
WITH toks AS (
  SELECT doc_id,
         list_distinct(regexp_split_to_array(text, '\s+')) AS tk
  FROM documents WHERE text IS NOT NULL AND n_chars < 150
)
SELECT a.doc_id AS contained_doc, b.doc_id AS container_doc,
       ROUND(CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE)
             / len(a.tk), 6) AS containment
FROM toks a JOIN toks b ON a.doc_id <> b.doc_id
WHERE len(a.tk) <= len(b.tk)
  AND CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE) / len(a.tk) >= 0.9
"""


@q("dedup_containment", _CONTAINMENT_SQL)
def dedup_containment(spark, sf):
    """ASYMMETRIC near-dup: containment |A∩B|/|A| ≥ 0.9 finds docs
    swallowed by a larger doc — the quote/excerpt/boilerplate-superset
    case Jaccard MISSES (a 10-word quote inside a 200-word page has
    tiny Jaccard but containment 1.0; Broder's original distinction).
    Same length-blocked exact verifier shape as dedup_ngram_jaccard
    (the oracle twin of an LSH scanner, deliberately scoped to short
    docs); the smaller-side convention (|A| ≤ |B|) halves the pair
    space and fixes the direction."""
    d = (t(spark, sf, "documents")
         .filter(F.col("text").isNotNull() & (F.col("n_chars") < 150))
         .select("doc_id",
                 F.array_distinct(F.split("text", r"\s+")).alias("tk")))
    a = d.select(F.col("doc_id").alias("contained_doc"),
                 F.col("tk").alias("tka"))
    b = d.select(F.col("doc_id").alias("container_doc"),
                 F.col("tk").alias("tkb"))
    j = a.join(b, (F.col("contained_doc") != F.col("container_doc"))
               & (F.size("tka") <= F.size("tkb")))
    inter = F.size(F.array_intersect("tka", "tkb")).cast("double")
    cont = inter / F.size("tka")
    return (j.filter(cont >= 0.9)
            .select("contained_doc", "container_doc",
                    F.round(cont, 6).alias("containment")))


CONTAINMENT_MAX_BUCKET = 256    # hot-token posting cap (pre-gather)


def containment_candidates(docs, max_bucket: int = CONTAINMENT_MAX_BUCKET):
    """Subquadratic candidate pairs for containment |A∩B|/|A| ≥ t = 0.9 via
    PREFIX FILTERING (the AllPairs/PPJoin family): sort each doc's
    token set in a fixed order, and post only its first
    p = |A| - ⌈t·|A|⌉ + 1 tokens as "prefix" postings. If
    C(A,B) ≥ t then B holds ≥ ⌈t|A|⌉ of A's tokens, so A has at most
    |A| - ⌈t|A|⌉ misses — by pigeonhole at least one of A's first p
    tokens is in B, and the pair surfaces in that token's bucket. The
    theorem needs only a consistent PER-DOC order (the container side
    posts all its tokens), so the order is computed INSIDE the token
    array (array_sort over (xxhash64(w), w) structs) — zero exchanges,
    no document-frequency join; candidate generation has exactly ONE
    wide exchange (hashpartitioning on the token) and zero joins, the
    same gather-and-expand shape as minhash_lsh_pairs. ⌈t|A|⌉ is
    computed in INTEGER math (floor((9·sz+9)/10)) because
    ceil(0.9·30.0) = 28 in IEEE doubles — a silent prefix shrink.

    ``max_bucket`` caps hot-token postings BEFORE the collect_list
    gather (window count on the gather's own exchange, identical to
    the LSH scanners): a token present in d docs otherwise gathers a
    d-row bucket and emits O(d·p_d) pairs. Dropped buckets trade
    recall on boilerplate tokens for a hard bound of
    ≤ buckets × max_bucket² candidates; pass None for exact recall on
    corpora known not to degenerate. AllPairs' df-ascending order
    would shrink buckets further at the cost of a df join — the
    hash order keeps candidate generation join-free.

    docs: (doc_id, tk: array<string>) with tk distinct. Returns
    (doc_a=contained, doc_b=container) candidates; containment itself
    is NOT checked here — verify exactly downstream.
    """
    sz = F.size("tk")
    m = F.floor((F.lit(9) * sz + F.lit(8)) / 10).cast("int")   # ⌈0.9·|A|⌉
    p = (sz - m + F.lit(1)).cast("int")
    srt = F.array_sort(F.transform(
        "tk", lambda w: F.struct(F.xxhash64(w).alias("h"), w.alias("w"))))
    base = docs.select("doc_id", sz.alias("sz"), p.alias("p"),
                       F.posexplode(srt).alias("pos", "tw"))
    posts = base.select("doc_id", "sz", F.col("tw.w").alias("w"),
                        (F.col("pos") < F.col("p")).alias("pfx"))
    grouped = capped_gather(posts, ["w"], F.struct("doc_id", "sz", "pfx"),
                            max_bucket)
    pair_expr = F.expr("""
        flatten(transform(filter(ids, x -> x.pfx), x ->
            transform(filter(ids, y -> y.doc_id != x.doc_id
                                       AND x.sz <= y.sz),
                      y -> struct(x.doc_id AS a, y.doc_id AS b))))
    """)
    return (grouped.select(F.explode(pair_expr).alias("pr"))
            .select(F.col("pr.a").alias("doc_a"), F.col("pr.b").alias("doc_b"))
            .distinct())


@q("dedup_containment_scanner", _CONTAINMENT_SQL)
def dedup_containment_scanner(spark, sf):
    """The PRODUCTION containment path: prefix-filter candidate scan
    (containment_candidates — one wide exchange, join-free, hot-token
    capped) followed by exact containment verification on only the
    candidates. Closes the round-3 gap: dedup_containment is the
    all-pairs verifier twin; this is the subquadratic scanner a 100 TB
    excerpt-dedup run actually executes. Because prefix filtering has
    NO false negatives (and sf0.01's hottest short-doc token posts 58
    docs, well under the 256 cap), the two-stage result EQUALS the
    exact all-pairs answer — so this key is oracled against the very
    same exact-containment SQL, the strongest check available."""
    d = (t(spark, sf, "documents")
         .filter(F.col("text").isNotNull() & (F.col("n_chars") < 150))
         .select("doc_id",
                 F.array_distinct(F.split("text", r"\s+")).alias("tk")))
    cands = containment_candidates(d)
    j = (cands
         .join(d.select(F.col("doc_id").alias("doc_a"),
                        F.col("tk").alias("tka")), "doc_a")
         .join(d.select(F.col("doc_id").alias("doc_b"),
                        F.col("tk").alias("tkb")), "doc_b"))
    inter = F.size(F.array_intersect("tka", "tkb")).cast("double")
    cont = inter / F.size("tka")
    return (j.filter(cont >= 0.9)
            .select(F.col("doc_a").alias("contained_doc"),
                    F.col("doc_b").alias("container_doc"),
                    F.round(cont, 6).alias("containment")))


EDIT_D = 4               # absolute edit-distance bound
EDIT_Q = 4               # char-gram width
EDIT_PFX = EDIT_D * EDIT_Q + 1        # prefix postings per doc (17)
EDIT_L_TINY = EDIT_D * EDIT_Q + EDIT_Q  # below 20 chars the pigeonhole fails
EDIT_MAX_BUCKET = 256    # hot-gram posting cap (pre-gather)

_EDIT_SQL = f"""
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(levenshtein(a.text, b.text) AS INTEGER) AS edit_dist
FROM documents a JOIN documents b ON a.doc_id < b.doc_id
WHERE a.text IS NOT NULL AND b.text IS NOT NULL
  AND a.n_chars < 200 AND b.n_chars < 200
  AND abs(length(a.text) - length(b.text)) <= {EDIT_D}
  AND levenshtein(a.text, b.text) <= {EDIT_D}
"""


def edit_candidates(docs, max_bucket: int | None = EDIT_MAX_BUCKET):
    """Subquadratic candidate pairs for edit distance ≤ d = EDIT_D via
    CHARACTER q-GRAM (q = EDIT_Q) prefix filtering (Gravano et al.,
    q-gram count filter + AllPairs-style prefix): one edit operation
    destroys at most q positional q-grams, so lev(A,B) ≤ d leaves at
    most d·q DISTINCT grams of A absent from B's gram set. Sorting A's
    distinct grams in a consistent per-doc order (array_sort over
    (xxhash64(g), g) structs, computed INSIDE the array — zero
    exchanges, no df join) and posting only the first d·q+1 as
    "prefix" postings while every doc posts all its grams as container
    postings guarantees, by pigeonhole, that every true pair shares ≥1
    bucket — the same asymmetric posting scheme as
    containment_candidates, and the same single wide exchange
    (hashpartitioning on the gram) with zero joins in candidate
    generation.

    The pigeonhole needs A to carry MORE positional grams than d·q,
    i.e. char_length(A) ≥ d·q + q (= 20 here): below that an adversary
    can destroy every gram within budget. Tiny docs therefore post
    SENTINEL grams keyed by the prefix doc's exact length (prefix
    side: ln < 20 posts its own length key; container side: ln < 20+d
    posts every reachable key in [ln-d, ln+d], since the length filter
    |lnA−lnB| ≤ d bounds who a tiny doc can pair with), so
    tiny-vs-tiny and tiny-vs-near-tiny pairs surface through
    EDIT_L_TINY small dedicated buckets. Sentinel pairs are generated by
    an EQUI-JOIN on the length key, NOT the collect_list gather, and are
    exempt from the max_bucket cap — so losslessness is unconditional,
    not data-dependent, AND a dense tiny-doc population can never
    blow up a single aggregation buffer: the sentinel candidate set
    is Theta(n_tiny^2 / buckets) BY NATURE (sub-pigeonhole docs are
    unfilterable without losing pairs — n identical tiny docs have
    n(n-1)/2 TRUE pairs), and a shuffle join streams that quadratic
    output across the cluster where the in-array expansion would
    materialize a whole bucket's pair array in one row
    (BENCH/r05_edit_tiny_growth.json measures the path; the honest
    100 TB answer for tiny-doc-heavy corpora is the sub-20-char
    quality gate or exact-hash dedup FIRST, both standard). Docs
    shorter than q chars have zero grams and ride the sentinel alone
    (sequence(1, ln-q+1) would generate a DESCENDING [1,0] sequence
    for ln < q — Spark's sequence() direction trap — hence the
    explicit CASE guard).

    ``max_bucket`` caps hot-gram postings BEFORE the collect_list
    gather exactly like the LSH/containment scanners (window count on
    the gather's own exchange). docs: (doc_id, text, ln). Returns
    (doc_a < doc_b) candidate id pairs; the edit distance itself is
    verified exactly downstream on candidates only."""
    # Overlapping char q-grams via zero-width-lookahead regex
    # (verified row-equal to the transform/substring lambda on the
    # full sf0.1 corpus): no interpreted lambda in the gram build and
    # no CASE guard — sub-q-length docs simply yield no matches,
    # sidestepping Spark's descending-sequence(1, 0) trap. (?s) keeps
    # '.' matching newlines inside documents.
    grams = F.expr(
        f"array_distinct(regexp_extract_all(text, "
        f"'(?s)(?=(.{{{EDIT_Q}}}))', 1))")
    srt = F.array_sort(F.transform(
        grams, lambda g: F.struct(F.xxhash64(g).alias("h"), g.alias("w"))))
    base = docs.select("doc_id", "ln", F.posexplode(srt).alias("pos", "tw"))
    posts = base.select("doc_id", F.col("tw.w").alias("w"),
                        (F.col("pos") < F.lit(EDIT_PFX)).alias("pfx"))
    # Sentinel buckets are keyed by the PREFIX doc's exact length so a
    # degenerate all-tiny corpus splits into EDIT_L_TINY small buckets
    # instead of one quadratic one: a tiny prefix doc (ln < EDIT_L_TINY)
    # posts pfx=true at its own length key; every near-tiny container
    # doc (ln < EDIT_L_TINY + d) posts pfx=false at each reachable key
    # in [ln-d, ln+d] ∩ [0, EDIT_L_TINY) — the |lnA-lnB| ≤ d levenshtein
    # lower bound guarantees the true container is among them, so
    # losslessness is unconditional. 2d+1 extra postings per tiny doc.
    sent_pfx = (docs.filter(F.col("ln") < EDIT_L_TINY)
                .select(F.col("doc_id").alias("pa"),
                        F.col("ln").alias("k")))
    sent_cont = (docs.filter(F.col("ln") < EDIT_L_TINY + EDIT_D)
                 .select(F.col("doc_id").alias("pb"),
                         F.explode(F.expr(
                             f"sequence(greatest(0, ln - {EDIT_D}), "
                             f"least(ln + {EDIT_D}, {EDIT_L_TINY - 1}))"))
                         .alias("k")))
    # join-based sentinel pairs: the quadratic output STREAMS through
    # a shuffle join (each side hashpartitioned on the length key)
    # instead of materializing per-bucket pair arrays — no cap, no
    # aggregation-buffer bound, losslessness by construction
    sent_pairs = (sent_pfx.join(sent_cont, "k")
                  .filter(F.col("pa") != F.col("pb"))
                  .select(F.least("pa", "pb").alias("doc_a"),
                          F.greatest("pa", "pb").alias("doc_b")))
    # The hot-gram cap applies only to REAL gram buckets (the sentinel
    # path above is join-based and uncapped — capping it would silently
    # lose tiny-doc pairs). Capping real grams is the same documented
    # recall/scale tradeoff as the LSH/containment scanners; it never
    # engages at test SF.
    grouped = capped_gather(posts, ["w"], F.struct("doc_id", "pfx"),
                            max_bucket)
    pair_expr = F.expr("""
        flatten(transform(filter(ids, x -> x.pfx), x ->
            transform(filter(ids, y -> y.doc_id != x.doc_id), y ->
                struct(least(x.doc_id, y.doc_id) AS a,
                       greatest(x.doc_id, y.doc_id) AS b))))
    """)
    gram_pairs = (grouped.select(F.explode(pair_expr).alias("pr"))
                  .select(F.col("pr.a").alias("doc_a"),
                          F.col("pr.b").alias("doc_b")))
    return gram_pairs.unionByName(sent_pairs).distinct()


@q("dedup_edit_scanner", _EDIT_SQL)
def dedup_edit_scanner(spark, sf):
    """The PRODUCTION edit-distance path: q-gram prefix-filter
    candidate scan (edit_candidates — one wide exchange, join-free,
    hot-gram capped, sentinel-complete for tiny docs) followed by
    exact levenshtein verification on candidates only. Closes the last
    verifier-without-scanner gap in the near-dup triad:
    dedup_fuzzy_levenshtein is the all-pairs verifier twin (relative
    threshold); this is the subquadratic scanner a typo-level dedup
    run executes at corpus scale, with an ABSOLUTE bound (≤ 4 edits)
    because the q-gram guarantee is absolute-d by nature. Because
    prefix filtering has no false negatives and sf0.01's hottest
    short-doc 4-gram posts 90 docs (well under the 256 cap), the
    two-stage result EQUALS the exact all-pairs answer — oracled
    against that exact SQL, the strongest available check. The
    length-difference prefilter (|lenA−lenB| ≤ d, a free levenshtein
    lower bound) runs before the DP on both engines."""
    # scan-parallelism guard: the per-char q-gram regex + in-array
    # hash sort below run before any exchange
    d = (widen(spark, t(spark, sf, "documents"))
         .filter(F.col("text").isNotNull() & (F.col("n_chars") < 200))
         .select("doc_id", "text", F.char_length("text").alias("ln")))
    cands = edit_candidates(d)
    j = (cands
         .join(d.select(F.col("doc_id").alias("doc_a"),
                        F.col("text").alias("ta"), F.col("ln").alias("la")),
               "doc_a")
         .join(d.select(F.col("doc_id").alias("doc_b"),
                        F.col("text").alias("tb"), F.col("ln").alias("lb")),
               "doc_b"))
    # banded DP via the threshold form (Spark 3.5+): O(d·len) cells per
    # pair instead of O(len²) — on similarity-dense corpora the scanner
    # emits O(100k) candidates and the full DP dominated the query
    # (sf0.1: 462k candidates, 4.2 s → 1.1 s). Returns -1 when the
    # distance exceeds the threshold, so the keep-filter is dist >= 0
    # (every kept distance is exact and ≤ d — identical result set).
    dist = F.levenshtein("ta", "tb", EDIT_D)
    return (j.filter(F.abs(F.col("la") - F.col("lb")) <= EDIT_D)
            .filter(dist >= 0)
            .select("doc_a", "doc_b", dist.alias("edit_dist")))


@q("sample_weighted_topk", """
WITH u AS (
  SELECT doc_id, lang, n_chars,
         (CAST(strpos('0123456789abcdef',
                      substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1
               AS DOUBLE) * 4096
          + (strpos('0123456789abcdef',
                    substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 256
          + (strpos('0123456789abcdef',
                    substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
          + (strpos('0123456789abcdef',
                    substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1) + 1.0)
         / 65537.0 AS uni
  FROM documents WHERE text IS NOT NULL AND n_chars > 0
)
SELECT doc_id, lang, n_chars,
       ROUND(pow(uni, 1.0 / n_chars), 8) AS sample_key
FROM (
  SELECT *, row_number() OVER (
      ORDER BY pow(uni, 1.0 / n_chars) DESC, doc_id) AS rn
  FROM u
) WHERE rn <= 20
""")
def sample_weighted_topk(spark, sf):
    """Deterministic WEIGHTED sampling (Efraimidis–Spirakis A-ES):
    each doc draws key = u^(1/w) from a reproducible uniform and the
    top-k keys form a weighted-without-replacement sample — here
    weight = n_chars, the corpus-mixing primitive (sample long docs
    proportionally more). The uniform derives from 4 md5 hex digits
    decoded POSITIONALLY (strpos over '0123456789abcdef' — both
    engines lack a portable hex→int cast, so the digits are decoded
    by string position, identically). Top-k via one TakeOrdered-style
    window with doc_id tiebreak; at scale per-partition top-k
    pre-prunes before the final merge (same plan Spark already picks
    for orderBy+limit)."""
    d = t(spark, sf, "documents").filter(
        F.col("text").isNotNull() & (F.col("n_chars") > 0))
    hx = F.md5(F.col("doc_id").cast("string"))
    digits = "0123456789abcdef"

    def hexval(i):
        return F.instr(F.lit(digits), F.substring(hx, i, 1)) - 1

    uni = ((hexval(1).cast("double") * 4096 + hexval(2) * 256
            + hexval(3) * 16 + hexval(4) + 1.0) / 65537.0)
    key = F.pow(uni, 1.0 / F.col("n_chars"))
    return (d.select("doc_id", "lang", "n_chars",
                     key.alias("_k"))
            .withColumn("rn", F.row_number().over(
                W.orderBy(F.col("_k").desc(), "doc_id")))
            .filter(F.col("rn") <= 20)
            .select("doc_id", "lang", "n_chars",
                    F.round("_k", 8).alias("sample_key")))


@q("corpus_mix_plan", """
WITH c AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_chars) AS BIGINT) AS n_chars_total
  FROM documents WHERE text IS NOT NULL GROUP BY lang
), tot AS (SELECT CAST(sum(n_chars_total) AS BIGINT) AS grand FROM c)
SELECT lang, n_docs, n_chars_total,
       ROUND(CAST(n_chars_total AS DOUBLE) / CAST(grand AS DOUBLE), 6)
           AS actual_share,
       CAST(CASE WHEN lang = 'en' THEN 0.6 ELSE 0.1 END AS DOUBLE)
           AS target_share,
       ROUND(least((CASE WHEN lang = 'en' THEN 0.6 ELSE 0.1 END)
                   / (CAST(n_chars_total AS DOUBLE) / CAST(grand AS DOUBLE)),
                   1.0), 6) AS keep_rate
FROM c, tot
""")
def corpus_mix_plan(spark, sf):
    """Pretraining mix planning: actual char-share per language vs a
    target mix, and the keep-rate (capped at 1.0 — never upsample by
    duplication here) that a downsampling pass should apply to hit it.
    The arithmetic the sample_weighted_topk / sample_stratified ops
    then EXECUTE — plan and mechanism as separate, composable
    operators. One tiny agg + a broadcast grand total."""
    d = t(spark, sf, "documents").filter(F.col("text").isNotNull())
    c = (d.groupBy("lang")
         .agg(F.count("*").cast("bigint").alias("n_docs"),
              F.sum("n_chars").cast("bigint").alias("n_chars_total")))
    tot = c.agg(F.sum("n_chars_total").cast("bigint").alias("grand"))
    share = F.col("n_chars_total").cast("double") / F.col("grand").cast("double")
    target = F.when(F.col("lang") == "en", 0.6).otherwise(0.1)
    return (c.crossJoin(F.broadcast(tot))
            .select("lang", "n_docs", "n_chars_total",
                    F.round(share, 6).alias("actual_share"),
                    target.alias("target_share"),
                    F.round(F.least(target / share, F.lit(1.0)), 6)
                    .alias("keep_rate")))


@q("vocab_growth_curve", r"""
WITH firsts AS (
  SELECT w, min(doc_id) AS first_doc FROM (
    SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
    FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0
  ) GROUP BY w
), spine AS (
  SELECT unnest(generate_series(1, 10)) AS decile
)
SELECT s.decile,
       CAST(count(CASE WHEN f.first_doc
                       <= s.decile * (SELECT max(first_doc) FROM firsts) / 10
                       THEN 1 END) AS BIGINT) AS vocab_size
FROM spine s CROSS JOIN firsts f
GROUP BY s.decile
""")
def vocab_growth_curve(spark, sf):
    """Vocabulary growth curve (Heaps'-law profile): distinct words
    seen after each decile of the corpus, computed WITHOUT ten passes —
    each word reduces to its FIRST document (one agg), then every
    decile threshold counts first-docs below it from that tiny
    (word → first_doc) table crossed with a 10-row spine. The
    diagnostic that says whether a tokenizer/vocab budget will
    saturate; sublinear growth = healthy, linear = the corpus keeps
    inventing tokens (OCR noise, IDs) and needs cleaning."""
    d = (t(spark, sf, "documents")
         .filter(F.col("text").isNotNull() & (F.length(F.trim("text")) > 0)))
    toks = d.select("doc_id", F.explode(words()).alias("w"))
    firsts = toks.groupBy("w").agg(F.min("doc_id").alias("first_doc"))
    spine = t(spark, sf, "documents").sparkSession.range(1, 11) \
        .select(F.col("id").cast("bigint").alias("decile"))
    mx = firsts.agg(F.max("first_doc").alias("m"))
    j = firsts.crossJoin(F.broadcast(spine)).crossJoin(F.broadcast(mx))
    return (j.groupBy("decile")
            .agg(F.count(F.when(
                F.col("first_doc") <= F.col("decile") * F.col("m") / 10,
                1)).cast("bigint").alias("vocab_size")))


@q("tfidf_cosine_pairs", r"""
WITH toks AS (
  SELECT doc_id, unnest(list_distinct(
             regexp_split_to_array(trim(text), '\s+'))) AS w
  FROM documents WHERE text IS NOT NULL AND n_chars < 150
), df AS (
  SELECT w, CAST(count(*) AS BIGINT) AS dfreq FROM toks GROUP BY w
  HAVING count(*) <= 50
), nd AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n FROM toks),
wt AS (
  SELECT t.doc_id, t.w,
         ln(1.0 + CAST((SELECT n FROM nd) AS DOUBLE) / dfreq) AS idf
  FROM toks t JOIN df ON t.w = df.w
), nrm AS (
  SELECT doc_id, sqrt(sum(idf * idf)) AS l2 FROM wt GROUP BY doc_id
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       ROUND(sum(wa.idf * wb.idf) / (max(na.l2) * max(nb.l2)), 6) AS cosine
FROM wt wa JOIN wt wb ON wa.w = wb.w AND wa.doc_id < wb.doc_id
JOIN nrm na ON na.doc_id = wa.doc_id
JOIN nrm nb ON nb.doc_id = wb.doc_id
JOIN (SELECT DISTINCT doc_id FROM toks) a ON a.doc_id = wa.doc_id
JOIN (SELECT DISTINCT doc_id FROM toks) b ON b.doc_id = wb.doc_id
GROUP BY a.doc_id, b.doc_id
HAVING sum(wa.idf * wb.idf) / (max(na.l2) * max(nb.l2)) >= 0.5
""")
def tfidf_cosine_pairs(spark, sf, df_cap=50):
    """WEIGHTED document similarity: idf-weighted cosine over shared
    terms (binary tf — presence — so only idf weights matter), pairs
    above 0.5. Completes the near-dup triad: Jaccard (symmetric set
    overlap), containment (asymmetric), and now idf-cosine, which
    discounts ubiquitous words so boilerplate overlap stops inflating
    similarity. The pair join runs on the TERM index (inverted-index
    self-join), and — the scale bound — terms with document frequency
    above df_cap are DROPPED before the self-join on both engines:
    each surviving term contributes at most df_cap²/2 candidate pairs,
    so total pair work is ≤ |terms|·df_cap²/2 instead of quadratic in
    the hottest term's df (a stop-word in d docs would otherwise emit
    d²/2 pairs that idf then weights to ~0 — all wasted). Standard
    inverted-index practice; in production df_cap is an absolute
    stop-word-scale constant (10³-10⁴) independent of corpus size.
    Exact verifier twin of a production LSH scan, scoped to short
    docs like its siblings."""
    d = (t(spark, sf, "documents")
         .filter(F.col("text").isNotNull() & (F.col("n_chars") < 150)))
    toks = d.select("doc_id",
                    F.explode(F.array_distinct(words())).alias("w"))
    dfreq = toks.groupBy("w").agg(F.count("*").alias("dfreq"))
    if df_cap is not None:
        dfreq = dfreq.filter(F.col("dfreq") <= df_cap)
    nd = toks.agg(F.countDistinct("doc_id").alias("n"))
    wt = (toks.join(F.broadcast(dfreq), "w")
          .crossJoin(F.broadcast(nd))
          .select("doc_id", "w",
                  F.log(1.0 + F.col("n").cast("double") / F.col("dfreq"))
                  .alias("idf")))
    nrm = wt.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("idf") * F.col("idf"))).alias("l2"))
    wa = wt.select(F.col("doc_id").alias("doc_a"),
                   F.col("w").alias("wa_w"), F.col("idf").alias("ia"))
    wb = wt.select(F.col("doc_id").alias("doc_b"),
                   F.col("w").alias("wb_w"), F.col("idf").alias("ib"))
    pairs = (wa.join(wb, (F.col("wa_w") == F.col("wb_w"))
                     & (F.col("doc_a") < F.col("doc_b")))
             .groupBy("doc_a", "doc_b")
             .agg(F.sum(F.col("ia") * F.col("ib")).alias("dot")))
    na = nrm.select(F.col("doc_id").alias("doc_a"), F.col("l2").alias("la"))
    nb = nrm.select(F.col("doc_id").alias("doc_b"), F.col("l2").alias("lb"))
    cos = F.col("dot") / (F.col("la") * F.col("lb"))
    return (pairs.join(F.broadcast(na), "doc_a")
            .join(F.broadcast(nb), "doc_b")
            .filter(cos >= 0.5)
            .select("doc_a", "doc_b", F.round(cos, 6).alias("cosine")))


def _vocab_signature():
    """Order-insensitive vocabulary fingerprint: md5 of the sorted
    distinct token set. Template/permutation near-dups (same words,
    reordered) share it where the exact content hash differs — the
    cheap blocking key between exact dedup and MinHash."""
    return F.md5(F.encode(F.array_join(
        F.array_sort(F.array_distinct(words())),
        " "), "utf-8"))


@q("dedup_cluster_histogram", r"""
WITH sig AS (
  SELECT md5(array_to_string(list_sort(list_distinct(
             regexp_split_to_array(trim(text), '\s+'))), ' ')) AS s
  FROM documents WHERE text IS NOT NULL
), cl AS (SELECT s, CAST(count(*) AS BIGINT) AS cluster_size
          FROM sig GROUP BY s)
SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
       CAST(cluster_size * count(*) AS BIGINT) AS n_docs
FROM cl GROUP BY cluster_size
""")
def dedup_cluster_histogram(spark, sf):
    """Duplicate-cluster SIZE DISTRIBUTION — the first number a dedup
    run reports (how much of the corpus sits in how-big clusters, and
    whether one mega-cluster dominates). Clustered by the vocabulary
    signature (sorted distinct token set) so permutation/template dups
    group where the exact hash would not. Two hash aggregations, no
    joins; the histogram is |distinct sizes| rows. Portability: tokens
    are plain ASCII, so JVM and DuckDB string sort orders agree."""
    d = t(spark, sf, "documents").filter(F.col("text").isNotNull())
    cl = (d.select(_vocab_signature().alias("s"))
          .groupBy("s").agg(F.count("*").cast("bigint")
                            .alias("cluster_size")))
    return (cl.groupBy("cluster_size")
            .agg(F.count("*").cast("bigint").alias("n_clusters"))
            .select("cluster_size", "n_clusters",
                    (F.col("cluster_size") * F.col("n_clusters"))
                    .cast("bigint").alias("n_docs")))


@q("corpus_source_contamination", r"""
WITH sig AS (
  SELECT DISTINCT source,
         md5(array_to_string(list_sort(list_distinct(
             regexp_split_to_array(trim(text), '\s+'))), ' ')) AS s
  FROM documents WHERE text IS NOT NULL
)
SELECT a.source AS source_a, b.source AS source_b,
       CAST(count(*) AS BIGINT) AS n_shared_sigs
FROM sig a JOIN sig b ON a.s = b.s AND a.source < b.source
GROUP BY 1, 2
""")
def corpus_source_contamination(spark, sf):
    """Cross-SOURCE duplication matrix: for every source pair, how many
    vocabulary signatures both contain — the mirror-site / scrape-
    overlap accounting a corpus-mix plan needs before weighting sources
    (double-counted content silently overweights itself). The self-join
    runs on DISTINCT (signature, source) rows, so per-signature fanout
    is bounded by the number of SOURCES (small and fixed — hundreds at
    100 TB), never by document count."""
    d = t(spark, sf, "documents").filter(F.col("text").isNotNull())
    sig = d.select("source", _vocab_signature().alias("s")).distinct()
    a = sig.select(F.col("source").alias("source_a"), "s")
    b = sig.select(F.col("source").alias("source_b"), "s")
    return (a.join(b, "s")
            .filter(F.col("source_a") < F.col("source_b"))
            .groupBy("source_a", "source_b")
            .agg(F.count("*").cast("bigint").alias("n_shared_sigs")))


@q("funnel_within_window", """
WITH v AS (
  SELECT user_id, min(ts) AS first_view FROM events
  WHERE event_type = 'view' GROUP BY user_id
)
SELECT v.user_id, v.first_view,
       min(p.ts) AS first_purchase,
       CAST(count(*) AS BIGINT) AS purchases_in_window
FROM v JOIN events p
  ON p.user_id = v.user_id AND p.event_type = 'purchase'
 AND p.ts > v.first_view
 AND p.ts <= v.first_view + INTERVAL 24 HOUR
GROUP BY v.user_id, v.first_view
""")
def funnel_within_window(spark, sf):
    """TIME-BOUNDED funnel (the windowFunnel shape): users whose first
    'view' converts to a 'purchase' within 24 h — unlike funnel_steps,
    ordering alone doesn't count; the conversion must land inside the
    window. Range condition rides the equi-join on user_id (no extra
    shuffle); timestamps compared as timestamps (no epoch casts — the
    TIMESTAMP_NTZ truncation trap)."""
    e = t(spark, sf, "events")
    v = (e.filter(F.col("event_type") == "view")
         .groupBy("user_id").agg(F.min("ts").alias("first_view")))
    p = e.filter(F.col("event_type") == "purchase") \
         .select("user_id", F.col("ts").alias("pts"))
    j = v.join(p, "user_id").filter(
        (F.col("pts") > F.col("first_view"))
        & (F.col("pts") <= F.col("first_view") + F.expr("INTERVAL 24 HOURS")))
    return (j.groupBy("user_id", "first_view")
            .agg(F.min("pts").alias("first_purchase"),
                 F.count("*").cast("bigint").alias("purchases_in_window")))


@q("ngram_novelty_curve", r"""
WITH g AS (
  SELECT DISTINCT CAST(regexp_extract(source, 'src(\d+)', 1) AS INT)
             AS src_rank, source, w AS gram
  FROM (
    SELECT source, unnest(list_transform(
        range(1, len(regexp_split_to_array(trim(text), '\s+')) - 1),
        i -> array_to_string(regexp_split_to_array(trim(text), '\s+')[i:i+2],
                             ' '))) AS w
    FROM documents WHERE text IS NOT NULL)
), fst AS (SELECT gram, min(src_rank) AS first_rank FROM g GROUP BY gram)
SELECT g.source, CAST(count(*) AS BIGINT) AS n_grams,
       CAST(count(*) FILTER (f.first_rank = g.src_rank) AS BIGINT)
           AS n_novel,
       ROUND(CAST(count(*) FILTER (f.first_rank = g.src_rank) AS DOUBLE)
             / count(*), 6) AS novelty_rate
FROM g JOIN fst f ON f.gram = g.gram
GROUP BY g.source
""")
def ngram_novelty_curve(spark, sf):
    """Incremental SOURCE NOVELTY: for each source (in source-id
    order), what fraction of its distinct 3-grams no lower-ranked
    source already contributed — the diminishing-returns curve that
    decides whether adding the next crawl/source buys new content or
    re-buys the old (source-selection's Heaps-law cousin, but
    attributed per source). Distinct grams per source → min-rank per
    gram (one hash agg over the gram key) → rank equality; everything
    linear in total gram volume, join keyed on the gram."""
    # widen BEFORE the cheap null filter: the isnotnull still reaches
    # the scan via pushdown, below the round-robin exchange
    d = widen(spark, t(spark, sf, "documents")).filter(
        F.col("text").isNotNull())
    # word_ngrams instead of a transform/slice lambda: 3.75 s -> 0.64 s
    # at sf0.1
    grams = d.select(
        F.regexp_extract("source", r"src(\d+)", 1).cast("int")
        .alias("src_rank"),
        "source",
        F.explode(word_ngrams(spaced(), 3)).alias("gram"))
    # ONE wide exchange on the gram key: min-rank and the distinct
    # (source, rank) member set fold in the same hash aggregate (the
    # collect_set dedups map-side, replacing the old explicit
    # .distinct() exchange AND the window exchange); the set is
    # bounded by |sources|, and the per-source count after explode is
    # a dimension-sized aggregate. 22% faster than the window form at
    # sf0.1 and one exchange fewer in the plan.
    g = (grams.groupBy("gram")
         .agg(F.min("src_rank").alias("first_rank"),
              F.collect_set(F.struct("source", "src_rank"))
              .alias("members")))
    m = g.select("first_rank", F.explode("members").alias("m"))
    novel = F.sum(F.when(F.col("m.src_rank") == F.col("first_rank"), 1)
                  .otherwise(0))
    return (m.groupBy(F.col("m.source").alias("source"))
            .agg(F.count("*").cast("bigint").alias("n_grams"),
                 novel.cast("bigint").alias("n_novel"),
                 F.round(novel.cast("double") / F.count("*"), 6)
                 .alias("novelty_rate")))


@q("text_zipf_fit", r"""
WITH tok AS (
  SELECT lang, unnest(regexp_split_to_array(trim(text), '\s+')) AS w
  FROM documents WHERE text IS NOT NULL
), freq AS (
  SELECT lang, w, count(*) AS f FROM tok WHERE w <> '' GROUP BY lang, w
), ranked AS (
  SELECT lang, f, row_number() OVER (
      PARTITION BY lang ORDER BY f DESC, w) AS r
  FROM freq
)
SELECT lang, CAST(count(*) AS BIGINT) AS vocab,
       ROUND(regr_slope(ln(CAST(f AS DOUBLE)), ln(CAST(r AS DOUBLE))), 4)
           AS zipf_slope,
       ROUND(regr_r2(ln(CAST(f AS DOUBLE)), ln(CAST(r AS DOUBLE))), 4)
           AS fit_r2
FROM ranked GROUP BY lang
""")
def text_zipf_fit(spark, sf):
    """Zipf-law fit per language: regress ln(freq) on ln(rank) over the
    token frequency table — the corpus-health diagnostic that flags
    machine-generated or template-heavy text (natural language sits
    near slope -1; flat slopes mean synthetic repetition, steep ones a
    collapsed vocabulary). Token counts are exact integers, ranks are
    deterministic (freq desc, token asc), and the regression is the
    same one-pass moment aggregate as agg_regression — the exchange
    carries |vocab| rows per lang, rounding absorbs summation-order
    ULP drift."""
    d = t(spark, sf, "documents").filter(F.col("text").isNotNull())
    tok = (d.select("lang", F.explode(words()).alias("w"))
           .filter(F.col("w") != ""))
    freq = tok.groupBy("lang", "w").agg(F.count("*").alias("f"))
    r = F.row_number().over(
        W.partitionBy("lang").orderBy(F.col("f").desc(), "w"))
    ranked = freq.withColumn("r", r)
    lnf = F.log(F.col("f").cast("double"))
    lnr = F.log(F.col("r").cast("double"))
    return (ranked.groupBy("lang")
            .agg(F.count("*").cast("bigint").alias("vocab"),
                 F.round(F.regr_slope(lnf, lnr), 4).alias("zipf_slope"),
                 F.round(F.regr_r2(lnf, lnr), 4).alias("fit_r2")))


@q("join_runtime_bloom", """
SELECT l.l_orderkey, l.l_extendedprice, o.o_orderdate
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE o.o_totalprice > 490000
""")
def join_runtime_bloom(spark, sf):
    """The runtime-filter join shape: a SELECTIVE dimension predicate
    (o_totalprice > 490k keeps the top ~1.5% of orders) joined to the big
    fact. Declaratively it's a plain equi-join — the 100 TB point is
    what Catalyst INJECTS: with runtime bloom filters on (
    spark.sql.optimizer.runtime.bloomFilter.enabled, default true in
    Spark 4; size thresholds gate small inputs), the orders side builds
    a bloom filter that is pushed into the lineitem SCAN as
    BloomFilterMightContain, so fact rows that cannot join are dropped
    at the scan instead of shuffling — the engine-native semi-join
    reduction people hand-roll on lesser stacks.
    tests/test_plan_shape.py asserts the injected filter appears once
    the size thresholds are lowered to sandbox scale."""
    li = t(spark, sf, "lineitem").select("l_orderkey", "l_extendedprice")
    o = (t(spark, sf, "orders")
         .filter(F.col("o_totalprice") > 490000)
         .select("o_orderkey", "o_orderdate"))
    return (li.join(o, li.l_orderkey == o.o_orderkey)
            .select("l_orderkey", "l_extendedprice", "o_orderdate"))


@q("agg_percentile_approx")  # rows-only: sketch internals are engine-specific
def agg_percentile_approx(spark, sf):
    """The SCALABLE quantile path: percentile_approx (Greenwald-Khanna
    sketch) per group — exact percentile (agg_percentile) needs the
    full value multiset per group in one place; the sketch is a
    bounded-size mergeable summary, the only way to quantile a 100 TB
    fact in one pass. Rows-only by nature (sketch compaction is
    engine-specific); tests/test_dataops.py bounds its rank error
    against the exact percentile at accuracy=1000."""
    li = t(spark, sf, "lineitem")
    return (li.groupBy("l_returnflag")
            .agg(F.count("*").cast("bigint").alias("n"),
                 F.percentile_approx("l_extendedprice", 0.5, 1000)
                 .alias("approx_p50"),
                 F.percentile_approx("l_extendedprice", 0.99, 1000)
                 .alias("approx_p99")))


@q("tpch_q18_shape", """
WITH big AS (
  SELECT l_orderkey, sum(l_quantity) AS total_qty
  FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 300
)
SELECT o.o_orderkey, o.o_custkey, o.o_orderdate,
       ROUND(o.o_totalprice, 2) AS o_totalprice,
       ROUND(b.total_qty, 2) AS total_qty
FROM big b JOIN orders o ON o.o_orderkey = b.l_orderkey
""")
def tpch_q18_shape(spark, sf):
    """TPC-H Q18 (large-volume customers) shape: a HAVING-filtered
    aggregate over the fact feeding a join back to its dimension — the
    canonical 'aggregate-then-semi-join' plan. The agg side shrinks to
    the qualifying orders BEFORE the join (map-side partial sum, then
    |orders|-sized exchange), and the surviving slice is small enough
    to broadcast against orders at any scale — never join-then-agg,
    which would shuffle the whole fact against orders first."""
    li = t(spark, sf, "lineitem")
    big = (li.groupBy("l_orderkey")
           .agg(F.sum("l_quantity").alias("total_qty"))
           .filter(F.col("total_qty") > 300))
    o = t(spark, sf, "orders")
    return (big.join(o, big.l_orderkey == o.o_orderkey)
            .select("o_orderkey", "o_custkey", "o_orderdate",
                    F.round("o_totalprice", 2).alias("o_totalprice"),
                    F.round("total_qty", 2).alias("total_qty")))


@q("text_prefix_containment", r"""
WITH d AS (
  SELECT doc_id, text FROM documents
  WHERE text IS NOT NULL AND len(text) >= 10
)
SELECT a.doc_id AS prefix_doc, b.doc_id AS container_doc,
       CAST(len(a.text) AS BIGINT) AS prefix_len
FROM d a JOIN d b ON substr(a.text, 1, 10) = substr(b.text, 1, 10)
                 AND a.doc_id <> b.doc_id
WHERE len(a.text) < len(b.text) AND starts_with(b.text, a.text)
""")
def text_prefix_containment(spark, sf):
    """TRUNCATION dups: documents whose ENTIRE text is a strict prefix
    of another document (feed cut-offs, pagination tails, re-crawls of
    partial pages) — a dup class token-set similarity under-weights
    and MinHash often misses (the prefix's shingles are a biased
    sample). Blocked equi-join on the first 10 chars — a doc can only
    be a prefix of docs sharing its opening — then exact startswith
    verification inside the block; candidate fanout is bounded by
    opening-collision group sizes, never corpus²."""
    d = (t(spark, sf, "documents")
         .filter(F.col("text").isNotNull() & (F.length("text") >= 10)))
    a = d.select(F.col("doc_id").alias("prefix_doc"),
                 F.col("text").alias("ta"),
                 F.substring("text", 1, 10).alias("blk"))
    b = d.select(F.col("doc_id").alias("container_doc"),
                 F.col("text").alias("tb"),
                 F.substring("text", 1, 10).alias("blk"))
    return (a.join(b, "blk")
            .filter((F.col("prefix_doc") != F.col("container_doc"))
                    & (F.length("ta") < F.length("tb"))
                    & F.col("tb").startswith(F.col("ta")))
            .select("prefix_doc", "container_doc",
                    F.length("ta").cast("bigint").alias("prefix_len")))


@q("ts_anomaly_mad", """
WITH med AS (
  SELECT user_id, quantile_cont(value, 0.5) AS m
  FROM events WHERE value IS NOT NULL GROUP BY user_id
), mad AS (
  SELECT e.user_id, quantile_cont(abs(e.value - m.m), 0.5) AS d
  FROM events e JOIN med m ON e.user_id = m.user_id
  WHERE e.value IS NOT NULL GROUP BY e.user_id
)
SELECT e.event_id, e.user_id, ROUND(e.value, 4) AS value,
       ROUND(abs(e.value - med.m) / (1.4826 * mad.d), 4) AS robust_z
FROM events e JOIN med USING (user_id) JOIN mad USING (user_id)
WHERE e.value IS NOT NULL AND mad.d > 0
  AND abs(e.value - med.m) / (1.4826 * mad.d) > 3
""")
def ts_anomaly_mad(spark, sf):
    """Robust per-key anomaly flags: |x − median| / (1.4826·MAD) > 3 —
    the outlier detector that survives the outliers it hunts (mean/std
    get dragged by the anomaly itself). Two exact-percentile passes
    (each a |users|-row aggregate; the percentile interpolation formula
    is IEEE-identical across engines, proven by agg_winsorized), both
    broadcast back onto the fact — the fact never re-shuffles."""
    e = t(spark, sf, "events").filter(F.col("value").isNotNull())
    med = e.groupBy("user_id").agg(
        F.expr("percentile(value, 0.5)").alias("m"))
    dev = e.join(F.broadcast(med), "user_id")
    mad = dev.groupBy("user_id").agg(
        F.expr("percentile(abs(value - m), 0.5)").alias("d"))
    z = F.abs(F.col("value") - F.col("m")) / (1.4826 * F.col("d"))
    return (e.join(F.broadcast(med), "user_id")
            .join(F.broadcast(mad), "user_id")
            .filter((F.col("d") > 0) & (z > 3))
            .select("event_id", "user_id",
                    F.round("value", 4).alias("value"),
                    F.round(z, 4).alias("robust_z")))


def _dpp_events_dir(spark, sf) -> str:
    """Materialize (once per sf dir) a day-partitioned copy of events —
    the physical layout a 100 TB fact table actually has (partitioned
    by ingestion day), which the flat testdata parquet cannot express.
    Cached under /tmp keyed by the sf dir name; _SUCCESS is the
    write-complete marker."""
    import os
    tag = os.path.basename(os.path.normpath(sf))
    out = f"/tmp/ocrflow_dpp_{tag}/events_by_day"
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        e = t(spark, sf, "events").withColumn("day", F.to_date("ts"))
        e.repartition("day").write.mode("overwrite") \
            .partitionBy("day").parquet(out)
    return out


@q("join_partition_pruned", """
WITH top3 AS (
  SELECT d FROM (
    SELECT date_trunc('day', ts) AS d, count(*) AS n
    FROM events GROUP BY 1)
  ORDER BY n DESC, d LIMIT 3
)
SELECT e.event_id, e.user_id, e.event_type,
       date_trunc('day', e.ts) AS day
FROM events e JOIN top3 t ON date_trunc('day', e.ts) = t.d
""")
def join_partition_pruned(spark, sf):
    """DYNAMIC PARTITION PRUNING: the fact is stored partitioned by
    day (the real 100 TB layout, materialized once — _dpp_events_dir),
    and joining it to a small dim of the top-3 busiest days makes
    Catalyst inject the dim's values as a runtime PartitionFilter into
    the fact scan — only 3 of 30 day-directories are read, decided at
    RUN time from the dim side (a static WHERE could never know them).
    The dim derives deterministically from the fact (count desc, day
    tiebreak). tests/test_plan_shape.py asserts the dynamicpruning
    expression lands in the scan's PartitionFilters. Oracle: same
    logical result off the flat table."""
    out = _dpp_events_dir(spark, sf)
    fact = spark.read.parquet(out)
    # the n > 0 comparison is semantically vacuous but gives the dim
    # side the selective predicate Spark's PartitionPruning rule
    # requires before it will inject a DPP subquery (isLikelySelective)
    days = (fact.groupBy("day").agg(F.count("*").alias("n"))
            .orderBy(F.col("n").desc(), "day").limit(3)
            .filter(F.col("n") > 0)
            .select(F.col("day").alias("d")))
    return (fact.join(days, fact.day == days.d)
            .select("event_id", "user_id", "event_type", "day"))


@q("sql_parameterized", """
SELECT event_type, CAST(count(*) AS BIGINT) AS n,
       ROUND(avg(value), 4) AS avg_value
FROM events
WHERE value IS NOT NULL AND value > 50.0 AND event_type <> 'error'
GROUP BY event_type
""")
def sql_parameterized(spark, sf):
    """PySpark 4 PARAMETERIZED SQL: named placeholders bound via
    spark.sql(query, args=...) — the injection-safe templating API
    (values are bound as literals by the parser, never string-spliced,
    so a payload like "'; DROP TABLE--" stays a value). The driver
    contract everywhere else uses the DataFrame DSL; this key proves
    the SQL-string surface with binding, against the same oracle."""
    t(spark, sf, "events").createOrReplaceTempView("events_v")
    return spark.sql(
        """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                  ROUND(avg(value), 4) AS avg_value
           FROM events_v
           WHERE value IS NOT NULL AND value > :thr
             AND event_type <> :excluded
           GROUP BY event_type""",
        args={"thr": 50.0, "excluded": "error"})


@q("observed_gate", """
SELECT doc_id, lang, n_chars FROM documents
WHERE text IS NOT NULL AND n_chars BETWEEN 20 AND 5000
  AND len(regexp_split_to_array(trim(text), '\\s+')) >= 5
""")
def observed_gate(spark, sf):
    """The quality gate instrumented with the OBSERVATION API:
    df.observe() attaches aggregate metrics (rows seen, rows kept,
    chars kept) that are collected AS A SIDE EFFECT of whatever action
    runs the plan — zero extra passes, the mechanism a production
    curation job uses to emit per-stage acceptance metrics into its
    lineage/metrics table without re-scanning 100 TB (the A11 metrics
    contract, but engine-native). The observed values are asserted
    against independent aggregates in tests/test_dataops.py; the
    returned gate result takes the ordinary oracle."""
    from pyspark.sql import Observation
    d = t(spark, sf, "documents").filter(F.col("text").isNotNull())
    obs = Observation("gate")
    gated = (d.observe(obs,
                       F.count(F.lit(1)).alias("rows_seen"),
                       F.sum("n_chars").alias("chars_seen"))
             .filter((F.col("n_chars").between(20, 5000))
                     & (F.size(words()) >= 5))
             .select("doc_id", "lang", "n_chars"))
    return gated


@q("conv_context_window", r"""
WITH tr AS (
  SELECT 'conv-' || lpad(CAST(doc_id % 50 AS VARCHAR), 8, '0') AS conv_id,
         CAST(doc_id // 50 AS INT) AS turn_idx, text
  FROM documents WHERE text IS NOT NULL
)
SELECT conv_id, turn_idx,
       CAST(coalesce(n_ctx, 0) AS BIGINT) AS n_ctx,
       coalesce(ctx_md5, '') AS ctx_md5
FROM (
  SELECT conv_id, turn_idx,
         count(*) OVER w AS n_ctx,
         md5(string_agg(text, chr(10)) OVER w) AS ctx_md5
  FROM tr
  WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx
               ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)
)
""")
def conv_context_window(spark, sf):
    """CONTEXT-WINDOW construction — the SFT-example builder: for every
    turn, the up-to-3 preceding turns of its conversation, stitched in
    stable order and fingerprinted (md5 over the newline join, so one
    out-of-order or missing context turn anywhere flips the hash).
    One window exchange on conv_id; the frame is ROWS-bounded, so
    state per key is 3 rows regardless of conversation length — the
    shape that survives 10^12-turn conversations where an unbounded
    collect would not."""
    d = t(spark, sf, "documents").filter(F.col("text").isNotNull())
    tr = d.select(
        conv_id(),
        (F.col("doc_id") / 50).cast("int").alias("turn_idx"), "text")
    w = (W.partitionBy("conv_id").orderBy("turn_idx")
         .rowsBetween(-3, -1))
    ctx = F.array_join(F.collect_list("text").over(w), "\n")
    return (tr.select(
        "conv_id", "turn_idx",
        F.size(F.collect_list("text").over(w)).cast("bigint").alias("n_ctx"),
        F.when(F.count("*").over(w) > 0,
               F.md5(F.encode(ctx, "utf-8"))).otherwise(F.lit(""))
        .alias("ctx_md5")))


@q("conv_reply_pairs", r"""
WITH tr AS (
  SELECT 'conv-' || lpad(CAST(doc_id % 50 AS VARCHAR), 8, '0') AS conv_id,
         CAST(doc_id // 50 AS INT) AS turn_idx,
         CASE WHEN CAST(doc_id // 50 AS INT) % 2 = 0
              THEN 'user' ELSE 'assistant' END AS role,
         text
  FROM documents WHERE text IS NOT NULL
)
SELECT conv_id, turn_idx AS prompt_turn,
       md5(text) AS prompt_md5, md5(reply) AS reply_md5
FROM (
  SELECT conv_id, turn_idx, role, text,
         lead(text) OVER (PARTITION BY conv_id ORDER BY turn_idx)
             AS reply,
         lead(role) OVER (PARTITION BY conv_id ORDER BY turn_idx)
             AS reply_role
  FROM tr
)
WHERE role = 'user' AND reply_role = 'assistant' AND reply IS NOT NULL
""")
def conv_reply_pairs(spark, sf):
    """INSTRUCTION-PAIR extraction — (user turn, next assistant turn)
    per conversation, the unit an SFT pipeline actually trains on.
    Adjacency via lead() over the stable turn order (one window
    exchange, no self-join — the equi-join formulation shuffles the
    corpus twice and breaks on gapped turn indices); both sides
    md5-fingerprinted. Role here is the deterministic parity mapping
    the documents→transcripts reshaping defines; on real transcripts
    the role column is stored."""
    d = t(spark, sf, "documents").filter(F.col("text").isNotNull())
    ti = (F.col("doc_id") / 50).cast("int")
    tr = d.select(
        conv_id(),
        ti.alias("turn_idx"),
        F.when(ti % 2 == 0, F.lit("user")).otherwise(F.lit("assistant"))
        .alias("role"),
        "text")
    w = W.partitionBy("conv_id").orderBy("turn_idx")
    x = tr.select("conv_id", "turn_idx", "role", "text",
                  F.lead("text").over(w).alias("reply"),
                  F.lead("role").over(w).alias("reply_role"))
    return (x.filter((F.col("role") == "user")
                     & (F.col("reply_role") == "assistant")
                     & F.col("reply").isNotNull())
            .select("conv_id", F.col("turn_idx").alias("prompt_turn"),
                    F.md5(F.encode("text", "utf-8")).alias("prompt_md5"),
                    F.md5(F.encode("reply", "utf-8")).alias("reply_md5")))


@q("dedup_incremental_exact", r"""
WITH d AS (
  SELECT doc_id,
         list_distinct(regexp_split_to_array(trim(text), '\s+')) AS tk,
         doc_id % 10 = 0 AS incoming
  FROM documents WHERE text IS NOT NULL AND n_chars < 300
), pairs AS (
  SELECT n.doc_id AS new_id, b.doc_id AS base_id,
         CAST(len(list_intersect(n.tk, b.tk)) AS DOUBLE)
         / (len(n.tk) + len(b.tk) - len(list_intersect(n.tk, b.tk))) AS j
  FROM d n JOIN d b ON n.incoming AND NOT b.incoming
), best AS (
  SELECT new_id, base_id, j, row_number() OVER (
      PARTITION BY new_id ORDER BY j DESC, base_id) AS rn
  FROM pairs WHERE j >= 0.5
)
SELECT i.doc_id,
       b.base_id AS dup_of,
       ROUND(coalesce(b.j, 0.0), 6) AS best_jaccard,
       b.base_id IS NOT NULL AS is_dup
FROM (SELECT doc_id FROM d WHERE incoming) i
LEFT JOIN best b ON b.new_id = i.doc_id AND b.rn = 1
""")
def dedup_incremental_exact(spark, sf):
    """INCREMENTAL dedup decision — the daily-crawl shape: an incoming
    batch (doc_id % 10 = 0 here; in production, today's partition)
    checked against the HISTORICAL corpus, emitting one decision row
    per new doc (dup_of = best-matching base doc at Jaccard ≥ 0.5,
    deterministic tiebreak, or keep). This is the exact cross-split
    verifier, scoped to short docs like its self-join siblings; the
    subquadratic production path is dedup_incremental_scan (minhash
    bands of the incoming batch probed against the base's bucket
    index — the index is what makes daily dedup O(batch), not
    O(corpus))."""
    d = (t(spark, sf, "documents")
         .filter(F.col("text").isNotNull() & (F.col("n_chars") < 300))
         .select("doc_id",
                 F.array_distinct(words()).alias("tk"),
                 (F.col("doc_id") % 10 == 0).alias("incoming")))
    n = d.filter("incoming").select(F.col("doc_id").alias("new_id"),
                                    F.col("tk").alias("tkn"))
    b = d.filter(~F.col("incoming")).select(F.col("doc_id").alias("base_id"),
                                            F.col("tk").alias("tkb"))
    j = jaccard("tkn", "tkb")
    pairs = (n.crossJoin(b).withColumn("j", j).filter(F.col("j") >= 0.5)
             .select("new_id", "base_id", "j"))
    w = W.partitionBy("new_id").orderBy(F.col("j").desc(), "base_id")
    best = (pairs.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1))
    inc = d.filter("incoming").select("doc_id")
    out = inc.join(best, inc.doc_id == best.new_id, "left")
    return out.select(
        "doc_id",
        F.col("base_id").alias("dup_of"),
        F.round(F.coalesce("j", F.lit(0.0)), 6).alias("best_jaccard"),
        F.col("base_id").isNotNull().alias("is_dup"))


@q("dedup_incremental_scan")  # rows-only: xxhash64 minhash bands
def dedup_incremental_scan(spark, sf):
    """The PRODUCTION incremental path: minhash band buckets for the
    incoming batch PROBED AGAINST the base corpus's bucket index (in
    production the index is persisted and only the batch is hashed —
    daily work is O(batch), never O(corpus)), candidates verified with
    exact Jaccard, then the same one-decision-row-per-new-doc shape as
    dedup_incremental_exact. Recall vs the exact twin is asserted in
    tests; precision is 1.0 by construction (exact verify)."""
    d = (t(spark, sf, "documents")
         .filter(F.col("text").isNotNull() & (F.col("n_chars") < 300))
         .select("doc_id", words().alias("w"),
                 (F.col("doc_id") % 10 == 0).alias("incoming")))
    # minhash over TOKENS, not shingles: the decision metric downstream
    # is token-set Jaccard, and banding recall only tracks the metric
    # the sketch hashes — shingle minhash under-recalls reordered
    # near-dups whose token sets are nearly identical (order-destroying
    # edits leave few shared shingles)
    sh = d.select(
        "doc_id", "incoming",
        F.explode(F.array_distinct("w")).alias("shingle")
    ).filter(F.col("shingle") != "")
    bands = minhash_bands(sh, "doc_id", "incoming")
    probe = (bands.filter("incoming")
             .select(F.col("doc_id").alias("new_id"), "band", "bucket"))
    index = (bands.filter(~F.col("incoming"))
             .select(F.col("doc_id").alias("base_id"), "band", "bucket"))
    cands = (probe.join(index, ["band", "bucket"])
             .select("new_id", "base_id").distinct())
    toks = d.select("doc_id", F.array_distinct("w").alias("tk"))
    jn = (cands
          .join(toks.select(F.col("doc_id").alias("new_id"),
                            F.col("tk").alias("tkn")), "new_id")
          .join(toks.select(F.col("doc_id").alias("base_id"),
                            F.col("tk").alias("tkb")), "base_id"))
    pairs = jn.withColumn("j", jaccard("tkn", "tkb")).filter(F.col("j") >= 0.5)
    w_ = W.partitionBy("new_id").orderBy(F.col("j").desc(), "base_id")
    best = (pairs.withColumn("rn", F.row_number().over(w_))
            .filter(F.col("rn") == 1).select("new_id", "base_id", "j"))
    inc = d.filter("incoming").select("doc_id")
    out = inc.join(best, inc.doc_id == best.new_id, "left")
    return out.select(
        "doc_id",
        F.col("base_id").alias("dup_of"),
        F.round(F.coalesce("j", F.lit(0.0)), 6).alias("best_jaccard"),
        F.col("base_id").isNotNull().alias("is_dup"))


@q("sft_pairs_e2e", r"""
WITH tr AS (
  SELECT 'conv-' || lpad(CAST(doc_id % 50 AS VARCHAR), 8, '0') AS conv_id,
         CAST(doc_id // 50 AS INT) AS turn_idx,
         CASE WHEN CAST(doc_id // 50 AS INT) % 2 = 0
              THEN 'user' ELSE 'assistant' END AS role,
         text
  FROM documents WHERE text IS NOT NULL
), adj AS (
  SELECT conv_id, turn_idx, role, text,
         lead(text) OVER w AS reply, lead(role) OVER w AS reply_role
  FROM tr WINDOW w AS (PARTITION BY conv_id ORDER BY turn_idx)
), pairs AS (
  SELECT conv_id, turn_idx, text, reply
  FROM adj
  WHERE role = 'user' AND reply_role = 'assistant' AND reply IS NOT NULL
    AND len(text) >= 20 AND len(reply) >= 20
), dedup AS (
  SELECT conv_id, turn_idx, md5(text) AS prompt_md5,
         md5(reply) AS reply_md5,
         row_number() OVER (PARTITION BY md5(text), md5(reply)
                            ORDER BY conv_id, turn_idx) AS rn
  FROM pairs
)
SELECT conv_id, CAST(count(*) AS BIGINT) AS n_pairs,
       md5(string_agg(prompt_md5 || ':' || reply_md5, ','
                      ORDER BY turn_idx)) AS pairs_md5
FROM dedup WHERE rn = 1
GROUP BY conv_id
""")
def sft_pairs_e2e(spark, sf):
    """The SFT-PREP pipeline end-to-end as ONE declarative plan — the
    training-data counterpart of corpus_curation_e2e: stable turn
    order → (user, assistant) adjacency pairing → length gate → exact
    pair dedup (first occurrence by (conv, turn) wins, deterministic)
    → per-conversation manifest fingerprint. Three window exchanges
    total (adjacency, dedup rank, final stitch — the first two share
    nothing, the stitch rides the groupBy), no self-joins, every stage
    the bounded-state shape; Catalyst pipelines the gates into the
    scan side. Fingerprinting makes the whole pipeline's output
    externally checkable as one string per conversation."""
    d = t(spark, sf, "documents").filter(F.col("text").isNotNull())
    ti = (F.col("doc_id") / 50).cast("int")
    tr = d.select(
        conv_id(),
        ti.alias("turn_idx"),
        F.when(ti % 2 == 0, F.lit("user")).otherwise(F.lit("assistant"))
        .alias("role"),
        "text")
    w = W.partitionBy("conv_id").orderBy("turn_idx")
    adj = tr.select("conv_id", "turn_idx", "role", "text",
                    F.lead("text").over(w).alias("reply"),
                    F.lead("role").over(w).alias("reply_role"))
    pairs = adj.filter(
        (F.col("role") == "user") & (F.col("reply_role") == "assistant")
        & F.col("reply").isNotNull()
        & (F.length("text") >= 20) & (F.length("reply") >= 20))
    pm = F.md5(F.encode("text", "utf-8"))
    rm = F.md5(F.encode("reply", "utf-8"))
    wd = W.partitionBy(pm, rm).orderBy("conv_id", "turn_idx")
    dedup = (pairs.select("conv_id", "turn_idx",
                          pm.alias("prompt_md5"), rm.alias("reply_md5"),
                          F.row_number().over(wd).alias("rn"))
             .filter(F.col("rn") == 1))
    stitched = F.array_join(
        F.transform(
            F.array_sort(F.collect_list(F.struct(
                "turn_idx", "prompt_md5", "reply_md5"))),
            lambda s: F.concat(s["prompt_md5"], F.lit(":"),
                               s["reply_md5"])), ",")
    return (dedup.groupBy("conv_id")
            .agg(F.count("*").cast("bigint").alias("n_pairs"),
                 F.md5(F.encode(stitched, "utf-8")).alias("pairs_md5")))


@q("shuffle_skew_probe", """
WITH k AS (
  SELECT o_custkey, CAST(count(*) AS BIGINT) AS n
  FROM orders GROUP BY o_custkey
), s AS (
  SELECT CAST(count(*) AS BIGINT) AS n_keys,
         CAST(max(n) AS BIGINT) AS max_n,
         ROUND(avg(n), 4) AS mean_n,
         ROUND(CAST(max(n) AS DOUBLE) / avg(n), 4) AS skew_ratio
  FROM k
)
SELECT k.o_custkey AS hot_key, k.n AS key_rows,
       s.n_keys, s.max_n, s.mean_n, s.skew_ratio
FROM k, s
ORDER BY k.n DESC, k.o_custkey LIMIT 5
""")
def shuffle_skew_probe(spark, sf):
    """The diagnostic a partitioning decision starts from: per-key row
    counts of the intended shuffle key, the top-5 hot keys, and the
    max/mean skew ratio — run this BEFORE choosing between plain
    hash partitioning, salting (join_salted_skew), and AQE skew-join.
    One hash aggregate (map-side combinable) plus a 1-row stats
    broadcast; at 100 TB this is the cheap pre-flight scan that saves
    the 50s straggler the skew test demonstrates."""
    o = t(spark, sf, "orders")
    k = o.groupBy("o_custkey").agg(F.count("*").cast("bigint").alias("n"))
    s = k.agg(F.count("*").cast("bigint").alias("n_keys"),
              F.max("n").cast("bigint").alias("max_n"),
              F.round(F.avg("n"), 4).alias("mean_n"),
              F.round(F.max("n").cast("double") / F.avg("n"), 4)
              .alias("skew_ratio"))
    return (k.crossJoin(F.broadcast(s))
            .orderBy(F.col("n").desc(), "o_custkey").limit(5)
            .select(F.col("o_custkey").alias("hot_key"),
                    F.col("n").alias("key_rows"),
                    "n_keys", "max_n", "mean_n", "skew_ratio"))


@q("nation_share_within_region", """
WITH rev AS (
  SELECT r.r_name AS region, n.n_name AS nation,
         sum(o.o_totalprice) AS revenue
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  GROUP BY r.r_name, n.n_name
)
SELECT region, nation, ROUND(revenue, 2) AS revenue,
       ROUND(revenue / sum(revenue) OVER (PARTITION BY region), 6)
           AS share_in_region,
       ROUND(revenue / sum(revenue) OVER (), 6) AS share_global
FROM rev
""")
def nation_share_within_region(spark, sf):
    """Hierarchical SHARE-WITHIN-PARENT: each nation's revenue share
    inside its region AND globally — the two-level ratio-to-report
    every BI drill-down needs. The fact collapses to |nations| rows
    BEFORE any window (dimension chain broadcast onto the fact, one
    aggregate), so both window passes run over a dimension-sized
    frame; computing shares against the raw fact instead would window
    a 100 TB table for a 25-row answer."""
    o = t(spark, sf, "orders")
    c = t(spark, sf, "customer").select("c_custkey", "c_nationkey")
    n = t(spark, sf, "nation").select("n_nationkey", "n_regionkey",
                                      F.col("n_name").alias("nation"))
    r = t(spark, sf, "region").select("r_regionkey",
                                      F.col("r_name").alias("region"))
    rev = (o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
           .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
           .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
           .groupBy("region", "nation")
           .agg(F.sum("o_totalprice").alias("revenue")))
    wr = W.partitionBy("region")
    wg = W.partitionBy()
    return rev.select(
        "region", "nation", F.round("revenue", 2).alias("revenue"),
        F.round(F.col("revenue") / F.sum("revenue").over(wr), 6)
        .alias("share_in_region"),
        F.round(F.col("revenue") / F.sum("revenue").over(wg), 6)
        .alias("share_global"))


# =========================================================================
# Data layout (Z-order / space-filling-curve clustering)
# =========================================================================

_ZORDER_INTERLEAVE_SQL = " | ".join(
    f"(((xb >> {i}) & 1) << {2 * i}) | (((yb >> {i}) & 1) << {2 * i + 1})"
    for i in range(8))

@q("layout_zorder", f"""
WITH b AS (
  SELECT CAST(min(o_custkey) AS DOUBLE) AS ck_lo,
         CAST(max(o_custkey) AS DOUBLE) AS ck_hi,
         min(o_totalprice) AS tp_lo, max(o_totalprice) AS tp_hi
  FROM orders
), z AS (
  SELECT o_orderkey, o_custkey, o_totalprice, ck_lo, ck_hi, tp_lo, tp_hi,
         CAST(least(greatest(floor((CAST(o_custkey AS DOUBLE) - ck_lo)
               / greatest(ck_hi - ck_lo, 1e-12) * 255), 0), 255) AS BIGINT)
             AS xb,
         CAST(least(greatest(floor((o_totalprice - tp_lo)
               / greatest(tp_hi - tp_lo, 1e-12) * 255), 0), 255) AS BIGINT)
             AS yb
  FROM orders, b
), f AS (
  SELECT *, {_ZORDER_INTERLEAVE_SQL} AS zval FROM z
), g AS (
  SELECT *, ntile(64) OVER (ORDER BY zval, o_orderkey) AS file_id FROM f
)
SELECT file_id, CAST(count(*) AS BIGINT) AS n_rows,
       min(o_custkey) AS min_ck, max(o_custkey) AS max_ck,
       min(o_totalprice) AS min_tp, max(o_totalprice) AS max_tp,
       (min(o_custkey) <= min(ck_lo) + 0.55 * (min(ck_hi) - min(ck_lo))
        AND max(o_custkey) >= min(ck_lo) + 0.45 * (min(ck_hi) - min(ck_lo))
        AND min(o_totalprice) <= min(tp_lo) + 0.55 * (min(tp_hi) - min(tp_lo))
        AND max(o_totalprice) >= min(tp_lo) + 0.45 * (min(tp_hi) - min(tp_lo)))
           AS scans_box
FROM g GROUP BY file_id
""")
def layout_zorder(spark, sf):
    """Z-ORDER LAYOUT as a checkable plan: bucket (o_custkey,
    o_totalprice) to 8-bit grid cells from the table's own min/max,
    bit-interleave them into a Morton key (icelite.zorder_expr — pure
    JVM shiftleft/AND, no UDF), carve the curve into 64 equal "files",
    and emit each file's bounding box plus whether a central 10%x10%
    box query would have to scan it. The box flags ARE the data-
    skipping contract: on a Z-ordered layout only the files whose box
    intersects the predicate are read (tests/test_resume.py::
    test_zorder_compaction_prunes_2d_box proves the same expr through
    icelite compact(sort_by=_z) + manifest min/max pruning).

    Scale notes: the min/max bounds come from ONE 1-row aggregate
    (broadcast back — in production, free from manifest stats); the
    Morton key is embarrassingly parallel; the only wide operation is
    ordering by the curve, which at 100 TB is repartitionByRange on
    zval (sampled range boundaries, no global window) + per-file
    stats at write. ntile here is the bounded 64-group stand-in that
    keeps the result oracle-checkable."""
    from .icelite import zorder_expr

    o = t(spark, sf, "orders")
    b = o.agg(F.min("o_custkey").cast("double").alias("ck_lo"),
              F.max("o_custkey").cast("double").alias("ck_hi"),
              F.min("o_totalprice").alias("tp_lo"),
              F.max("o_totalprice").alias("tp_hi"))
    j = o.crossJoin(F.broadcast(b))
    xb = F.least(F.greatest(F.floor(
        (F.col("o_custkey").cast("double") - F.col("ck_lo"))
        / F.greatest(F.col("ck_hi") - F.col("ck_lo"), F.lit(1e-12))
        * F.lit(255.0)), F.lit(0)), F.lit(255)).cast("bigint")
    yb = F.least(F.greatest(F.floor(
        (F.col("o_totalprice") - F.col("tp_lo"))
        / F.greatest(F.col("tp_hi") - F.col("tp_lo"), F.lit(1e-12))
        * F.lit(255.0)), F.lit(0)), F.lit(255)).cast("bigint")
    zz = (j.withColumn("xb", xb).withColumn("yb", yb)
          .withColumn("zval", zorder_expr([F.col("xb"), F.col("yb")],
                                          bits=8)))
    g = zz.withColumn(
        "file_id", F.ntile(64).over(W.orderBy("zval", "o_orderkey")))
    return (g.groupBy("file_id")
            .agg(F.count("*").cast("bigint").alias("n_rows"),
                 F.min("o_custkey").alias("min_ck"),
                 F.max("o_custkey").alias("max_ck"),
                 F.min("o_totalprice").alias("min_tp"),
                 F.max("o_totalprice").alias("max_tp"),
                 ((F.min("o_custkey") <= F.min("ck_lo")
                   + 0.55 * (F.min("ck_hi") - F.min("ck_lo")))
                  & (F.max("o_custkey") >= F.min("ck_lo")
                     + 0.45 * (F.min("ck_hi") - F.min("ck_lo")))
                  & (F.min("o_totalprice") <= F.min("tp_lo")
                     + 0.55 * (F.min("tp_hi") - F.min("tp_lo")))
                  & (F.max("o_totalprice") >= F.min("tp_lo")
                     + 0.45 * (F.min("tp_hi") - F.min("tp_lo"))))
                 .alias("scans_box")))


def _merged_orders(spark, sf, name):
    """An icelite table of ``orders`` in scratch dir `name` after two
    commits: the base append, then the MERGE of icelite_merge_upsert
    (every 7th key re-priced and re-statused 'U', the negated 113th keys
    inserted as 'N'). Returns the table and the base snapshot id."""
    from .icelite import IceliteTable, write_dataframe_files

    o = t(spark, sf, "orders")
    tbl = IceliteTable(_scratch(name))
    tbl.commit_append(write_dataframe_files(o, tbl.new_commit_dir("base")))
    base = tbl.current_snapshot_id()
    upd = (o.filter(F.col("o_orderkey") % 7 == 0)
           .withColumn("o_orderstatus", F.lit("U"))
           .withColumn("o_totalprice", F.col("o_totalprice") + 1000.0))
    ins = (o.filter((F.col("o_orderkey") % 113 == 0)
                    & (F.col("o_orderkey") > 0))
           .withColumn("o_orderkey", -F.col("o_orderkey"))
           .withColumn("o_orderstatus", F.lit("N")))
    tbl.merge_upsert(spark, upd.unionByName(ins),
                     key_cols=("o_orderkey",), order_col="o_orderdate")
    return tbl, base


@q("icelite_merge_upsert", """
WITH upd AS (
  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
         o_totalprice + 1000.0 AS o_totalprice, o_orderdate,
         o_orderpriority
  FROM orders WHERE o_orderkey % 7 = 0
), ins AS (
  SELECT -o_orderkey AS o_orderkey, o_custkey, 'N' AS o_orderstatus,
         o_totalprice, o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 113 = 0 AND o_orderkey > 0
), merged AS (
  SELECT * FROM orders WHERE o_orderkey % 7 <> 0
  UNION ALL SELECT * FROM upd
  UNION ALL SELECT * FROM ins
)
SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_rows,
       ROUND(sum(o_totalprice), 2) AS sum_tp,
       CAST(count(*) FILTER (o_orderkey < 0) AS BIGINT) AS n_inserted
FROM merged GROUP BY o_orderstatus
""")
def icelite_merge_upsert(spark, sf):
    """Batch MERGE INTO (upsert) through the icelite table format,
    ORACLED: seed an icelite table with orders, merge an updates set
    (every 7th key re-priced and re-statused = WHEN MATCHED UPDATE;
    negated 113th keys = WHEN NOT MATCHED INSERT), read the post-merge
    snapshot back and aggregate — string-exact against DuckDB
    *simulating* the merge relationally. Proves latest-wins tie
    semantics (updates carry the same o_orderdate; the update side
    must win) end-to-end through commit_replace + snapshot read.

    Scale notes: icelite merge is copy-on-write — one shuffle on the
    merge key for the latest-wins window, then a rewrite; at 100 TB
    the rewrite narrows to the partitions the updates touch (see
    merge_upsert docstring). Pre-merge snapshots still time-travel."""
    tbl, _ = _merged_orders(spark, sf, "icelite_merge")
    return (tbl.read(spark)
            .groupBy("o_orderstatus")
            .agg(F.count("*").cast("bigint").alias("n_rows"),
                 F.round(F.sum("o_totalprice"), 2).alias("sum_tp"),
                 F.count_if(F.col("o_orderkey") < 0).cast("bigint")
                 .alias("n_inserted")))


@q("icelite_snapshot_diff", """
WITH upd AS (
  SELECT o_orderkey, o_custkey, 'U' AS o_orderstatus,
         o_totalprice + 1000.0 AS o_totalprice, o_orderdate,
         o_orderpriority
  FROM orders WHERE o_orderkey % 7 = 0
), ins AS (
  SELECT -o_orderkey AS o_orderkey, o_custkey, 'N' AS o_orderstatus,
         o_totalprice, o_orderdate, o_orderpriority
  FROM orders WHERE o_orderkey % 113 = 0 AND o_orderkey > 0
), v2 AS (
  SELECT * FROM orders WHERE o_orderkey % 7 <> 0
  UNION ALL SELECT * FROM upd
  UNION ALL SELECT * FROM ins
), added AS (
  SELECT * FROM v2 EXCEPT ALL SELECT * FROM orders
), removed AS (
  SELECT * FROM orders EXCEPT ALL SELECT * FROM v2
)
SELECT side, CAST(count(*) AS BIGINT) AS n_rows,
       CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_keys,
       ROUND(sum(o_totalprice), 2) AS sum_tp
FROM (
  SELECT 'added' AS side, * FROM added
  UNION ALL SELECT 'removed' AS side, * FROM removed
) GROUP BY side
""")
def icelite_snapshot_diff(spark, sf):
    """Row-level DIFF between two table snapshots — the audit query
    every CDC/compliance pipeline runs after a merge ("what exactly
    changed between snapshot s1 and s2?"). Seeds an icelite table,
    applies the same deterministic MERGE as icelite_merge_upsert
    (every 7th key re-priced + re-statused, negated 113th keys
    inserted), then TIME-TRAVELS to both snapshots in one job and
    diffs them with exceptAll in both directions: the updated rows'
    old versions surface as 'removed', their new versions plus the
    inserts as 'added', untouched rows cancel. Oracled against DuckDB
    simulating the merge relationally and diffing with EXCEPT ALL —
    string-exact, so snapshot isolation + time travel + the merge
    rewrite are all externally checkable through one key.

    Scale notes: exceptAll is a hash aggregation on the full row (one
    shuffle per side, same key) — at 100 TB you first prune both scans
    to the partitions whose manifests differ (icelite records per-file
    stats; identical data files shared by both snapshots can be
    skipped entirely WITHOUT scanning, the Iceberg changelog trick),
    so the diff only shuffles rewritten partitions. The merge itself
    is copy-on-write, so file identity IS the pruning signal."""
    tbl, s1 = _merged_orders(spark, sf, "icelite_diff")
    s2 = tbl.current_snapshot_id()
    v1 = tbl.read(spark, snapshot_id=s1)
    v2 = tbl.read(spark, snapshot_id=s2)
    diff = (v2.exceptAll(v1).withColumn("side", F.lit("added"))
            .unionByName(v1.exceptAll(v2).withColumn("side",
                                                     F.lit("removed"))))
    return (diff.groupBy("side")
            .agg(F.count("*").cast("bigint").alias("n_rows"),
                 F.countDistinct("o_orderkey").cast("bigint")
                 .alias("n_keys"),
                 F.round(F.sum("o_totalprice"), 2).alias("sum_tp")))


@q("join_cbo_reordered", """
SELECT c.c_mktsegment, CAST(count(*) AS BIGINT) AS n,
       ROUND(sum(l.l_quantity), 2) AS sum_qty
FROM lineitem l
JOIN customer c ON 1 = 1
JOIN orders o ON l.l_orderkey = o.o_orderkey
            AND c.c_custkey = o.o_custkey
WHERE c.c_custkey < 100
GROUP BY c.c_mktsegment
""")
def join_cbo_reordered(spark, sf):
    """COST-BASED join reordering, driven by real catalog statistics:
    the query is WRITTEN in the worst order (fact x dim first, the
    connecting table last), tables get ANALYZE ... FOR ALL COLUMNS
    row/column stats, and with spark.sql.cbo.joinReorder Catalyst
    rewrites the tree so the selective customer<100 x orders join runs
    first and the fact joins the (tiny) intermediate — the optimizer
    decision that separates a 100 TB plan that finishes from one that
    doesn't. The reorder itself is plan-asserted in
    tests/test_plan_shape.py::test_cbo_reorders_join_tree; this key
    oracles the VALUES so correctness under reordering is externally
    checked too.

    Scale notes: ANALYZE is one pass per table amortized over every
    query on it; CBO feeds ndv/min/max into join cardinality
    estimates, which also unlocks broadcast decisions AQE can only
    make after a stage already ran."""
    spark.conf.set("spark.sql.cbo.enabled", "true")
    spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
    for name in ("lineitem", "orders", "customer"):
        spark.sql(f"DROP TABLE IF EXISTS cbo_{name}")
        (t(spark, sf, name).write.mode("overwrite")
         .option("path", _scratch(f"cbo_{name}"))
         .saveAsTable(f"cbo_{name}"))
        spark.sql(f"ANALYZE TABLE cbo_{name} COMPUTE STATISTICS "
                  "FOR ALL COLUMNS")
    return spark.sql("""
        SELECT c.c_mktsegment, CAST(count(*) AS BIGINT) AS n,
               ROUND(sum(l.l_quantity), 2) AS sum_qty
        FROM cbo_lineitem l
        JOIN cbo_customer c ON 1 = 1
        JOIN cbo_orders o ON l.l_orderkey = o.o_orderkey
                        AND c.c_custkey = o.o_custkey
        WHERE c.c_custkey < 100
        GROUP BY c.c_mktsegment""")


@q("corpus_temperature_mix", """
WITH s AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs
  FROM documents WHERE text IS NOT NULL GROUP BY source
), tot AS (
  SELECT CAST(sum(n_docs) AS DOUBLE) AS total,
         sum(sqrt(CAST(n_docs AS DOUBLE))) AS z
  FROM s
)
SELECT source, n_docs,
       ROUND(n_docs / total, 6) AS share,
       ROUND(sqrt(CAST(n_docs AS DOUBLE)) / z, 6) AS weight,
       ROUND((sqrt(CAST(n_docs AS DOUBLE)) / z) / (n_docs / total), 4)
           AS boost
FROM s, tot
""")
def corpus_temperature_mix(spark, sf):
    """TEMPERATURE SAMPLING plan (T=2, i.e. alpha=0.5): per-source
    target weights proportional to share^0.5 — the standard
    multilingual/multi-source rebalancing (mT5/XLM-R style) that
    up-weights tail sources without letting them dominate. alpha=0.5
    is computed as sqrt(), which IEEE-754 rounds correctly on every
    engine (pow(x,0.5) is not so guaranteed) — the reason this is
    oracle-exact. `boost` is the over/under-sampling factor each
    source gets vs its natural share; sample_weighted_topk /
    sample_deterministic execute a plan like this downstream.

    Scale notes: one map-side-combinable count per source + a 1-row
    broadcast of the two totals; the 100 TB corpus collapses to
    |sources| rows before any arithmetic."""
    d = t(spark, sf, "documents").filter(F.col("text").isNotNull())
    s = d.groupBy("source").agg(F.count("*").cast("bigint").alias("n_docs"))
    tot = s.agg(F.sum("n_docs").cast("double").alias("total"),
                F.sum(F.sqrt(F.col("n_docs").cast("double"))).alias("z"))
    share = F.col("n_docs") / F.col("total")
    weight = F.sqrt(F.col("n_docs").cast("double")) / F.col("z")
    return (s.crossJoin(F.broadcast(tot))
            .select("source", "n_docs",
                    F.round(share, 6).alias("share"),
                    F.round(weight, 6).alias("weight"),
                    F.round(weight / share, 4).alias("boost")))


@q("corpus_epoch_shuffle", """
SELECT CAST(row_number() OVER (
           ORDER BY md5('epoch-7|' || CAST(doc_id AS VARCHAR)), doc_id)
       AS BIGINT) AS rank,
       doc_id
FROM documents
ORDER BY rank LIMIT 100
""")
def corpus_epoch_shuffle(spark, sf):
    """DETERMINISTIC EPOCH SHUFFLE: global training order for epoch k
    = sort by md5(seed || doc_id) — reproducible across reruns and
    resumable mid-epoch (the order IS the rank, no RNG state to
    checkpoint), different every epoch by changing the seed string.
    First 100 positions returned, oracle-exact since md5 agrees
    everywhere.

    Scale notes: this is how you shuffle 100 TB — a distributed sort
    on a uniform hash key (range-partitioned by sampled boundaries),
    not a driver-side permutation; here the top-100 collapses to
    TakeOrderedAndProject, so nothing global materializes."""
    d = t(spark, sf, "documents")
    h = F.md5(F.concat(F.lit("epoch-7|"), F.col("doc_id").cast("string")))
    return (d.select("doc_id", h.alias("_h"))
            .withColumn("rank", F.row_number().over(
                W.orderBy("_h", "doc_id")).cast("bigint"))
            .orderBy("rank").limit(100)
            .select("rank", "doc_id"))


@q("source_xml_roundtrip", """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(o_orderkey) AS BIGINT) AS sum_key,
       ROUND(sum(o_totalprice), 2) AS sum_tp,
       CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS n_status,
       CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS n_prio
FROM orders
""")
def source_xml_roundtrip(spark, sf):
    """XML ROUND-TRIP through Spark 4's native XML expressions:
    serialize every order row with to_xml(struct(...)), parse it back
    with from_xml, and aggregate the PARSED values — string-exact
    against DuckDB aggregating the ORIGINAL table, so any loss in the
    serialize→parse cycle (escaping, double formatting, schema
    mismatch) breaks the oracle. Doubles survive because Spark writes
    Java shortest-roundtrip repr and parses with parseDouble.

    Scale notes: both expressions are JVM-side row-local (no UDF, no
    shuffle before the final 1-row aggregate); this is the ingestion
    path for XML feeds at scale — schema-on-read with columnar
    downstream."""
    o = t(spark, sf, "orders")
    xml = o.select(F.to_xml(F.struct(
        "o_orderkey", "o_orderstatus", "o_totalprice",
        "o_orderpriority")).alias("x"))
    schema = ("o_orderkey BIGINT, o_orderstatus STRING, "
              "o_totalprice DOUBLE, o_orderpriority STRING")
    p = xml.select(F.from_xml("x", schema).alias("p")).select("p.*")
    return p.agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum("o_orderkey").cast("bigint").alias("sum_key"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_tp"),
        F.countDistinct("o_orderstatus").cast("bigint").alias("n_status"),
        F.countDistinct("o_orderpriority").cast("bigint").alias("n_prio"))


@q("join_lateral_topk", """
SELECT r.r_name AS region, l.nation, l.revenue
FROM region r, LATERAL (
  SELECT n.n_name AS nation, ROUND(sum(o.o_totalprice), 2) AS revenue
  FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
  JOIN orders o ON o.o_custkey = c.c_custkey
  WHERE n.n_regionkey = r.r_regionkey
  GROUP BY n.n_name
  ORDER BY sum(o.o_totalprice) DESC, n.n_name LIMIT 2
) l
""")
def join_lateral_topk(spark, sf):
    """SQL LATERAL correlated derived table — top-2 nations by revenue
    PER region, written as the lateral form every analyst reaches for
    (and DuckDB/Postgres run natively). Catalyst decorrelates the
    ORDER BY ... LIMIT subquery into a DomainJoin + per-domain window,
    i.e. the same physical shape as topk_per_group — proving the
    surface syntax and the hand-written window formulation meet in the
    same plan family. Deterministic via the (revenue DESC, name)
    tiebreak."""
    for name in ("region", "nation", "customer", "orders"):
        t(spark, sf, name).createOrReplaceTempView(f"lat_{name}")
    return spark.sql("""
      SELECT r.r_name AS region, l.nation, l.revenue
      FROM lat_region r, LATERAL (
        SELECT n.n_name AS nation,
               ROUND(sum(o.o_totalprice), 2) AS revenue
        FROM lat_nation n
        JOIN lat_customer c ON c.c_nationkey = n.n_nationkey
        JOIN lat_orders o ON o.o_custkey = c.c_custkey
        WHERE n.n_regionkey = r.r_regionkey
        GROUP BY n.n_name
        ORDER BY sum(o.o_totalprice) DESC, n.n_name LIMIT 2
      ) l""")


@q("scan_metadata_columns", """
SELECT 'orders.parquet' AS file_name, CAST(count(*) AS BIGINT) AS n_rows,
       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
FROM orders
""")
def scan_metadata_columns(spark, sf):
    """HIDDEN METADATA COLUMNS (_metadata.file_name): per-input-file
    row counts and key ranges — the lineage/debugging idiom that at
    100 TB answers "which file produced these rows" without a custom
    input_file_name() UDF column. The driver testdata ships each
    table as exactly one parquet file, so the oracle pins the
    literal file name; the VALUE verified is that Spark's hidden
    column actually routes every row to its source file (count and
    key range must match the table totals)."""
    o = t(spark, sf, "orders")
    return (o.select(F.col("_metadata.file_name").alias("file_name"),
                     "o_orderkey")
            .groupBy("file_name")
            .agg(F.count("*").cast("bigint").alias("n_rows"),
                 F.min("o_orderkey").alias("min_key"),
                 F.max("o_orderkey").alias("max_key")))


@q("udtf_analyze_polymorphic", """
SELECT split_part(s, ',', 1) AS status, split_part(s, ',', 2) AS prio,
       CAST(count(*) AS BIGINT) AS n
FROM (SELECT o_orderstatus || ',' || o_orderpriority AS s FROM orders)
GROUP BY 1, 2
""")
def udtf_analyze_polymorphic(spark, sf):
    """POLYMORPHIC UDTF (PySpark 4 analyze()): the output schema is
    computed AT PLAN TIME from a constant argument — here a
    csv-splitter whose column count comes from the literal width
    argument, the table-function analog of a generic library
    operator. The UDTF output is verified value-exact against plain
    string functions in DuckDB, so the analyze()-driven schema AND
    the eval() row expansion are both externally checked.

    Scale notes: UDTFs run row-local in the Python worker (Arrow
    batches); the aggregate after is the only shuffle. Production use
    is schema-carrying parsers (logs, kv-blobs) where the width is a
    config constant."""
    from pyspark.sql.functions import AnalyzeArgument, AnalyzeResult, udtf

    class SplitCsv:
        @staticmethod
        def analyze(row: AnalyzeArgument, n: AnalyzeArgument):
            schema = T.StructType()
            for i in range(n.value):
                schema = schema.add(f"c{i}", T.StringType())
            return AnalyzeResult(schema=schema)

        def eval(self, row, n):
            parts = (row or "").split(",")
            yield tuple(parts[i] if i < len(parts) else None
                        for i in range(n))

    spark.udtf.register("split_csv", udtf(SplitCsv))
    o = t(spark, sf, "orders")
    (o.select(F.concat_ws(",", "o_orderstatus", "o_orderpriority")
              .alias("s")).createOrReplaceTempView("udtf_csv_rows"))
    return spark.sql("""
        SELECT t.c0 AS status, t.c1 AS prio,
               CAST(count(*) AS BIGINT) AS n
        FROM udtf_csv_rows, LATERAL split_csv(s, 2) t
        GROUP BY t.c0, t.c1""")


@q("sink_dynamic_partition_overwrite", """
WITH repl AS (
  SELECT o_orderkey, o_totalprice + 1000.0 AS o_totalprice,
         o_orderstatus
  FROM orders WHERE o_orderstatus = 'O' AND o_orderkey % 3 = 0
), final AS (
  SELECT o_orderkey, o_totalprice, o_orderstatus
  FROM orders WHERE o_orderstatus <> 'O'
  UNION ALL SELECT * FROM repl
)
SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_rows,
       ROUND(sum(o_totalprice), 2) AS sum_tp
FROM final GROUP BY o_orderstatus
""")
def sink_dynamic_partition_overwrite(spark, sf):
    """DYNAMIC PARTITION OVERWRITE (partitionOverwriteMode=dynamic):
    seed a status-partitioned table, then overwrite with a frame that
    only CONTAINS partition 'O' — dynamic mode replaces exactly the
    partitions present in the written data and leaves every other
    partition untouched (static mode would wipe them). The read-back
    aggregate is string-exact vs DuckDB simulating replace-one-
    partition relationally; the untouched partitions' sums prove
    nothing else was rewritten.

    Scale notes: this is the idempotent daily-backfill primitive — a
    re-run of day D rewrites only day=D's files; at 100 TB the
    alternative (MERGE or full overwrite) costs orders of magnitude
    more I/O."""
    out = _scratch("dyn_overwrite")
    o = t(spark, sf, "orders").select(
        "o_orderkey", "o_totalprice", "o_orderstatus")
    (o.write.mode("overwrite").partitionBy("o_orderstatus").parquet(out))
    repl = (o.filter((F.col("o_orderstatus") == "O")
                     & (F.col("o_orderkey") % 3 == 0))
            .withColumn("o_totalprice", F.col("o_totalprice") + 1000.0))
    (repl.write.mode("overwrite")
     .option("partitionOverwriteMode", "dynamic")
     .partitionBy("o_orderstatus").parquet(out))
    back = spark.read.parquet(out)
    return (back.groupBy("o_orderstatus")
            .agg(F.count("*").cast("bigint").alias("n_rows"),
                 F.round(F.sum("o_totalprice"), 2).alias("sum_tp")))


@q("tpch_q1_shape", """
SELECT l_returnflag, l_linestatus,
       ROUND(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE), 2)
           AS sum_qty,
       ROUND(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE), 2)
           AS sum_base_price,
       ROUND(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                      * CAST(1 - l_discount AS DECIMAL(4,2))) AS DOUBLE), 2)
           AS sum_disc_price,
       ROUND(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                      * CAST(1 - l_discount AS DECIMAL(4,2))
                      * CAST(1 + l_tax AS DECIMAL(4,2))) AS DOUBLE), 2)
           AS sum_charge,
       ROUND(CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)
             / count(*), 4) AS avg_qty,
       ROUND(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE)
             / count(*), 4) AS avg_price,
       ROUND(CAST(sum(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE)
             / count(*), 6) AS avg_disc,
       CAST(count(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""")
def tpch_q1_shape(spark, sf):
    """TPC-H Q1, the canonical pricing-summary scan-aggregate: one
    pass over the fact, filter pushed to the scan, 4-group hash
    aggregate with map-side partials — the query every columnar
    engine's whole-stage codegen is tuned for. All money arithmetic
    runs in DECIMAL (inputs are cents-scale, so the products are
    EXACT and fold-order-independent — the only way a multi-term sum
    can take a string-exact cross-engine gate), emitted as rounded
    DOUBLE; averages divide the exact decimal sum by the group count.

    Scale notes: at 100 TB this plan is scan-bound: no join, no
    wide row, partial aggregation collapses each task to ≤|groups|
    rows before the single 4-row exchange."""
    li = (t(spark, sf, "lineitem")
          .filter(F.col("l_shipdate") <= "1998-09-02"))
    qty = F.col("l_quantity").cast("decimal(12,2)")
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = (F.lit(1) - F.col("l_discount")).cast("decimal(4,2)")
    tax = (F.lit(1) + F.col("l_tax")).cast("decimal(4,2)")
    return (li.groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum(qty).cast("double"), 2).alias("sum_qty"),
                 F.round(F.sum(price).cast("double"), 2)
                 .alias("sum_base_price"),
                 F.round(F.sum(price * disc).cast("double"), 2)
                 .alias("sum_disc_price"),
                 F.round(F.sum(price * disc * tax).cast("double"), 2)
                 .alias("sum_charge"),
                 F.round(F.sum(qty).cast("double") / F.count("*"), 4)
                 .alias("avg_qty"),
                 F.round(F.sum(price).cast("double") / F.count("*"), 4)
                 .alias("avg_price"),
                 F.round(F.sum(F.col("l_discount").cast("decimal(4,2)"))
                         .cast("double") / F.count("*"), 6)
                 .alias("avg_disc"),
                 F.count("*").cast("bigint").alias("count_order")))


@q("sft_loss_mask_spans", r"""
WITH tr AS (
  SELECT 'conv-' || lpad(CAST(doc_id % 50 AS VARCHAR), 8, '0') AS conv_id,
         CAST(doc_id // 50 AS INT) AS turn_idx,
         CASE WHEN CAST(doc_id // 50 AS INT) % 2 = 0
              THEN 'user' ELSE 'assistant' END AS role,
         len(regexp_split_to_array(trim(text), '\s+')) AS tok_n
  FROM documents WHERE text IS NOT NULL
), pos AS (
  SELECT conv_id, turn_idx, role, tok_n,
         CAST(sum(tok_n) OVER (PARTITION BY conv_id ORDER BY turn_idx)
              AS BIGINT) AS tok_end
  FROM tr
)
SELECT conv_id, turn_idx, tok_end - tok_n AS tok_start, tok_end
FROM pos WHERE role = 'assistant'
""")
def sft_loss_mask_spans(spark, sf):
    """LOSS-MASK SPANS for SFT packing: concatenate each
    conversation's turns in stable order and emit the [tok_start,
    tok_end) token ranges of the ASSISTANT turns — exactly the spans
    a trainer unmasks (user/tool tokens contribute context, not
    loss). One window exchange on conv_id computes every offset as a
    running token count; downstream this composes with
    pack_sequences_nextfit (the pack's base offset adds to each
    span).

    Scale notes: token counts are row-local; the only wide operation
    is the per-conversation cumulative sum, partitioned on the same
    key the reassembly already shuffles on — offsets are free if run
    fused with A8."""
    d = t(spark, sf, "documents").filter(F.col("text").isNotNull())
    ti = (F.col("doc_id") / 50).cast("int")
    tr = d.select(
        conv_id(),
        ti.alias("turn_idx"),
        F.when(ti % 2 == 0, F.lit("user")).otherwise(F.lit("assistant"))
        .alias("role"),
        F.size(words()).alias("tok_n"))
    w = W.partitionBy("conv_id").orderBy("turn_idx")
    pos = tr.withColumn("tok_end",
                        F.sum("tok_n").over(w).cast("bigint"))
    return (pos.filter(F.col("role") == "assistant")
            .select("conv_id", "turn_idx",
                    (F.col("tok_end") - F.col("tok_n")).alias("tok_start"),
                    "tok_end"))


@q("source_python_datasource_stream")  # rows-only: streaming source
def source_python_datasource_stream(spark, sf):
    """STREAMING Python DataSource (PySpark 4 simpleStreamReader):
    the synthetic corpus arrives in 500-turn waves through the
    pluggable streaming seam — offsets are plain positions, recovery
    replay regenerates committed waves (readBetweenOffsets), and the
    drained stream equals the batch read byte-for-byte
    (tests/test_dataops.py::test_python_stream_source_equals_batch).
    Spark's Python micro-batch wrapper does not support
    Trigger.AvailableNow (it logs a single-batch fallback), so the
    drain loop polls the bounded stream to completion — the pattern a
    production job uses with a finite backfill.

    Scale notes: planning is offset arithmetic on the driver; each
    wave's generation is executor-side; the memory sink here stands
    in for foreachBatch→icelite (stream_upsert_sink)."""
    import time as _time

    from .sources import register
    from .streaming import _checkpoint_dir

    register(spark)
    name = "pyds_stream_out"
    with _checkpoint_dir() as ckpt:
        q_ = (spark.readStream.format("ocrflow_synth")
              .option("turns", 2000).option("seed", 42)
              .option("batch_turns", 500).load()
              .writeStream.format("memory").queryName(name)
              .option("checkpointLocation", ckpt)
              .trigger(processingTime="0 seconds").start())
        deadline = _time.time() + 120
        while _time.time() < deadline:
            n = spark.sql(f"SELECT count(*) c FROM {name}").first()["c"]
            if n >= 2000:
                break
            _time.sleep(0.5)
        q_.stop()
    return (spark.table(name)
            .groupBy("role")
            .agg(F.count("*").cast("bigint").alias("n_turns"),
                 F.min("conv_id").alias("first_conv")))


@q("map_higher_order", """
SELECT event_id,
       value + 1.0 AS a_plus,
       CAST((CASE WHEN value > 50 THEN 1 ELSE 0 END)
            + (CASE WHEN value * 2 > 50 THEN 1 ELSE 0 END)
            + (CASE WHEN k > 50 THEN 1 ELSE 0 END) AS INT) AS n_over_50,
       value + value * 2 + k AS sum_vals,
       value * 2 * 20.0 AS b_scaled
FROM (SELECT event_id, value,
             CAST(json_extract(props, '$.k') AS DOUBLE) AS k
      FROM events WHERE props IS NOT NULL)
""")
def map_higher_order(spark, sf):
    """MAP higher-order functions — transform_values, map_filter,
    map_zip_with, and an aggregate fold over map_values — verified by
    emitting SCALARS whose expected values DuckDB computes directly
    from the source columns (map renderings are engine-specific; the
    semantics are not). The map is constructed in-query from event
    columns, so each HOF's output is a closed-form expression: every
    Spark lambda must land exactly on DuckDB's arithmetic.

    Scale notes: all row-local JVM expressions inside whole-stage
    codegen; no UDF, no shuffle — HOFs are how you avoid exploding
    maps into rows at 100 TB."""
    e = t(spark, sf, "events").filter(F.col("props").isNotNull())
    k = F.get_json_object("props", "$.k").cast("double")
    m = F.create_map(
        F.lit("a"), F.col("value"),
        F.lit("b"), F.col("value") * 2,
        F.lit("c"), k)
    m2 = F.create_map(F.lit("a"), F.lit(10.0),
                      F.lit("b"), F.lit(20.0),
                      F.lit("c"), F.lit(30.0))
    plus1 = F.transform_values(m, lambda _, v: v + 1.0)
    over = F.map_filter(m, lambda _, v: v > 50)
    zipped = F.map_zip_with(m, m2, lambda _, v1, v2: v1 * v2)
    folded = F.aggregate(F.map_values(m), F.lit(0.0),
                         lambda acc, x: acc + x)
    return e.select(
        "event_id",
        F.element_at(plus1, "a").alias("a_plus"),
        F.size(over).cast("int").alias("n_over_50"),
        folded.alias("sum_vals"),
        F.element_at(zipped, "b").alias("b_scaled"))


@q("agg_listagg", """
SELECT o_orderstatus,
       string_agg(o_orderpriority, '|' ORDER BY o_orderpriority,
                  o_orderkey) AS prio_chain,
       CAST(count(*) AS BIGINT) AS n
FROM (SELECT * FROM orders WHERE o_orderkey % 97 = 0)
GROUP BY o_orderstatus
""")
def agg_listagg(spark, sf):
    """SQL:2023 LISTAGG (WITHIN GROUP ordered string aggregation) —
    the ordered-concatenation surface analysts use for audit chains;
    deterministic via the full (priority, orderkey) order key, so the
    concatenated string is exactly DuckDB's ordered string_agg. The
    %97 slice keeps the chains bounded (a LISTAGG over an unbounded
    group is an anti-pattern at 100 TB — the collapsed string grows
    with the group)."""
    o = t(spark, sf, "orders").filter(F.col("o_orderkey") % 97 == 0)
    return (o.groupBy("o_orderstatus")
            .agg(F.expr("listagg(o_orderpriority, '|') WITHIN GROUP "
                        "(ORDER BY o_orderpriority, o_orderkey)")
                 .alias("prio_chain"),
                 F.count("*").cast("bigint").alias("n")))


@q("scalar_try_functions", """
SELECT o_orderkey,
       o_totalprice / NULLIF(CAST(o_orderkey % 7 AS DOUBLE), 0)
           AS safe_div,
       TRY_CAST(o_orderpriority AS INTEGER) AS bad_cast,
       TRY_CAST(substr(o_orderpriority, 1, 1) AS INTEGER) AS prio_num
FROM orders WHERE o_orderkey % 13 = 0
""")
def scalar_try_functions(spark, sf):
    """ERROR-SAFE scalar functions (try_divide / try_cast): division
    by zero and unparseable casts yield NULL instead of failing the
    job — the semantics ANSI mode makes mandatory to think about,
    and the difference between a 100 TB job that finishes with
    auditable NULLs and one that dies at hour nine on a single bad
    row. Oracled against DuckDB's NULLIF-guarded division and
    TRY_CAST (identical NULL surface, engine-diverse mechanism)."""
    o = t(spark, sf, "orders").filter(F.col("o_orderkey") % 13 == 0)
    return o.select(
        "o_orderkey",
        F.try_divide("o_totalprice",
                     (F.col("o_orderkey") % 7).cast("double"))
        .alias("safe_div"),
        F.col("o_orderpriority").try_cast("int").alias("bad_cast"),
        F.substring("o_orderpriority", 1, 1).try_cast("int")
        .alias("prio_num"))


@q("agg_session_window", """
WITH flagged AS (
  SELECT user_id, ts,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   > INTERVAL 30 MINUTE
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
), sessions AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS sid
  FROM flagged
)
SELECT user_id, min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       CAST(count(*) AS BIGINT) AS n_events
FROM sessions GROUP BY user_id, sid
""")
def agg_session_window(spark, sf):
    """NATIVE batch session windows (F.session_window, the engine
    primitive) verified against the classic gaps-and-islands SQL —
    an ALGORITHM-diverse oracle: Spark's built-in merging-session
    aggregation must produce exactly the lag-flag + running-sum
    islands construction (session end = last event + gap, per the
    session_window contract).

    Scale notes: session_window aggregates in one exchange on
    (user_id) with Spark merging overlapping sessions internally —
    no window-function pass over the raw events, which is what makes
    it the 100 TB form; the islands formulation (sessionize_batch)
    stays as the portable twin."""
    e = t(spark, sf, "events")
    sw = F.session_window("ts", "30 minutes")
    return (e.groupBy("user_id", sw)
            .agg(F.count("*").cast("bigint").alias("n_events"))
            .select("user_id",
                    F.col("session_window.start").alias("session_start"),
                    F.col("session_window.end").alias("session_end"),
                    "n_events"))


from . import bpe  # noqa: E402,F401 — registers the BPE tokenizer keys


# =========================================================================
# Round-4 continuation: splits, quantization, data-quality audit,
# incremental table reads, readability
# =========================================================================

@q("split_train_test", """
WITH s AS (
  SELECT doc_id, n_chars,
         CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '0ccd'
              THEN 'test'
              WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < '1999'
              THEN 'val'
              ELSE 'train' END AS split
  FROM documents WHERE text IS NOT NULL
)
SELECT split, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(doc_id) AS BIGINT) AS id_sum,
       CAST(sum(n_chars) AS BIGINT) AS chars_sum
FROM s GROUP BY split
""")
def split_train_test(spark, sf):
    """Deterministic train/val/test split — the reproducibility
    contract every training pipeline needs: membership is a pure
    function of the stable key (md5 hex prefix thresholds at ~5% /
    ~5% / 90%), so the split is identical across engines, reruns,
    repartitions, and incremental arrivals (a new doc lands in its
    split without reshuffling old ones — no rand(), no global sort,
    no sampleBy seed coupling to partitioning). Emits per-split
    counts and checksums; the split column itself is what a real
    pipeline writes as a partition key. One scan, one 3-group
    aggregate; at 100 TB membership evaluates inside the scan."""
    d = t(spark, sf, "documents").filter(F.col("text").isNotNull())
    h = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    split = (F.when(h < "0ccd", "test")
             .when(h < "1999", "val").otherwise("train"))
    return (d.select(split.alias("split"), "doc_id", "n_chars")
            .groupBy("split")
            .agg(F.count("*").cast("bigint").alias("n_docs"),
                 F.sum("doc_id").cast("bigint").alias("id_sum"),
                 F.sum("n_chars").cast("bigint").alias("chars_sum")))


@q("emb_quantize_int8", """
WITH s AS (
  SELECT vec_id, label, embedding,
         list_max(list_transform(embedding,
                                 x -> abs(CAST(x AS DOUBLE)))) / 127
             AS scale
  FROM embeddings
), qt AS (
  SELECT vec_id, label, scale,
         list_transform(
             embedding,
             x -> least(127, greatest(-127, CAST(floor(
                      CAST(x AS DOUBLE) / scale + 0.5) AS BIGINT))))
             AS qv
  FROM s WHERE scale > 0
)
SELECT vec_id, label, scale,
       CAST(list_sum(qv) AS BIGINT) AS q_sum,
       CAST(list_sum(list_transform(qv, a -> abs(a))) AS BIGINT) AS q_l1,
       CAST(len(list_filter(qv, a -> abs(a) = 127)) AS BIGINT) AS n_sat
FROM qt
""")
def emb_quantize_int8(spark, sf):
    """Symmetric per-vector int8 quantization — the embedding
    compression step before ANN index build (4x smaller vectors, SIMD
    int8 dot products): scale = max|x|/127, q_i = clamp(round-half-up
    (x_i/scale)). Everything is higher-order array functions on the
    JVM (transform/aggregate/filter) — no UDF, no explode, no
    shuffle: the whole operator is a narrow map over the vector
    column. Rounding is floor(x+0.5) so the expression is the SAME
    IEEE double computation on both engines (round() tie-breaking on
    doubles is engine-specific), making even the float scale column
    string-exact. At 100 TB this pattern (per-row array math inside
    the scan) is the difference between a metadata-speed pass and a
    Python-worker bottleneck."""
    # scan-parallelism guard: all-lambda array math, no shuffle below —
    # a one-row-group scan would run every row on one core
    e = widen(spark, t(spark, sf, "embeddings"))
    xd = F.transform("embedding", lambda x: F.abs(x.cast("double")))
    # pin(): the scale>0 filter would otherwise run the lambda below
    # the widen() exchange as well as above it
    e = e.withColumn("scale", pin(F.array_max(xd) / F.lit(127.0))) \
         .filter(F.col("scale") > 0)
    qv = F.transform(
        "embedding",
        lambda x: F.least(
            F.lit(127).cast("long"),
            F.greatest(F.lit(-127).cast("long"),
                       F.floor(x.cast("double") / F.col("scale") + 0.5))))
    e = e.withColumn("qv", qv)
    zero = F.lit(0).cast("long")
    return e.select(
        "vec_id", "label", "scale",
        F.aggregate("qv", zero, lambda a, x: a + x).alias("q_sum"),
        F.aggregate("qv", zero, lambda a, x: a + F.abs(x)).alias("q_l1"),
        F.size(F.filter("qv", lambda a: F.abs(a) == 127))
        .cast("bigint").alias("n_sat"))


@q("dq_constraint_checks", """
SELECT 'fk_lineitem_orders' AS check_name,
       CAST((SELECT count(*) FROM lineitem l
             WHERE NOT EXISTS (SELECT 1 FROM orders o
                               WHERE o.o_orderkey = l.l_orderkey))
            AS BIGINT) AS n_bad
UNION ALL
SELECT 'fk_orders_customer',
       CAST((SELECT count(*) FROM orders o
             WHERE NOT EXISTS (SELECT 1 FROM customer c
                               WHERE c.c_custkey = o.o_custkey))
            AS BIGINT)
UNION ALL
SELECT 'pk_orders_dup',
       CAST((SELECT count(*) - count(DISTINCT o_orderkey) FROM orders)
            AS BIGINT)
UNION ALL
SELECT 'null_custkey',
       CAST((SELECT count(*) FROM orders WHERE o_custkey IS NULL)
            AS BIGINT)
UNION ALL
SELECT 'range_quantity',
       CAST((SELECT count(*) FROM lineitem
             WHERE l_quantity < 1 OR l_quantity > 50) AS BIGINT)
UNION ALL
SELECT 'enum_orderstatus',
       CAST((SELECT count(*) FROM orders
             WHERE o_orderstatus NOT IN ('O', 'F', 'P')) AS BIGINT)
UNION ALL
SELECT 'nonpos_totalprice',
       CAST((SELECT count(*) FROM orders WHERE o_totalprice <= 0)
            AS BIGINT)
""")
def dq_constraint_checks(spark, sf):
    """Declarative data-quality audit (the expectations/constraints
    pass every ingest runs before promoting a batch): referential
    integrity via anti-joins, primary-key uniqueness, null/range/enum
    checks — emitted as one (check_name, violation_count) frame a
    gate can assert on. Single-table checks share ONE scan each
    (conditional aggregates, map-side combined); the two FK checks
    are anti-joins where the parent side's KEY COLUMN ONLY is
    projected (orders: 1 column, customer: 1 column) — at 100 TB the
    parent key set is the broadcast/bloom side, and NULL child keys
    count as violations on both engines (NULL never equi-matches, so
    anti keeps it), which is the semantics an FK check wants."""
    o = t(spark, sf, "orders")
    li = t(spark, sf, "lineitem")
    c = t(spark, sf, "customer")
    one = lambda name, df: df.agg(  # noqa: E731
        F.count("*").cast("bigint").alias("n_bad")).select(
        F.lit(name).alias("check_name"), "n_bad")
    fk_li = one("fk_lineitem_orders",
                li.select("l_orderkey").join(
                    o.select("o_orderkey"),
                    F.col("l_orderkey") == F.col("o_orderkey"),
                    "left_anti"))
    fk_o = one("fk_orders_customer",
               o.select("o_custkey").join(
                   c.select("c_custkey"),
                   F.col("o_custkey") == F.col("c_custkey"), "left_anti"))
    scans = o.agg(
        (F.count("*") - F.countDistinct("o_orderkey")).cast("bigint")
        .alias("pk_orders_dup"),
        F.count(F.when(F.col("o_custkey").isNull(), 1)).cast("bigint")
        .alias("null_custkey"),
        F.count(F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1))
        .cast("bigint").alias("enum_orderstatus"),
        F.count(F.when(F.col("o_totalprice") <= 0, 1)).cast("bigint")
        .alias("nonpos_totalprice"))
    rng = li.agg(F.count(F.when((F.col("l_quantity") < 1)
                                | (F.col("l_quantity") > 50), 1))
                 .cast("bigint").alias("range_quantity"))
    long_scans = scans.unpivot([], [c for c in scans.columns],
                               "check_name", "n_bad")
    long_rng = rng.unpivot([], ["range_quantity"], "check_name", "n_bad")
    return (fk_li.unionByName(fk_o)
            .unionByName(long_scans.select("check_name", "n_bad"))
            .unionByName(long_rng.select("check_name", "n_bad")))


@q("source_icelite_incremental", """
SELECT CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(event_id) AS BIGINT) AS id_sum,
       CAST(count(DISTINCT event_id) AS BIGINT) AS n_distinct
FROM events WHERE event_id % 3 <> 0
""")
def source_icelite_incremental(spark, sf):
    """Incremental (CDC-style) table read, ORACLED: three append
    commits partition events by id mod 3; the incremental scan from
    snapshot 1 to snapshot 3 must surface EXACTLY the rows of commits
    2+3 — which DuckDB predicts relationally, so the append-diff
    semantics (not just a row count) take the string-exact gate. The
    plan is manifest-only: the added-file set is computed from two
    manifest JSONs, no data file is opened until the scan of the
    added files themselves. This is the primitive that turns the
    nightly full-table ETL into an incremental one at 100 TB."""
    from .icelite import IceliteTable, write_dataframe_files
    tbl = IceliteTable(_scratch("icelite_incremental"))
    e = t(spark, sf, "events")
    for r in (0, 1, 2):
        fs = write_dataframe_files(e.filter(F.col("event_id") % 3 == r),
                                   tbl.new_commit_dir(f"c{r}"))
        tbl.commit_append(fs)
    inc = tbl.incremental_read(spark, from_snapshot_id=1,
                               to_snapshot_id=3)
    return inc.agg(F.count("*").cast("bigint").alias("n_rows"),
                   F.sum("event_id").cast("bigint").alias("id_sum"),
                   F.countDistinct("event_id").cast("bigint")
                   .alias("n_distinct"))


@q("text_readability", r"""
WITH c AS (
  SELECT doc_id,
         CAST(len(regexp_extract_all(text, '[^ \t\n]+')) AS BIGINT)
             AS n_words,
         CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
              AS BIGINT) AS n_sents,
         CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
              AS BIGINT) AS n_syll
  FROM documents WHERE text IS NOT NULL AND lang = 'en'
)
SELECT doc_id, n_words, n_sents, n_syll,
       floor((206.835
              - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sents AS DOUBLE))
              - 84.6 * (CAST(n_syll AS DOUBLE) / CAST(n_words AS DOUBLE)))
             * 100 + 0.5) / 100 AS flesch
FROM c WHERE n_words > 0
""")
def text_readability(spark, sf):
    """Flesch reading-ease scoring — the classic quality signal for
    training-corpus curation (too-low readability flags OCR garbage
    and boilerplate; too-high flags word lists). Words, sentences,
    and a vowel-group syllable proxy are all JVM regexp_count — one
    narrow pass inside the scan, no UDF, no shuffle; the score is
    the same IEEE expression on both engines (floor half-up, see
    emb_quantize_int8). The syllable proxy is the standard vowel-run
    approximation; swap in a dictionary UDF only when its precision
    is actually needed — at 100 TB the regexp form is free and the
    UDF form is the pipeline's bottleneck."""
    d = (t(spark, sf, "documents")
         .filter(F.col("text").isNotNull() & (F.col("lang") == "en")))
    d = d.select(
        "doc_id",
        F.regexp_count("text", F.lit(r"[^ \t\n]+")).cast("bigint")
        .alias("n_words"),
        F.greatest(F.regexp_count("text", F.lit("[.!?]+")), F.lit(1))
        .cast("bigint").alias("n_sents"),
        F.regexp_count(F.lower("text"), F.lit("[aeiouy]+")).cast("bigint")
        .alias("n_syll"))
    flesch = (F.lit(206.835)
              - F.lit(1.015) * (F.col("n_words").cast("double")
                                / F.col("n_sents").cast("double"))
              - F.lit(84.6) * (F.col("n_syll").cast("double")
                               / F.col("n_words").cast("double")))
    return (d.filter(F.col("n_words") > 0)
            .select("doc_id", "n_words", "n_sents", "n_syll",
                    (F.floor(flesch * 100 + 0.5) / 100).alias("flesch")))


@q("mv_incremental_refresh", """
SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
       CAST(count(*) AS BIGINT) AS n_orders,
       ROUND(CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE), 2)
           AS revenue
FROM orders WHERE o_orderdate IS NOT NULL
GROUP BY 1
""")
def mv_incremental_refresh(spark, sf):
    """Incremental materialized-view maintenance — the composition the
    CDC primitives exist FOR: a daily revenue rollup is built from the
    initial load, then a late-arriving batch lands in the base table
    and the rollup is refreshed by aggregating ONLY the incremental
    rows (icelite.incremental_read), joining the delta to the current
    rollup on the affected days, and MERGE-upserting the combined
    partials (generation column = latest-wins order). The oracle is
    the full recompute over ALL base data — string-exact equality
    proves the incremental path is lossless, the property that lets a
    100 TB pipeline refresh a rollup by touching |delta| + |affected
    days| instead of rescanning the base table. Revenue partials stay
    DECIMAL end-to-end (exact, fold-order-free) and only round to
    double at the read edge."""
    from .icelite import IceliteTable, write_dataframe_files

    base = IceliteTable(_scratch("mv_base"))
    o = t(spark, sf, "orders").filter(F.col("o_orderdate").isNotNull())
    for tag, pred in (("load", F.col("o_orderkey") % 3 != 0),
                      ("late", F.col("o_orderkey") % 3 == 0)):
        fs = write_dataframe_files(o.filter(pred),
                                   base.new_commit_dir(tag))
        base.commit_append(fs)

    def day_agg(df):
        return (df.groupBy(F.to_date("o_orderdate").alias("day"))
                .agg(F.count("*").cast("bigint").alias("n_orders"),
                     F.sum(F.col("o_totalprice").cast("decimal(14,2)"))
                     .cast("decimal(26,2)").alias("rev_d")))

    mv = IceliteTable(_scratch("mv_rollup"))
    full1 = day_agg(base.read(spark, snapshot_id=1)) \
        .withColumn("gen", F.lit(1))
    mv.commit_append(write_dataframe_files(full1, mv.new_commit_dir("g1")))

    delta = day_agg(base.incremental_read(spark, 1, 2))
    old = mv.read(spark)
    combined = (delta.alias("d").join(old.alias("m"), "day", "left")
                .select("day",
                        (F.coalesce(F.col("m.n_orders"), F.lit(0))
                         + F.col("d.n_orders")).cast("bigint")
                        .alias("n_orders"),
                        (F.coalesce(F.col("m.rev_d"),
                                    F.lit(0).cast("decimal(26,2)"))
                         + F.col("d.rev_d")).cast("decimal(26,2)")
                        .alias("rev_d"),
                        F.lit(2).alias("gen")))
    mv.merge_upsert(spark, combined, key_cols=("day",), order_col="gen")
    return (mv.read(spark)
            .select("day", "n_orders",
                    F.round(F.col("rev_d").cast("double"), 2)
                    .alias("revenue")))


@q("source_icelite_wap", """
WITH pub_before AS (
  SELECT count(*) AS n, sum(event_id) AS s
  FROM events WHERE event_id % 2 = 0
), pub_after AS (
  SELECT count(*) AS n, sum(event_id) AS s FROM events
)
SELECT CAST(b.n AS BIGINT) AS n_before, CAST(b.s AS BIGINT) AS sum_before,
       CAST(a.n AS BIGINT) AS n_after, CAST(a.s AS BIGINT) AS sum_after
FROM pub_before b, pub_after a
""")
def source_icelite_wap(spark, sf):
    """WRITE-AUDIT-PUBLISH over icelite named refs — the staging
    pattern production tables use so bad batches never reach readers:
    the staged commit exists as a snapshot + 'audit' tag while every
    reader follows the 'published' ref; only after validation does
    the published ref move. Both reader views are relationally
    predictable, so the ISOLATION property (readers pinned to the
    pre-publish half mid-stage) and the publish step both take the
    string-exact gate. Refs are metadata-only (one JSON pointer) —
    staging copies zero data, and expire_snapshots honors refs, so a
    tagged audit snapshot cannot be GC'd mid-review."""
    from .icelite import IceliteTable, write_dataframe_files
    tbl = IceliteTable(_scratch("icelite_wap"))
    e = t(spark, sf, "events")
    s1 = tbl.commit_append(write_dataframe_files(
        e.filter(F.col("event_id") % 2 == 0), tbl.new_commit_dir("load")))
    tbl.set_ref("published", s1)
    s2 = tbl.commit_append(write_dataframe_files(
        e.filter(F.col("event_id") % 2 == 1), tbl.new_commit_dir("stage")))
    tbl.set_ref("audit", s2)
    # readers mid-stage: pinned to the published half
    before = (tbl.read(spark, ref="published")
              .agg(F.count("*").cast("bigint").alias("n_before"),
                   F.sum("event_id").cast("bigint").alias("sum_before")))
    # audit gate passes (the staged half is non-empty) → publish
    assert tbl.read(spark, ref="audit").limit(1).count() == 1
    tbl.set_ref("published", s2)
    tbl.drop_ref("audit")
    after = (tbl.read(spark, ref="published")
             .agg(F.count("*").cast("bigint").alias("n_after"),
                  F.sum("event_id").cast("bigint").alias("sum_after")))
    return before.crossJoin(after)


@q("ts_seasonal_naive_forecast", """
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
)
SELECT a.event_type, a.day, a.n, b.n AS n_pred,
       CAST(abs(a.n - b.n) AS BIGINT) AS abs_err
FROM daily a JOIN daily b
  ON a.event_type = b.event_type AND a.day = b.day + 7
""")
def ts_seasonal_naive_forecast(spark, sf):
    """Seasonal-naive backtest (forecast = value one season ago), the
    baseline every demand-forecast pipeline must beat: daily counts
    per series, predicted by the same weekday last week via a
    CALENDAR self-join (day = day-7) rather than lag(7) — row-offset
    lag silently misaligns when days are missing, the classic
    backtest bug. Counts are integer-exact so the whole key takes the
    string-exact gate without rounding. One aggregate + one
    self-join on (series, day); at 100 TB the daily rollup is tiny
    relative to raw events, so the join cost is negligible and the
    aggregate partial-combines inside the scan."""
    ev = t(spark, sf, "events")
    daily = (ev.groupBy("event_type", F.to_date("ts").alias("day"))
             .agg(F.count("*").cast("bigint").alias("n")))
    a, b = daily.alias("a"), daily.alias("b")
    return (a.join(b, (F.col("a.event_type") == F.col("b.event_type"))
                   & (F.col("a.day") == F.date_add(F.col("b.day"), 7)))
            .select(F.col("a.event_type").alias("event_type"),
                    F.col("a.day").alias("day"),
                    F.col("a.n").alias("n"),
                    F.col("b.n").alias("n_pred"),
                    F.abs(F.col("a.n") - F.col("b.n")).cast("bigint")
                    .alias("abs_err")))


@q("udtf_partitioned_input", """
WITH g AS (
  SELECT o_custkey,
         date_diff('day', lag(o_orderdate) OVER w, o_orderdate) AS gap
  FROM orders
  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
)
SELECT o_custkey AS custkey, CAST(count(*) AS BIGINT) AS n_orders,
       CAST(coalesce(max(gap), 0) AS BIGINT) AS max_gap_days
FROM g GROUP BY 1
""")
def udtf_partitioned_input(spark, sf):
    """UDTF WITH A PARTITIONED TABLE ARGUMENT (PySpark 4
    `f(TABLE(v) PARTITION BY k ORDER BY ts)`): Spark routes each
    partition's rows, in order, through ONE UDTF instance — eval()
    accumulates, terminate() emits — i.e. the table-function analog
    of applyInPandas without materializing the group. Here: per
    customer, order count and the longest gap in days between
    consecutive orders (ties broken by orderkey so the order, and
    therefore the gap sequence, is deterministic). Verified
    value-exact against the window-lag formulation in DuckDB, so the
    partition routing, intra-partition ordering, AND terminate()
    semantics are all externally checked.

    Scale notes: PARTITION BY shuffles once on the key (same exchange
    a groupBy would need); state is O(1) per partition — no
    collect_list blowup for long histories, which is exactly when
    this beats the window formulation (a lag() window buffers frames
    per partition; the UDTF streams)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="custkey bigint, n_orders bigint, max_gap_days bigint")
    class OrderGaps:
        def __init__(self):
            self._key = None
            self._n = 0
            self._prev = None
            self._max_gap = 0

        def eval(self, row):
            self._key = row["o_custkey"]
            ts = row["o_orderdate"]
            self._n += 1
            if self._prev is not None:
                gap = (ts - self._prev).days
                if gap > self._max_gap:
                    self._max_gap = gap
            self._prev = ts

        def terminate(self):
            if self._key is not None:
                yield self._key, self._n, self._max_gap

    spark.udtf.register("order_gaps", OrderGaps)
    (t(spark, sf, "orders")
     .select("o_custkey", "o_orderdate", "o_orderkey")
     .createOrReplaceTempView("udtf_part_orders"))
    return spark.sql("""
        SELECT * FROM order_gaps(
          TABLE(udtf_part_orders)
          PARTITION BY o_custkey ORDER BY (o_orderdate, o_orderkey))""")


@q("vocab_coverage_topk", """
WITH tok AS (
  SELECT lower(u.w) AS w
  FROM documents d,
       unnest(string_split_regex(d.text, '\\s+')) AS u(w)
  WHERE length(u.w) > 0
), freq AS (
  SELECT w, CAST(count(*) AS BIGINT) AS f FROM tok GROUP BY 1
), vocab AS (
  SELECT w FROM freq ORDER BY f DESC, w LIMIT 256
), tot AS (
  SELECT sum(f) AS total FROM freq
)
SELECT CAST((SELECT count(*) FROM freq) AS BIGINT) AS n_types,
       CAST(tot.total AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN v.w IS NOT NULL THEN freq.f ELSE 0 END)
            AS BIGINT) AS covered_tokens
FROM freq LEFT JOIN vocab v USING (w), tot
GROUP BY tot.total
""")
def vocab_coverage_topk(spark, sf):
    """TOKENIZER VOCAB COVERAGE: what fraction of corpus tokens does
    a top-K frequency vocabulary cover — the go/no-go metric before
    committing a vocab size for tokenizer training (coverage knees
    sharply; Zipf means the top few hundred types cover most tokens).
    Emits exact counts (types, total tokens, covered tokens) rather
    than the ratio so the oracle stays integer-exact; the rate is
    covered/total downstream. Vocab selection tie-breaks
    frequency-then-word so the K-th slot is deterministic across
    engines.

    Scale notes: one explode + two hash aggregates; the vocab is
    K-sized — broadcast — so coverage is a map-side join against the
    frequency table, no second shuffle of the corpus. At 100 TB the
    token explosion dominates; it is the same single pass any
    frequency count needs."""
    toks = (t(spark, sf, "documents")
            .select(F.explode(F.split(F.col("text"), r"\s+")).alias("w"))
            .filter(F.length("w") > 0)
            .select(F.lower("w").alias("w")))
    freq = toks.groupBy("w").agg(F.count("*").cast("bigint").alias("f"))
    vocab = (freq.orderBy(F.col("f").desc(), "w").limit(256)
             .select(F.col("w").alias("vw")))
    tot = freq.agg(F.sum("f").cast("bigint").alias("total"),
                   F.count("*").cast("bigint").alias("n_types"))
    return (freq.join(F.broadcast(vocab), freq.w == F.col("vw"), "left")
            .crossJoin(F.broadcast(tot))
            .groupBy("n_types", "total")
            .agg(F.sum(F.when(F.col("vw").isNotNull(), F.col("f"))
                       .otherwise(F.lit(0))).cast("bigint")
                 .alias("covered_tokens"))
            .select("n_types", F.col("total").alias("n_tokens"),
                    "covered_tokens"))


@q("dedup_kgram_exact", """
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS tk
  FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0
),
g AS (
  SELECT DISTINCT doc_id,
         md5(array_to_string(tk[i:i+5], ' ')) AS gh
  FROM toks, unnest(range(1, len(tk) - 6 + 2)) AS u(i)
  WHERE len(tk) >= 6
),
keep AS (
  SELECT gh FROM g GROUP BY gh HAVING count(*) BETWEEN 2 AND 20
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(count(*) AS BIGINT) AS shared_grams
FROM g a JOIN keep USING (gh) JOIN g b USING (gh)
WHERE a.doc_id < b.doc_id
GROUP BY 1, 2
""")
def dedup_kgram_exact(spark, sf):
    """EXACT LONG-K-GRAM SUBSTRING DEDUP (the suffix-array
    train-data-dedup family, approximated with fixed-width k-token
    grams): emit every doc pair sharing at least one exact 6-token
    window, with the count of shared grams — the memorization-risk
    signal that MinHash misses (MinHash scores whole-doc overlap; a
    200-word doc quoting one 6-gram from another scores ~0 Jaccard
    but IS an exact substring copy). Candidates are JOIN-FREE on the
    Spark side: per-doc distinct gram hashes, a window count over the
    gram key (riding the gather's own exchange) drops singleton AND
    hot grams (boilerplate grams shared by >20 docs would emit
    O(df²) pairs; docs carrying them are caught by exact/minhash
    dedup instead — same pre-gather cap discipline as
    minhash_lsh_pairs), then collect_list + i<j pair expansion
    JVM-side. The oracle runs the SAME spec relationally (self-join
    with an identical 2..20 gram-frequency band), so the parity is
    lossless — the cap is part of the contract on both engines.

    Scale notes: one wide exchange on 16-byte gram hashes; pair
    output bounded by grams × cap²/2; the gram explosion is ~tokens
    per doc (distinct-ified per doc before the shuffle, so repeated
    boilerplate inside one doc costs nothing downstream)."""
    k = 6
    d = (widen(spark, t(spark, sf, "documents"))
         .filter(F.col("text").isNotNull() & (F.length(F.trim("text")) > 0))
         .select("doc_id",
                 words(lower=True).alias("tk")))
    # md5 is applied per EXPLODED row — codegen'd — instead of per
    # array element in an interpreted lambda. array_distinct on gram
    # strings == distinct hashes (md5 is injective on distinct inputs
    # here by assumption of no collisions, and both engines hash the
    # same string set).
    grams = (d.select("doc_id", F.explode(F.array_distinct(
                 word_ngrams(F.concat_ws(" ", "tk"), k))).alias("g"))
             .select("doc_id", F.md5("g").alias("gh")))
    wn = F.count("*").over(W.partitionBy("gh"))
    banded = (grams.withColumn("n", wn)
              .filter((F.col("n") >= 2) & (F.col("n") <= 20)))
    grouped = (banded.groupBy("gh")
               .agg(F.collect_list("doc_id").alias("ids")))
    return (expand_pairs(grouped)
            .groupBy(F.col("p.a").alias("doc_a"), F.col("p.b").alias("doc_b"))
            .agg(F.count("*").cast("bigint").alias("shared_grams")))


@q("text_hashed_linear_score", """
WITH tok AS (
  SELECT doc_id, u.w AS w
  FROM documents d,
       unnest(regexp_split_to_array(lower(trim(d.text)), '\\s+')) AS u(w)
  WHERE d.text IS NOT NULL AND length(trim(d.text)) > 0
), feat AS (
  SELECT doc_id,
         instr('0123456789abcdef', substr(md5(w), 1, 1)) - 1 AS bucket
  FROM tok
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_feats,
       CAST(sum((bucket % 7) - 3) AS BIGINT) AS score_num
FROM feat GROUP BY doc_id
""")
def text_hashed_linear_score(spark, sf):
    """FASTTEXT-STYLE HASHED LINEAR QUALITY SCORER: tokens hash into
    a fixed bucket space, a tiny weight vector is broadcast once per
    executor, and the doc score is the mean bucket weight — the
    standard cheap quality-classifier shape (hash trick + linear
    head) used to gate pretraining corpora. Weights here are a
    deterministic function of the bucket id ((b % 7) - 3, INTEGER) so
    the score numerator is integer-exact and oracle-portable; a real
    deployment swaps the 16-row table for trained weights — the plan
    shape (explode → broadcast-join weights → hash agg) is identical.
    The bucket hash is the engine-portable md5-first-hex-char idiom
    (instr over the hex alphabet renders identically in Spark and
    DuckDB); production would use xxhash64 % B. Emits (n_feats,
    score_num) instead of the float mean so parity is string-exact;
    score = score_num / n_feats downstream.

    Scale notes: one explode + one hash agg on doc_id; the weight
    join is broadcast (16 rows — model weights ride the task binary,
    never a shuffle), so corpus cost is the same single token pass
    every frequency scan needs."""
    weights = spark.createDataFrame(
        [(b, (b % 7) - 3) for b in range(16)], "bucket int, wt int")
    d = (t(spark, sf, "documents")
         .filter(F.col("text").isNotNull() & (F.length(F.trim("text")) > 0))
         .select("doc_id", F.explode(words(lower=True)).alias("w")))
    feat = d.select(
        "doc_id",
        F.expr("instr('0123456789abcdef', substring(md5(w), 1, 1)) - 1")
        .alias("bucket"))
    return (feat.join(F.broadcast(weights), "bucket")
            .groupBy("doc_id")
            .agg(F.count("*").cast("bigint").alias("n_feats"),
                 F.sum("wt").cast("bigint").alias("score_num")))


@q("sql_udf_scalar", """
WITH c AS (
  SELECT CASE WHEN l_quantity < 10 THEN 'low'
              WHEN l_quantity < 30 THEN 'mid'
              ELSE 'high' END AS qclass,
         l_returnflag
  FROM lineitem
)
SELECT l_returnflag, qclass, CAST(count(*) AS BIGINT) AS n
FROM c GROUP BY 1, 2
""")
def sql_udf_scalar(spark, sf):
    """SQL SCALAR UDF (Spark 4 `CREATE FUNCTION ... RETURNS ... RETURN
    expr`): the function body is pure SQL, so Catalyst INLINES it into
    the calling plan — unlike a Python UDF there is no serialization
    boundary, no codegen break, and predicate pushdown/codegen work
    straight through the call site. The right tool for shared business
    logic (bucketing rules, classification cases) that must run at
    full JVM speed on 100 TB. Verified value-exact against the
    inlined CASE expression in DuckDB — proving the definition,
    resolution, and inlining semantics, not just the arithmetic."""
    spark.sql("""
        CREATE OR REPLACE TEMPORARY FUNCTION qty_class(q DOUBLE)
        RETURNS STRING
        RETURN CASE WHEN q < 10 THEN 'low'
                    WHEN q < 30 THEN 'mid'
                    ELSE 'high' END""")
    t(spark, sf, "lineitem").createOrReplaceTempView("sqludf_lineitem")
    return spark.sql("""
        SELECT l_returnflag, qty_class(l_quantity) AS qclass,
               CAST(count(*) AS BIGINT) AS n
        FROM sqludf_lineitem GROUP BY 1, 2""")


@q("execute_immediate", """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n
FROM orders WHERE o_totalprice > 150000.0
GROUP BY o_orderpriority
""")
def execute_immediate(spark, sf):
    """EXECUTE IMMEDIATE (Spark 4): a SQL string composed at runtime
    is parsed and run with positional `USING` binds — the dynamic-SQL
    escape hatch for metadata-driven jobs (a curation driver that
    builds per-source gate queries from a config table). Binds are
    bound as typed literals by the parser, never spliced, so the
    dynamic surface stays injection-safe. Oracled against the static
    form of the same query."""
    t(spark, sf, "orders").createOrReplaceTempView("exec_imm_orders")
    return spark.sql("""
        EXECUTE IMMEDIATE
        'SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n
         FROM exec_imm_orders WHERE o_totalprice > ? GROUP BY 1'
        USING 150000.0D""")


@q("str_collation", """
WITH mc AS (
  SELECT CASE WHEN c_custkey % 2 = 0 THEN upper(c_mktsegment)
              ELSE lower(c_mktsegment) END AS seg
  FROM customer
)
SELECT CAST(count(DISTINCT lower(seg)) AS BIGINT) AS n_ci,
       CAST(count(DISTINCT seg) AS BIGINT) AS n_cs,
       CAST(sum(CASE WHEN lower(seg) = 'building' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_building
FROM mc
""")
def str_collation(spark, sf):
    """STRING COLLATIONS (Spark 4 `collate(s, 'UTF8_LCASE')`): string
    comparison semantics become a TYPE property — DISTINCT, equality,
    and GROUP BY under a case-insensitive collation need no lower()
    rewrites, and because the collation is part of the data type the
    optimizer can still prune/push (a lower(col) wrapper would defeat
    min/max stats pruning; a collated column keeps it). The corpus
    mixes the case deterministically (even keys upper, odd lower),
    then counts distinct segments case-insensitively vs case-
    sensitively and filters on collated equality. Counts are
    representative-independent, so the parity vs DuckDB's lower()
    formulation is exact even though the two engines may pick
    different group representatives."""
    mc = t(spark, sf, "customer").select(
        F.when(F.col("c_custkey") % 2 == 0, F.upper("c_mktsegment"))
        .otherwise(F.lower("c_mktsegment")).alias("seg"))
    ci = F.collate("seg", "UTF8_LCASE")
    return mc.agg(
        F.count_distinct(ci).cast("bigint").alias("n_ci"),
        F.count_distinct(F.col("seg")).cast("bigint").alias("n_cs"),
        F.sum(F.when(ci == F.lit("building"), 1).otherwise(0))
        .cast("bigint").alias("n_building"))


@q("agg_hll_sketch_merge")  # rows-only: Datasketches HLL binary has no DuckDB twin
def agg_hll_sketch_merge(spark, sf):
    """DATASKETCHES HLL (Spark 3.5+ hll_sketch_agg / hll_union_agg /
    hll_sketch_estimate): per-group cardinality sketches that MERGE —
    the property approx_count_distinct's opaque HLL++ lacks. At 100 TB
    this is the pattern for incremental distinct-user counts: sketch
    each partition/day once (one pass), persist the 1-4 KB sketch
    binaries, and answer any rollup (all-time, trailing-28-day, per
    cohort) by unioning sketches — never rescanning the raw data.
    Emits per-event-type estimate AND exact distinct, plus an 'ALL'
    row whose estimate comes from UNIONING the per-type sketches (not
    re-scanning); tests/test_dataops.py asserts every estimate within
    5% of exact (12-bit sketches: ~1.6% expected error)."""
    e = (t(spark, sf, "events")
         .select("event_type", "user_id"))
    per = (e.groupBy("event_type")
           .agg(F.hll_sketch_agg("user_id", F.lit(12)).alias("sk"),
                F.count_distinct("user_id").cast("bigint").alias("exact")))
    per_out = per.select(
        "event_type",
        F.hll_sketch_estimate("sk").cast("bigint").alias("est"), "exact")
    total = (per.agg(F.hll_union_agg("sk").alias("sk"),
                     F.lit(None).cast("bigint").alias("_"))
             .select(F.lit("ALL").alias("event_type"),
                     F.hll_sketch_estimate("sk").cast("bigint").alias("est")))
    exact_all = (e.agg(F.count_distinct("user_id").cast("bigint")
                       .alias("exact")))
    total = total.crossJoin(exact_all)
    return per_out.unionByName(total)


@q("ts_ewma_blocked", """
WITH o AS (
  SELECT user_id, event_id, value,
         CAST(row_number() OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) - 1 AS BIGINT) AS rn0
  FROM events WHERE value IS NOT NULL
), p AS (
  SELECT user_id, event_id, value,
         rn0 // 2048 AS blk,
         CAST(rn0 % 2048 AS DOUBLE) AS pos
  FROM o
), w AS (
  SELECT user_id, event_id, blk, pos,
         sum(value * pow(0.9, -pos)) OVER wb AS sn,
         sum(pow(0.9, -pos)) OVER wb AS sd,
         max(pos) OVER (PARTITION BY user_id, blk) AS mx
  FROM p
  WINDOW wb AS (PARTITION BY user_id, blk ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
), be AS (
  SELECT user_id, blk,
         lag(sn * pow(0.9, 2047.0))
           OVER (PARTITION BY user_id ORDER BY blk) AS ce,
         lag(sd * pow(0.9, 2047.0))
           OVER (PARTITION BY user_id ORDER BY blk) AS cd
  FROM w WHERE pos = mx
)
SELECT w.user_id, w.event_id,
       ROUND((w.sn * pow(0.9, w.pos)
                + coalesce(be.ce, 0.0) * pow(0.9, w.pos + 1.0))
             / (w.sd * pow(0.9, w.pos)
                + coalesce(be.cd, 0.0) * pow(0.9, w.pos + 1.0)), 4)
         + 0.0 AS ewma
FROM w JOIN be ON w.user_id = be.user_id AND w.blk = be.blk
""")
def ts_ewma_blocked(spark, sf):
    """UNBOUNDED-HISTORY EWMA (α=0.9, adjust-normalized) — the scale
    path that removes ts_ewma's documented rn≈6,726 overflow ceiling.
    The closed form's α^(-rn) grows without bound; here each key's
    history is cut into fixed 2048-row blocks, the closed form runs
    WITHIN a block (worst exponent α^(-2047) ≈ 1e93 — two hundred
    orders of magnitude of headroom), and history older than the
    current block enters as a single carry term: the previous block's
    end-of-block sums, decayed by α^(pos+1). One block of lookback is
    EXACT to double precision for any history length — terms two or
    more blocks back carry weight ≤ α^2048 ≈ 1e-94, below one ulp of
    the current row's own α^0 term — so this equals the true EWMA at
    every output digit with NO history limit. Block-end sums are taken
    from the ordered prefix sum at the block's last row (not a hash
    re-aggregation), so both engines fold identical terms in identical
    order and the oracle — the SAME blocked construction — is
    string-exact. tests/test_dataops.py drives a 20,000-row synthetic
    key (3× past the old overflow ceiling) and checks against pandas
    ewm(adjust=True) to 1e-9 with zero Inf/NaN.

    Scale notes: one exchange on (user_id, blk) for the block windows,
    one on user_id for the block-carry lag (tiny: one row per block),
    and the carry join rides the block window's partitioning. State
    per window partition is one block — 2048 rows — regardless of key
    history length; the closed form's unbounded per-key state is gone."""
    B, A = 2048, 0.9
    ev = (t(spark, sf, "events").filter(F.col("value").isNotNull()))
    o = ev.select(
        "user_id", "event_id", "value",
        (F.row_number().over(
            W.partitionBy("user_id").orderBy("ts", "event_id")) - 1)
        .alias("rn0"))
    p = o.select(
        "user_id", "event_id", "value",
        (F.col("rn0") / B).cast("bigint").alias("blk"),
        (F.col("rn0") % B).cast("double").alias("pos"))
    wb = (W.partitionBy("user_id", "blk").orderBy("pos")
          .rowsBetween(W.unboundedPreceding, W.currentRow))
    w = p.select(
        "user_id", "event_id", "blk", "pos",
        F.sum(F.col("value") * F.pow(F.lit(A), -F.col("pos"))).over(wb)
        .alias("sn"),
        F.sum(F.pow(F.lit(A), -F.col("pos"))).over(wb).alias("sd"),
        F.max("pos").over(W.partitionBy("user_id", "blk")).alias("mx"))
    be = (w.filter(F.col("pos") == F.col("mx"))
          .select("user_id", "blk",
                  F.lag(F.col("sn") * F.pow(F.lit(A), F.lit(float(B - 1))))
                  .over(W.partitionBy("user_id").orderBy("blk")).alias("ce"),
                  F.lag(F.col("sd") * F.pow(F.lit(A), F.lit(float(B - 1))))
                  .over(W.partitionBy("user_id").orderBy("blk")).alias("cd")))
    j = w.join(be, ["user_id", "blk"])
    decay = F.pow(F.lit(A), F.col("pos") + 1.0)
    num = (F.col("sn") * F.pow(F.lit(A), F.col("pos"))
           + F.coalesce(F.col("ce"), F.lit(0.0)) * decay)
    den = (F.col("sd") * F.pow(F.lit(A), F.col("pos"))
           + F.coalesce(F.col("cd"), F.lit(0.0)) * decay)
    return j.select("user_id", "event_id",
                    (F.round(num / den, 4) + 0.0).alias("ewma"))


def _gear_table() -> "np.ndarray":
    """256-entry gear table for content-defined chunking, derived from
    md5 of each byte value — deterministic across processes, runs, and
    executors (no RNG, so the A-series determinism contract holds)."""
    import hashlib
    return np.array(
        [int.from_bytes(hashlib.md5(bytes([b])).digest()[:8], "big")
         for b in range(256)], dtype=np.uint64)


_CDC_WIN, _CDC_MASK, _CDC_MIN, _CDC_MAX = 16, np.uint64(0x3F), 32, 256


def _cdc_boundaries(data: bytes) -> list[int]:
    """Chunk boundary offsets (exclusive ends) for one payload.

    Gear rolling hash over a 16-byte window, vectorized as 16 shifted
    adds (the window rolls out by the uint64 left-shift, so no
    per-byte Python loop); a position ends a chunk when the hash's low
    6 bits are zero (~64-byte average), subject to 32-byte minimum and
    256-byte forced maximum — the FastCDC-style normalization that
    bounds both tiny-chunk overhead and resync distance."""
    n = len(data)
    if n == 0:
        return []
    arr = np.frombuffer(data, dtype=np.uint8)
    g = _GEAR[arr]
    h = np.zeros(n, dtype=np.uint64)
    for k in range(_CDC_WIN):
        h[k:] += g[: n - k] << np.uint64(k)
    cand = np.nonzero((h & _CDC_MASK) == 0)[0]
    out, last = [], 0
    ci, m = 0, len(cand)
    while last < n:
        # skip candidates inside the minimum-size zone
        while ci < m and cand[ci] < last + _CDC_MIN:
            ci += 1
        if ci < m and cand[ci] < last + _CDC_MAX:
            cut = int(cand[ci]) + 1
        else:
            cut = min(last + _CDC_MAX, n)
        out.append(cut)
        last = cut
    return out


_GEAR = _gear_table()


@q("doc_cdc_chunks")  # rows-only: the gear rolling hash has no SQL twin
def doc_cdc_chunks(spark, sf):
    """CONTENT-DEFINED CHUNKING (FastCDC/gear family): chunk
    boundaries are a function of the CONTENT's rolling hash, not of
    byte offsets — so inserting a prefix into a document shifts every
    byte position yet the boundaries RESYNC within one window+max of
    the edit, and all downstream chunks keep their hashes. That is the
    property fixed-size chunking lacks and exactly why CDC is the
    backbone of shift-robust near-dup detection: two documents that
    share a long run of content share the chunk hashes of that run no
    matter where it sits, so chunk-hash grouping (the same join-free
    gather idiom as minhash_lsh_pairs) finds insert/delete edits that
    whole-doc hashing and even shingle MinHash score poorly.
    tests/test_dataops.py proves the resync property (prefix edit →
    downstream chunk hashes identical), repartition-invariance, and
    the size bounds.

    Scale notes: embarrassingly parallel — one mapInPandas pass, zero
    shuffles; the kernel is numpy-vectorized (16 shifted adds for the
    whole batch's hash lattice, no per-byte Python). Chunk rows are
    ~5x the doc count at the 64-byte average; the downstream pair scan
    groups on 16-byte chunk hashes with the standard pre-gather cap."""
    schema = ("doc_id long, chunk_idx int, start int, "
              "length int, chunk_hash string")

    def chunk_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib
        for pdf in batches:
            rows = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if text is None:
                    continue
                data = text.encode("utf-8")
                prev = 0
                for idx, end in enumerate(_cdc_boundaries(data)):
                    rows.append((doc_id, idx, prev, end - prev,
                                 hashlib.md5(data[prev:end]).hexdigest()))
                    prev = end
            yield pd.DataFrame(
                rows, columns=["doc_id", "chunk_idx", "start", "length",
                               "chunk_hash"])

    d = (t(spark, sf, "documents")
         .filter(F.col("text").isNotNull())
         .select("doc_id", "text"))
    return d.mapInPandas(chunk_batches, schema)


@q("text_sentence_dedup", """
WITH sent AS (
  SELECT doc_id, trim(u.s) AS s
  FROM documents d,
       unnest(regexp_split_to_array(d.text, '[.!?] +')) AS u(s)
  WHERE d.text IS NOT NULL AND length(trim(u.s)) >= 20
), freq AS (
  SELECT md5(lower(s)) AS sh, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
  FROM sent GROUP BY 1
), per AS (
  SELECT sent.doc_id,
         CAST(count(*) AS BIGINT) AS n_sents,
         CAST(sum(CASE WHEN f.df >= 3 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_boiler
  FROM sent JOIN freq f ON md5(lower(sent.s)) = f.sh
  GROUP BY sent.doc_id
)
SELECT doc_id, n_sents, n_boiler,
       CASE WHEN n_boiler * 2 >= n_sents THEN 1 ELSE 0 END AS drop_flag
FROM per
""")
def text_sentence_dedup(spark, sf):
    """SENTENCE-LEVEL BOILERPLATE DEDUP (the CCNet recipe, at sentence
    granularity): hash every sentence, count how many DISTINCT docs
    carry it across the corpus, and score each doc by its share of
    corpus-repeated sentences — navboxes, cookie banners, and licence
    footers repeat across thousands of pages while real prose doesn't,
    so a doc whose sentences are mostly corpus-duplicates is
    boilerplate even when its full-doc hash is unique. Emits per-doc
    sentence count, repeated-sentence count (df >= 3), and the
    majority-boilerplate drop flag. Sentence split is '[.!?] +' on
    both engines (RE2-safe — DuckDB has no lookbehind), sentences
    under 20 chars skipped (fragments alias too easily).

    Scale notes: explode → distinct-doc count per 16-byte sentence
    hash (one wide exchange, map-side partial) → hash-join back and
    per-doc aggregate. The join is on the sentence hash — at 100 TB
    broadcast the hot tail instead: df >= 3 sentences are a tiny
    fraction of distinct sentences, so semi-join the frequency table
    filtered to df >= 3 (the complement defaults to df < 3), shrinking
    the join build side by orders of magnitude; the plan here keeps
    the general join since the sandbox corpus fits."""
    sent = (t(spark, sf, "documents")
            .filter(F.col("text").isNotNull())
            .select("doc_id",
                    F.explode(F.split("text", r"[.!?] +")).alias("s0"))
            .select("doc_id", F.trim("s0").alias("s"))
            .filter(F.length("s") >= 20)
            .select("doc_id", F.md5(F.lower("s")).alias("sh")))
    freq = (sent.groupBy("sh")
            .agg(F.count_distinct("doc_id").cast("bigint").alias("df")))
    per = (sent.join(freq, "sh")
           .groupBy("doc_id")
           .agg(F.count("*").cast("bigint").alias("n_sents"),
                F.sum(F.when(F.col("df") >= 3, 1).otherwise(0))
                .cast("bigint").alias("n_boiler")))
    return per.select(
        "doc_id", "n_sents", "n_boiler",
        F.when(F.col("n_boiler") * 2 >= F.col("n_sents"), 1).otherwise(0)
        .alias("drop_flag"))


@q("text_markdown_strip", """
WITH c AS (
  SELECT doc_id,
         trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(
             text,
             '\\[([^\\]]*)\\]\\([^\\)]*\\)', '\\1', 'g'),
             '(^|\\n)#{1,6} ', '\\1', 'g'),
             '\\*\\*([^\\*]*)\\*\\*', '\\1', 'g'),
             '`([^`]*)`', '\\1', 'g')) AS clean
  FROM documents WHERE text IS NOT NULL
)
SELECT doc_id, md5(clean) AS clean_md5,
       CAST(length(clean) AS BIGINT) AS n_clean_chars
FROM c
""")
def text_markdown_strip(spark, sf):
    """MARKDOWN BOILERPLATE STRIP (the A2-normalize sibling for
    markdown payloads): links [text](url) collapse to their anchor
    text, ATX headings lose the #-prefix, bold and inline code lose
    their markers — the order matters (links first, so '#' inside a
    URL can't be mistaken for a heading). All four rewrites are
    RE2-safe regexes (no lookaround, no backrefs beyond group 1) so
    Spark's Java regex and DuckDB's RE2 produce byte-identical
    output, verified by the md5 fingerprint per doc — the same
    fingerprint-equality style the extraction kernel's golden tests
    use. Pure JVM regexp_replace chain: one narrow projection, no
    shuffle, codegen-fused.

    Scale notes: this composes in front of the segmentation kernel as
    a zero-shuffle map stage; at 100 TB the regex cost rides the same
    scan the gate already pays."""
    d = t(spark, sf, "documents").filter(F.col("text").isNotNull())
    clean = F.trim(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(
                    F.regexp_replace(
                        F.col("text"),
                        r"\[([^\]]*)\]\([^\)]*\)", r"$1"),
                    r"(^|\n)#{1,6} ", r"$1"),
                r"\*\*([^\*]*)\*\*", r"$1"),
            r"`([^`]*)`", r"$1"))
    return d.select("doc_id", F.md5(clean).alias("clean_md5"),
                    F.length(clean).cast("bigint").alias("n_clean_chars"))


PQ_M = 4                 # subspaces (one code each)
PQ_K = 16                # codes per subspace codebook
PQ_POOL = 50             # ADC candidates re-ranked exactly per query
PQ_TOPK = 10             # neighbours returned per query


@q("ann_pq_adc")  # rows-only: PQ codebooks/means are float-fold-dependent
def ann_pq_adc(spark, sf):
    """PRODUCT-QUANTIZATION ANN with ADC (asymmetric distance
    computation) — the memory-compression leg of the ANN family next
    to brute force (exact baseline), sign-LSH (bucketed), and IVF
    (cell-pruned). Each 64-dim vector compresses to M=4 one-byte
    codes (one per 16-dim subspace, 16 codes each): a 64x memory
    reduction, which at 100 TB is the difference between the
    candidate set living in executor RAM as codes or thrashing
    through the raw vectors. Queries stay UNquantized: per query a
    (M x K) lookup table of subspace distances to every codebook
    entry is built once per Arrow batch, and a candidate's
    approximate distance is M table lookups — no vector arithmetic in
    the scan loop. The ADC top-PQ_POOL then re-ranks EXACTLY on
    the true vectors (the standard two-stage recipe), so the
    compression only has to get the pool right, not the final order.
    Codebooks are trained deterministically: the K lowest vec_ids
    seed each subspace, one distributed Lloyd step refines them
    (posexplode → map-side combined (sub, code, pos) means — the
    exchange is bounded by M*K*subdim rows per map partition, never
    corpus-sized), and the M*K*subdim scalars ride to executors in
    the UDF closure (A9 broadcast-state idiom, same as IVF). Recall
    vs the exact brute-force twin is asserted in
    tests/test_dataops.py (measured 0.75 at the 0.6 gate).

    Scale notes: one encode pass (Arrow-batched numpy, vectorized
    argmin over all subspaces at once), one broadcast of the query
    set, one scan of the CODES table for ADC, and an exact re-rank
    touching only pool-sized row groups fetched by vec_id join.
    Composes with the IVF cell join (ann_ivf_coarse) for the full
    IVF-PQ layout: cell equi-join first, ADC inside the cell."""
    em = t(spark, sf, "embeddings").select("vec_id", emb_double().alias("e"))

    seeds = em.orderBy("vec_id").limit(PQ_K).collect()
    s0 = np.array([r["e"] for r in seeds], dtype=np.float64)
    dim = s0.shape[1]
    sub = dim // PQ_M
    cb0 = np.stack([s0[:, m * sub:(m + 1) * sub] for m in range(PQ_M)])

    def encoder(cb):
        @F.pandas_udf(T.ArrayType(T.IntegerType()))
        def encode(es: pd.Series) -> pd.Series:
            if len(es) == 0:
                return pd.Series([], dtype=object)
            mat = np.vstack([np.asarray(v, dtype=np.float64) for v in es])
            codes = np.empty((mat.shape[0], PQ_M), dtype=np.int32)
            for m in range(PQ_M):
                sv = mat[:, m * sub:(m + 1) * sub]
                # ||x - c||^2 argmin, vectorized over the batch
                d2 = (np.sum(sv * sv, axis=1, keepdims=True)
                      - 2.0 * sv @ cb[m].T
                      + np.sum(cb[m] * cb[m], axis=1))
                codes[:, m] = np.argmin(d2, axis=1)
            return pd.Series(list(codes))
        return encode

    # one Lloyd step: subvector means per (subspace, code, pos)
    a0 = em.select("vec_id", "e", encoder(cb0)("e").alias("codes"))
    sums = (a0.select(F.posexplode("e").alias("pos", "v"), "codes")
            .select((F.col("pos") / sub).cast("int").alias("m"),
                    (F.col("pos") % sub).alias("sp"), "v", "codes")
            .select("m", "sp", "v",
                    F.expr("element_at(codes, m + 1)").alias("code"))
            .groupBy("m", "code", "sp")
            .agg(F.sum("v").alias("s"), F.count("*").alias("n"))
            .collect())
    cb1 = cb0.copy()                    # empty codes keep their seed
    acc: dict = {}
    for r in sums:
        acc.setdefault((r["m"], r["code"]), {})[r["sp"]] = r["s"] / r["n"]
    for (m, c), d in acc.items():
        cb1[m, c] = np.array([d[p] for p in range(sub)])

    corpus = em.select("vec_id", encoder(cb1)("e").alias("codes"))
    qs = (em.filter(F.col("vec_id") < ANN_QUERIES)
          .select(F.col("vec_id").alias("query_id"), F.col("e").alias("qe")))

    @F.pandas_udf(T.DoubleType())
    def adc_dist(qes: pd.Series, codes: pd.Series) -> pd.Series:
        if len(qes) == 0:
            return pd.Series([], dtype="float64")
        cmat = np.vstack([np.asarray(c, dtype=np.int64) for c in codes])
        out = np.empty(len(qes), dtype=np.float64)
        luts: dict = {}
        for i, q in enumerate(qes):
            qv = np.asarray(q, dtype=np.float64)
            key = qv.tobytes()              # queries repeat within a batch
            lut = luts.get(key)
            if lut is None:
                lut = np.stack([
                    np.sum((cb1[m] - qv[m * sub:(m + 1) * sub]) ** 2, axis=1)
                    for m in range(PQ_M)])
                luts[key] = lut
            out[i] = lut[np.arange(PQ_M), cmat[i]].sum()
        return pd.Series(out)

    cand = (corpus.join(F.broadcast(qs), F.col("vec_id") != F.col("query_id"))
            .select("query_id", "vec_id", "qe",
                    adc_dist("qe", "codes").alias("adc")))
    wpool = W.partitionBy("query_id").orderBy("adc", "vec_id")
    pool = (cand.withColumn("r", F.row_number().over(wpool))
            .filter(F.col("r") <= PQ_POOL)
            .select("query_id", "vec_id", "qe"))
    # exact cosine re-rank on the pool only
    rer = pool.join(em, "vec_id").select("query_id", "vec_id", "qe", "e")
    return cosine_topk(rer, PQ_TOPK)


@q("sql_session_variable", """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
       ROUND(CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE)
             / 100.0, 2) AS revenue
FROM orders WHERE o_totalprice > 150000.0
GROUP BY o_orderpriority
""")
def sql_session_variable(spark, sf):
    """SQL SESSION VARIABLES (Spark 4 DECLARE VARIABLE / SET VAR): a
    typed server-side variable referenced by name in later statements
    — the mechanism for parameterizing multi-statement SQL jobs
    without string templating (values bind typed, injection-safe,
    and one SET flips every consuming statement). The revenue sum
    accumulates in exact cents (BIGINT) before one double division,
    the engine-portable money idiom used across the suite. Oracled
    against the static form."""
    spark.sql("DECLARE OR REPLACE VARIABLE price_floor DOUBLE")
    spark.sql("SET VAR price_floor = 150000.0")
    t(spark, sf, "orders").createOrReplaceTempView("sessvar_orders")
    return spark.sql("""
        SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
               ROUND(CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) AS DOUBLE)
                     / 100.0, 2) AS revenue
        FROM sessvar_orders WHERE o_totalprice > price_floor
        GROUP BY o_orderpriority""")


@q("sql_scripting_while", """
WITH RECURSIVE mx AS (
  SELECT CAST(floor(max(o_totalprice)) AS BIGINT) AS m FROM orders
), dbl AS (
  SELECT 0 AS n, CAST(1 AS BIGINT) AS p
  UNION ALL
  SELECT n + 1, p * 2 FROM dbl, mx WHERE p <= mx.m
)
SELECT max(n) AS n_doublings, max(p) AS bound
FROM dbl
""")
def sql_scripting_while(spark, sf):
    """SQL SCRIPTING (Spark 4 BEGIN...END with DECLARE + WHILE): a
    procedural loop runs server-side — here doubling a BIGINT bound
    until it clears the corpus's max order price and reporting the
    doubling count, i.e. a tiny iterative computation expressed as a
    script instead of driver-side Python. The oracle computes the
    SAME fixpoint with a recursive CTE — algorithm-diverse engines,
    identical integer result, so the scripting control flow (variable
    state across iterations, loop exit condition) is what's being
    verified. Real use: retry/compaction loops and threshold searches
    that would otherwise round-trip through the driver per iteration.

    Scale notes: each iteration is a driver-coordinated statement like
    any SQL; the data-touching statement here runs ONCE (max()), the
    loop is pure variable arithmetic — the pattern to copy, since a
    WHILE loop that rescans the fact table each pass would be the
    anti-pattern."""
    t(spark, sf, "orders").createOrReplaceTempView("script_orders")
    return spark.sql("""
        BEGIN
          DECLARE m BIGINT;
          DECLARE p BIGINT DEFAULT 1;
          DECLARE n BIGINT DEFAULT 0;
          SET m = (SELECT CAST(floor(max(o_totalprice)) AS BIGINT)
                   FROM script_orders);
          WHILE p <= m DO
            SET p = p * 2;
            SET n = n + 1;
          END WHILE;
          SELECT n AS n_doublings, p AS bound;
        END""")


@q("agg_approx_top_k", """
WITH c AS (
  SELECT o_orderpriority AS item, CAST(count(*) AS BIGINT) AS cnt
  FROM orders GROUP BY 1
)
SELECT item, cnt FROM c
""")
def agg_approx_top_k(spark, sf):
    """approx_top_k (Spark 4.1): the heavy-hitter sketch as a native
    aggregate. The sketch tracks up to `maxItemsTracked` items
    exactly and only degrades past that — so with k >= the column's
    distinct count the result IS the exact frequency table, which is
    the regime this key pins against the oracle (the sketch's
    in-bound behavior is the contract; heavy_hitters_mg covers the
    bounded-memory out-of-bound regime with its own exact verify).
    Tie order among equal counts is sketch-internal, so the output is
    exploded to rows and compared as an unordered set — the
    deterministic content, not the nondeterministic ordering, is what
    parity checks."""
    o = t(spark, sf, "orders")
    res = o.agg(F.expr(
        "approx_top_k(o_orderpriority, 10)").alias("tk"))
    return (res.select(F.explode("tk").alias("e"))
            .select(F.col("e.item").alias("item"),
                    F.col("e.count").cast("bigint").alias("cnt")))


@q("sink_jsonl_roundtrip", """
SELECT doc_id, md5(text) AS text_md5, lang, CAST(n_chars AS BIGINT) AS n_chars
FROM documents WHERE text IS NOT NULL
""")
def sink_jsonl_roundtrip(spark, sf):
    """JSONL SINK + SOURCE ROUND-TRIP — the exchange format every LLM
    data pipeline exports to and ingests from. The full documents
    table is written as JSON-lines through the real writer (one JSON
    object per line, UTF-8), read back SCHEMA-ON-READ with an explicit
    DDL schema (never inferSchema in production — a second full scan
    and type drift), and every row is fingerprinted (md5 of the text
    payload) against the ORIGINAL parquet via the oracle — so any
    loss in JSON string escaping (quotes, backslashes, control
    chars, non-BMP unicode) or numeric round-trip breaks string-exact
    parity row by row, not just in an aggregate.

    Scale notes: write and read are both embarrassingly parallel
    (line-splittable format); the only cross-engine hazard is
    encoding, which is exactly what the per-row md5 pins. Scratch
    path is keyed by the sf dir so driver (sf0.01) and test (sf0.001)
    runs never collide."""
    tag = sf.rstrip("/").rsplit("/", 1)[-1]
    path = f"/tmp/ocrflow_jsonl_{tag}"
    d = (t(spark, sf, "documents").filter(F.col("text").isNotNull())
         .select("doc_id", "text", "lang", "n_chars"))
    d.write.mode("overwrite").json(path)
    back = spark.read.schema(
        "doc_id long, text string, lang string, n_chars long").json(path)
    return back.select("doc_id", F.md5("text").alias("text_md5"),
                       "lang", F.col("n_chars").cast("bigint"))


@q("source_csv_text_roundtrip", """
SELECT doc_id, md5(text) AS text_md5, CAST(n_chars AS BIGINT) AS n_chars
FROM documents WHERE text IS NOT NULL
""")
def source_csv_text_roundtrip(spark, sf):
    """CSV TEXT-PAYLOAD ROUND-TRIP with explicit dialect options
    (header, QUOTE_ALL quoting, escape, multiLine read) — the
    free-text companion to source_csv_roundtrip (which proves the
    schema/FAILFAST discipline on integer columns):
    the documents table — free text with commas, quotes, whatever the
    corpus carries — goes through the real CSV writer and comes back
    schema-on-read; per-row md5 of the text against the original
    parquet (oracle side) proves the dialect round-trips the payload
    byte-for-byte. quoteAll forces quoting so embedded delimiters
    never ambiguate; multiLine on the read side tolerates quoted
    newlines (none in this corpus, but the option is the production
    default for text payloads and must not corrupt clean rows).

    Scale notes: CSV with multiLine sacrifices line-splittability
    (quoted newlines make split points content-dependent) — the read
    parallelizes per FILE, so the writer's file count becomes the
    read parallelism; that is the documented trade and why JSONL
    (sink_jsonl_roundtrip) is the preferred exchange format."""
    tag = sf.rstrip("/").rsplit("/", 1)[-1]
    path = f"/tmp/ocrflow_csv_{tag}"
    d = (t(spark, sf, "documents").filter(F.col("text").isNotNull())
         .select("doc_id", "text", "n_chars"))
    (d.write.mode("overwrite")
     .options(header=True, quoteAll=True, escape='"')
     .csv(path))
    back = (spark.read
            .options(header=True, multiLine=True, escape='"')
            .schema("doc_id long, text string, n_chars long").csv(path))
    return back.select("doc_id", F.md5("text").alias("text_md5"),
                       F.col("n_chars").cast("bigint"))


@q("ps_api_groupby", """
SELECT lang,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       CAST(max(n_chars) AS BIGINT) AS max_chars
FROM documents WHERE text IS NOT NULL
GROUP BY lang
""")
def ps_api_groupby(spark, sf):
    """PANDAS API ON SPARK (pyspark.pandas): the drop-in pandas
    surface executing distributed — a groupby/agg written exactly as
    pandas users write it, compiled to the same Catalyst plan the
    DataFrame DSL produces (one hash aggregate, map-side combined).
    The bridge in and out is explicit (DataFrame.pandas_api →
    ps.DataFrame → to_spark), never a driver collect; integer
    aggregates keep the oracle exact. The point externally verified
    is the API bridge itself — a pandas-literate user gets correct
    distributed results without learning the DSL. Index semantics are
    the known cost of this surface (ps attaches a distributed default
    index when one is needed); this op never materializes one —
    groupby(as_index=False) keeps the key a column."""
    import pyspark.pandas as ps  # noqa: F401

    d = (t(spark, sf, "documents")
         .filter(F.col("text").isNotNull())
         .select("lang", "n_chars"))
    pdf = d.pandas_api()
    out = (pdf.groupby("lang", as_index=False)
           .agg(n_docs=("n_chars", "count"),
                total_chars=("n_chars", "sum"),
                max_chars=("n_chars", "max")))
    return (out.to_spark()
            .select("lang",
                    F.col("n_docs").cast("bigint"),
                    F.col("total_chars").cast("bigint"),
                    F.col("max_chars").cast("bigint")))


@q("dq_stat_drift_psi", """
WITH lab AS (
  SELECT CAST(least(greatest(floor(o_totalprice / 60000.0), 0), 9)
              AS INTEGER) AS bin,
         CASE WHEN o_orderdate < DATE '1996-01-01'
              THEN 'base' ELSE 'cur' END AS era
  FROM orders
), tot AS (
  SELECT count(*) FILTER (era = 'base') AS nb,
         count(*) FILTER (era = 'cur') AS nc
  FROM lab
), c AS (
  SELECT bin,
         count(*) FILTER (era = 'base') AS n_base,
         count(*) FILTER (era = 'cur') AS n_cur
  FROM lab GROUP BY bin
)
SELECT bin,
       ROUND((n_base + 1.0) / (nb + 10.0), 6) AS share_base,
       ROUND((n_cur + 1.0) / (nc + 10.0), 6) AS share_cur,
       ROUND(((n_cur + 1.0) / (nc + 10.0) - (n_base + 1.0) / (nb + 10.0))
             * ln(((n_cur + 1.0) / (nc + 10.0))
                  / ((n_base + 1.0) / (nb + 10.0))), 8) AS psi_term
FROM c, tot
""")
def dq_stat_drift_psi(spark, sf):
    """Column-distribution DRIFT between a baseline and a current data
    era — the Population Stability Index every production table
    monitor computes before letting a new batch into training. Orders
    before 1996 are the baseline era, the rest current; o_totalprice
    is bucketed into 10 fixed-width bins (deterministic floor/clamp —
    no engine-specific histogram), per-era shares are LAPLACE-SMOOTHED
    ((n+1)/(N+bins)) so empty bins never produce ln(0), and each bin
    reports its PSI term (p_cur − p_base)·ln(p_cur/p_base); the
    monitor's alert threshold (Σ terms > 0.2) is one sum away. The
    share and PSI expressions are written with the SAME operation
    order on both engines for fp parity.

    At 100 TB: one pass over the fact (conditional counts ride a
    single 10-group aggregate — partial map-side combine makes the
    shuffle 10 rows per partition), era totals broadcast. Bin edges
    are FIXED, not data-derived, so the job needs no quantile pre-pass
    and incremental eras can be compared without recomputing history."""
    o = t(spark, sf, "orders")
    bin_ = F.least(F.greatest(F.floor(F.col("o_totalprice") / 60000.0),
                              F.lit(0)), F.lit(9)).cast("int")
    era = F.when(F.col("o_orderdate") < "1996-01-01", "base").otherwise("cur")
    lab = o.select(bin_.alias("bin"), era.alias("era"))
    tot = lab.agg(
        F.count_if(F.col("era") == "base").alias("nb"),
        F.count_if(F.col("era") == "cur").alias("nc"))
    c = (lab.groupBy("bin")
         .agg(F.count_if(F.col("era") == "base").alias("n_base"),
              F.count_if(F.col("era") == "cur").alias("n_cur")))
    j = c.crossJoin(F.broadcast(tot))
    p_base = (F.col("n_base") + 1.0) / (F.col("nb") + 10.0)
    p_cur = (F.col("n_cur") + 1.0) / (F.col("nc") + 10.0)
    return j.select(
        "bin",
        F.round(p_base, 6).alias("share_base"),
        F.round(p_cur, 6).alias("share_cur"),
        F.round((p_cur - p_base) * F.log(p_cur / p_base), 8)
        .alias("psi_term"))


@q("k_anonymity_check", """
WITH g AS (
  SELECT c_nationkey, c_mktsegment, CAST(count(*) AS BIGINT) AS n
  FROM customer GROUP BY c_nationkey, c_mktsegment
)
SELECT CAST(count(*) AS BIGINT) AS n_groups,
       CAST(count(*) FILTER (n < 5) AS BIGINT) AS n_risky_groups,
       CAST(COALESCE(sum(n) FILTER (n < 5), 0) AS BIGINT) AS n_risky_rows,
       CAST(min(n) AS BIGINT) AS min_group_size
FROM g
""")
def k_anonymity_check(spark, sf):
    """k-ANONYMITY audit over a quasi-identifier tuple — the privacy
    gate a dataset passes before release: any (nationkey, mktsegment)
    combination shared by fewer than k = 5 customers is a
    re-identification risk, and the summary reports how many groups
    and rows sit below the bar plus the worst group size. Pairs with
    pii_pseudonymize (which REMOVES direct identifiers; this measures
    the residual risk from the quasi-identifiers that remain).

    At 100 TB: one exchange on the QI tuple with full partial
    aggregation, then a single-row global summary — the audit costs
    one groupBy regardless of table width, and generalization loops
    (coarsen a QI column, re-check) just re-run it on a view."""
    g = (t(spark, sf, "customer")
         .groupBy("c_nationkey", "c_mktsegment")
         .agg(F.count("*").cast("bigint").alias("n")))
    risky = F.col("n") < 5
    return g.agg(
        F.count("*").cast("bigint").alias("n_groups"),
        F.count_if(risky).cast("bigint").alias("n_risky_groups"),
        F.coalesce(F.sum(F.when(risky, F.col("n"))), F.lit(0))
        .cast("bigint").alias("n_risky_rows"),
        F.min("n").cast("bigint").alias("min_group_size"))


# =========================================================================
# Entity-resolution blocking, drift monitoring, freshness, JL projection
# (round-4 session-8 additions)
# =========================================================================

#: global_rank's column of ones. _pps_local runs its running count as
#: row_number(): a running sum of the ones made feat_quantile_normalize
#: ~10% slower at sf0.1 on local[4] (median of 5 rounds 1.19 vs 1.09 s).
_ONES = "_pps_one"


def global_rank(df, keys, partitions=8):
    """Dense global row_number ``rn`` over `keys` (which must form a
    total order) WITHOUT a single-partition window: 1 + the exclusive
    global prefix count of a column of ones (global_prefix_sums). Shared
    by er_sorted_neighborhood and feat_quantile_normalize."""
    ps = _ONES + "_ps"
    return (global_prefix_sums(df.withColumn(_ONES, F.lit(1)), keys,
                               [_ONES], partitions)
            .withColumn("rn", (F.col(ps) + 1).cast("long"))
            .drop(_ONES, ps))


def _pps_local(df, keys, cols, partitions):
    """The pre-checkpoint frame of global_prefix_sums: a deterministic
    bucket id ``_pps_pid`` and, per bucket, the exclusive running sum
    ``_pps_l_{c}`` of each col in `keys` order (one hash exchange on
    _pps_pid, never a single-partition window, no sampled range
    exchange).

    The bucket id is width_bucket over the broadcast min/max of a
    monotone surrogate of the LEADING key, so it is a pure function of
    the row: the offsets branch and the join branch can never disagree,
    whatever re-executes. The surrogate need only be monotone
    NON-strict in the key's sort order (collisions cost bucket balance,
    never correctness, because the running sums order by the full key
    tuple): numerics and timestamps cast to double; dates become days
    since the epoch; strings encode their first codepoint (clamped at
    U+D800, so the map stays monotone however the engine represents
    supplementary characters) and their second (clamped to 128). UTF-8
    binary order equals codepoint order, so CJK leads spread over the
    buckets instead of collapsing into one
    (test_global_rank_cjk_buckets_spread_and_rank). A NULL lead takes
    bucket 0, matching Spark's ASC NULLS FIRST."""
    keys = [keys] if isinstance(keys, str) else list(keys)
    c = F.col(keys[0])
    dt = df.schema[keys[0]].dataType.simpleString()
    if dt == "string":
        c1 = F.least(F.ascii(c).cast("double"), F.lit(55296.0))
        c2 = F.least(F.ascii(F.substring(c, 2, 1)).cast("double"),
                     F.lit(128.0))
        sur = (F.when(c.isNull(), F.lit(None).cast("double"))
               .otherwise(c1 * 2048.0 + F.coalesce(c2, F.lit(0.0))))
    elif dt == "date":
        sur = F.datediff(c, F.lit("1970-01-01").cast("date")).cast("double")
    else:
        sur = c.cast("double")
    mm = df.agg(F.min(sur).alias("_pps_lo"), F.max(sur).alias("_pps_hi"))
    local = (df.crossJoin(F.broadcast(mm))
             .withColumn(
                 "_pps_pid",
                 F.when(c.isNull(), F.lit(0))
                 .when(F.col("_pps_hi") <= F.col("_pps_lo"), F.lit(1))
                 .otherwise(F.least(
                     F.width_bucket(sur, F.col("_pps_lo"), F.col("_pps_hi"),
                                    F.lit(partitions)),
                     F.lit(partitions))))
             .drop("_pps_lo", "_pps_hi"))
    wloc = W.partitionBy("_pps_pid").orderBy(*keys)
    for col in cols:
        # under a total order the running count of ones is row_number()
        run = F.row_number() if col == _ONES else F.sum(col)
        local = local.withColumn(f"_pps_l_{col}",
                                 run.over(wloc) - F.col(col))
    return local


def global_prefix_sums(df, keys, cols, partitions=8):
    """EXCLUSIVE global prefix sums of `cols` in `keys` order (a total
    order; one column name or a list) WITHOUT a single-partition window
    — the two-phase trick: per-bucket local running sums (_pps_local),
    then per-bucket totals (|P| rows, driver-cheap at any scale) turned
    into exclusive offsets and broadcast back. Adds one column
    ``{c}_ps`` per input col. Shared by global_rank and the rank/ECDF
    statistics (stat_ks_two_sample, stat_mannwhitney_u, eval_auc_roc,
    stat_spearman_rho).

    The offsets come from a bucket id that is a pure function of the
    key, NOT spark_partition_id() after a repartitionByRange: range
    boundaries are SAMPLED, so the offsets branch and the join branch
    agreed only when ReuseExchange happened to fire (not guaranteed
    under AQE). Equi-width buckets trade balance for determinism."""
    # the running-sum frame feeds both the totals aggregate and the
    # final join: checkpoint it once instead of re-scanning and
    # re-windowing per consumer (round-6 plan audit: er_sorted_
    # neighborhood paid 8 input scans / 12 exchanges without it). The
    # pre-checkpoint plan shape is pinned through _pps_local by
    # test_ks_prefix_sum_bucket_partitioned and
    # test_snm_global_rank_has_no_single_partition_window.
    local = _pps_local(df, keys, cols, partitions).localCheckpoint(
        eager=False)
    woff = (W.orderBy("_pps_pid")
            .rowsBetween(W.unboundedPreceding, -1))
    offs = local.groupBy("_pps_pid").agg(
        *[F.sum(c).alias(f"_pps_t_{c}") for c in cols])
    for c in cols:
        offs = offs.withColumn(
            f"_pps_o_{c}",
            F.coalesce(F.sum(f"_pps_t_{c}").over(woff), F.lit(0)))
    offs = offs.select("_pps_pid", *[f"_pps_o_{c}" for c in cols])
    out = local.join(F.broadcast(offs), "_pps_pid")
    for c in cols:
        out = (out.withColumn(c + "_ps",
                              F.col(f"_pps_l_{c}") + F.col(f"_pps_o_{c}"))
               .drop(f"_pps_l_{c}", f"_pps_o_{c}"))
    return out.drop("_pps_pid")


#: er_sorted_neighborhood's window: each record pairs with its 3
#: successors (the oracle's ``b.rn <= a.rn + 3``).
SNM_WINDOW = 4


@q("er_sorted_neighborhood", """
WITH r AS (
  SELECT doc_id, lang, n_chars,
         row_number() OVER (ORDER BY lang, n_chars, doc_id) AS rn
  FROM documents
  WHERE lang IS NOT NULL AND n_chars IS NOT NULL
)
SELECT a.doc_id AS a_id, b.doc_id AS b_id,
       CAST(b.rn - a.rn AS INTEGER) AS gap,
       CAST(b.n_chars - a.n_chars AS BIGINT) AS len_delta
FROM r a JOIN r b ON b.rn > a.rn AND b.rn <= a.rn + 3
WHERE a.lang = b.lang AND abs(a.n_chars - b.n_chars) <= 2
""")
def er_sorted_neighborhood(spark, sf, partitions=8):
    """Sorted-neighborhood blocking — the third classic
    candidate-generation method for entity resolution / near-dup,
    alongside the LSH scanners (dedup_minhash_lsh) and grid bucketing
    (join_spatial_grid): sort the corpus once on a blocking key
    (lang, n_chars, doc_id), then pair each record only with its
    w-1 successors in the global sort order (w = SNM_WINDOW), so
    candidates are O(n*w) instead of O(n^2) and a record can match
    across block boundaries (the weakness of hard blocking that SNM
    exists to fix).

    The global rank comes from global_rank(), WITHOUT a
    single-partition window — the scale trap of the naive
    row_number(). Pairing is an equi-join on rank+gap (explode of gaps
    1..w-1 on the left), which shuffles balanced 64-bit keys —
    boundary pairs between buckets fall out of the join for free, no
    partition-edge replication logic needed. At 100 TB: one bucket
    exchange + one rank equi-join, output bounded by n*(w-1). Rows
    with a NULL blocking key are filtered up front on BOTH engines:
    Spark ranks NULLS FIRST, DuckDB's row_number NULLS LAST, so
    keeping them would shift every subsequent rank."""
    d = (t(spark, sf, "documents")
         .filter(F.col("lang").isNotNull() & F.col("n_chars").isNotNull())
         .select("doc_id", "lang", "n_chars"))
    keys = ["lang", "n_chars", "doc_id"]
    ranked = global_rank(d, keys, partitions=partitions)
    a = ranked.select(
        F.col("doc_id").alias("a_id"), F.col("lang").alias("a_lang"),
        F.col("n_chars").alias("a_len"), "rn",
        F.explode(F.sequence(F.lit(1), F.lit(SNM_WINDOW - 1))).alias("gap"))
    b = ranked.select(
        F.col("doc_id").alias("b_id"), F.col("lang").alias("b_lang"),
        F.col("n_chars").alias("b_len"),
        F.col("rn").alias("b_rn"))
    return (a.join(b, (F.col("rn") + F.col("gap")) == F.col("b_rn"))
            .filter((F.col("a_lang") == F.col("b_lang"))
                    & (F.abs(F.col("a_len") - F.col("b_len")) <= 2))
            .select("a_id", "b_id", F.col("gap").cast("int").alias("gap"),
                    (F.col("b_len") - F.col("a_len")).cast("long")
                    .alias("len_delta")))


@q("ts_cusum_drift", """
WITH d AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
), s AS (
  SELECT event_type, day, x,
         avg(x) OVER (PARTITION BY event_type) AS mu,
         stddev_samp(x) OVER (PARTITION BY event_type) AS sd
  FROM d
), y AS (
  SELECT event_type, day, x, sd,
         sum(x - mu - 0.25 * sd)
             OVER (PARTITION BY event_type ORDER BY day) AS yt
  FROM s
), c AS (
  SELECT event_type, day, x, sd,
         yt - least(0.0, min(yt)
             OVER (PARTITION BY event_type ORDER BY day)) AS s_pos
  FROM y
)
SELECT event_type, day, x,
       ROUND(s_pos, 6) AS cusum_pos,
       (ROUND(s_pos, 6) > ROUND(3.0 * sd, 6)) AS breach
FROM c
""")
def ts_cusum_drift(spark, sf):
    """One-sided CUSUM drift detector over daily event volume — the
    sequential change-point monitor (Page 1954) that flags a sustained
    upward shift long before a fixed-threshold alert would: S_t =
    max(0, S_{t-1} + (x_t - mu - k)) with slack k = 0.25*sd and decision
    bound h = 3*sd. The recursion is NOT a window primitive in either
    engine, but it has the classic closed form S_t = Y_t - min(0,
    min_{j<=t} Y_j) with Y the running sum of (x - mu - k) — so the
    whole detector is two stacked running windows (sum, then min) over
    the daily rollup. Inputs stay EXACT (daily counts are ints; mu, sd
    derive from exact integer sums) and the running sums evaluate in
    the same day order on both engines, so the floats agree to the ULP;
    the breach flag compares the 6-dp-rounded values so it cannot flip
    on representation noise.

    At 100 TB: the fact collapses to |types|x|days| rows in one
    map-side-combinable aggregate; every window after that runs over
    the tiny rollup, partitioned by event_type — per-key state is the
    day axis, never the raw events."""
    e = t(spark, sf, "events")
    d = (e.groupBy("event_type",
                   F.to_date(F.date_trunc("day", "ts")).alias("day"))
         .agg(F.count("*").cast("bigint").alias("x")))
    wp = W.partitionBy("event_type")
    wo = wp.orderBy("day")
    s = (d.withColumn("mu", F.avg("x").over(wp))
         .withColumn("sd", F.stddev_samp("x").over(wp)))
    y = s.withColumn(
        "yt", F.sum(F.col("x") - F.col("mu") - 0.25 * F.col("sd")).over(wo))
    c = y.withColumn(
        "s_pos", F.col("yt") - F.least(F.lit(0.0), F.min("yt").over(wo)))
    return c.select(
        "event_type", "day", "x",
        F.round("s_pos", 6).alias("cusum_pos"),
        (F.round("s_pos", 6) > F.round(3.0 * F.col("sd"), 6))
        .alias("breach"))


@q("dq_freshness_sla", """
WITH g AS (
  SELECT event_type, max(ts) AS last_ts, CAST(count(*) AS BIGINT) AS n_events
  FROM events GROUP BY event_type
), m AS (SELECT max(ts) AS now_ts FROM events)
SELECT event_type, last_ts, n_events,
       CAST(floor((epoch_us(now_ts) - epoch_us(last_ts)) / 3600000000.0)
            AS BIGINT) AS lag_hours,
       ((epoch_us(now_ts) - epoch_us(last_ts)) > 172800000000) AS is_stale
FROM g, m
""")
def dq_freshness_sla(spark, sf):
    """Per-source freshness SLA audit — the data-ops check that gates a
    downstream training run: for each event_type, when did data last
    arrive, how far behind the most recent watermark is it, and does
    the lag breach the 48 h SLA. 'Now' is the table's own max ts so the
    check is deterministic and replayable (wall-clock now would make
    the oracle unverifiable). Lag arithmetic is exact integer epoch
    seconds, so the flag cannot flip on float noise.

    At 100 TB: one map-side-combinable max/count per source riding a
    single |sources|-row exchange, plus a broadcast of the 1-row global
    watermark — the audit costs one scan regardless of row count, and
    on an icelite table the scan can read just the manifest's per-file
    ts max/min instead (scan_metadata_columns shows that seam)."""
    e = t(spark, sf, "events")
    g = (e.groupBy("event_type")
         .agg(F.max("ts").alias("last_ts"),
              F.count("*").cast("bigint").alias("n_events")))
    m = e.agg(F.max("ts").alias("now_ts"))
    # integer MICROS on both engines (unix_micros / epoch_us) — the
    # epoch parity trap in the verify notes: unix_timestamp truncates
    # seconds and per-value epoch() doubles can disagree in the last
    # ULP; exact int64 lag makes floor/compare engine-identical.
    lag_us = (F.unix_micros(F.col("now_ts").cast("timestamp"))
              - F.unix_micros(F.col("last_ts").cast("timestamp")))
    return (g.crossJoin(F.broadcast(m))
            .select("event_type", "last_ts", "n_events",
                    F.floor(lag_us / 3600000000.0).cast("bigint")
                    .alias("lag_hours"),
                    (lag_us > 172800000000).alias("is_stale")))


@q("emb_jl_projection", """
SELECT vec_id, j,
       ROUND(list_sum(list_transform(embedding, (x, i) ->
           CAST(x AS DOUBLE) *
           (CASE WHEN substr(md5(CAST(i AS VARCHAR) || ':' ||
                             CAST(j AS VARCHAR)), 1, 1) < '8'
                 THEN 1.0 ELSE -1.0 END))) / 2.0, 6) AS p
FROM embeddings
CROSS JOIN (SELECT unnest([1, 2, 3, 4]) AS j)
""")
def emb_jl_projection(spark, sf, k=4):
    """Johnson-Lindenstrauss random projection of the embedding column
    to k dimensions with a seed-free DETERMINISTIC Rademacher matrix:
    sign(i,j) = +1 iff the first hex nibble of md5('i:j') < 8, so both
    engines (and any future engine) materialize the identical +-1
    matrix without sharing state. Output p_j = sum_i x_i*s(i,j) /
    sqrt(k) preserves pairwise distances in expectation — the
    dimensionality-reduction front end for the ANN family
    (ann_bruteforce_cosine et al.) when 100x-dim embeddings make even
    the bucketed scanners memory-bound. Dim index i is 1-BASED on both
    sides (DuckDB lambda ordinality; explicit 1-based sequence in
    Spark); the fold is left-to-right sequential in both engines
    (emb_norm_stats precedent), so pre-round floats agree to the ULP.

    At 100 TB: pure narrow JVM expression work — zero shuffles, zero
    Python; k*dim multiply-adds per row inside whole-stage codegen.
    The long (vec_id, j, p) shape keeps the oracle array-free.

    Round-6 rewrite (guide §1.2 "per-task work"): the sign matrix is
    DATA-INDEPENDENT — s(i,j) depends only on (i,j) — so it is now
    precomputed driver-side with hashlib.md5 (bit-identical to Spark's
    md5 on these ascii strings, property-tested) up to the corpus max
    dim (one tiny agg job, |rows|-independent result size), and the
    per-row fold becomes a zip_with over a LITERAL ±1 array instead of
    k·dim interpreted md5(concat(...)) calls per row. Fold order and
    the x·(±1.0) multiplies are unchanged, so pre-round doubles are
    bit-identical to the md5-per-element form (equivalence hashes in
    BENCH/r06_notes.md). Measured 4.9 s → sub-second at sf1.0 together
    with the scan-parallelism guard (one-row-group input file)."""
    import hashlib

    em = widen(spark, t(spark, sf, "embeddings"))
    max_dim = int(t(spark, sf, "embeddings")
                  .agg(F.max(F.size("embedding"))).first()[0] or 0)
    signs = [[1.0 if hashlib.md5(f"{i}:{j}".encode()).hexdigest()[0] < "8"
              else -1.0 for i in range(1, max_dim + 1)]
             for j in range(1, k + 1)]

    def p_j(j0):
        row = F.array(*[F.lit(s) for s in signs[j0]])
        fold = F.aggregate(
            F.zip_with("embedding",
                       F.slice(row, F.lit(1), F.size("embedding")),
                       lambda x, s: x.cast("double") * s),
            F.lit(0.0), lambda acc, v: acc + v)
        # empty-array rows: the old sequence(1, 0) form degenerated to
        # a [1, 0] index list whose null-padded zip made the fold NULL;
        # reproduce that exactly
        return F.when(F.size("embedding") == 0,
                      F.lit(None).cast("double")) \
                .otherwise(F.round(fold / 2.0, 6))

    proj = F.array(*[p_j(j0) for j0 in range(k)])
    return em.select(
        "vec_id",
        F.posexplode(proj).alias("j0", "p")
    ).select("vec_id", (F.col("j0") + 1).cast("int").alias("j"), "p")


@q("l_diversity_check", """
WITH g AS (
  SELECT c_nationkey, c_mktsegment,
         CAST(count(*) AS BIGINT) AS n,
         CAST(count(DISTINCT CAST(floor(c_acctbal / 2000.0) AS INTEGER))
              AS BIGINT) AS diversity
  FROM customer GROUP BY c_nationkey, c_mktsegment
)
SELECT CAST(count(*) AS BIGINT) AS n_groups,
       CAST(count(*) FILTER (diversity < 3) AS BIGINT) AS n_risky_groups,
       CAST(COALESCE(sum(n) FILTER (diversity < 3), 0) AS BIGINT)
           AS n_risky_rows,
       CAST(min(diversity) AS BIGINT) AS min_diversity
FROM g
""")
def l_diversity_check(spark, sf):
    """l-DIVERSITY audit — the companion gate to k_anonymity_check:
    a quasi-identifier group can be large (k-anonymous) yet still leak
    if everyone in it shares the same SENSITIVE value, so each
    (nationkey, mktsegment) group must contain at least l = 3 distinct
    sensitive buckets (account-balance band, deterministic floor).
    Reports group counts below the bar, exposed row mass, and the
    worst group's diversity.

    At 100 TB: count(DISTINCT bucket) per group is a two-level
    aggregate — Spark expands to a (QI, bucket) pre-aggregation then
    re-aggregates, both map-side combinable, so the exchange carries
    one row per distinct (QI, bucket), never raw rows. Same shape as
    the k-anonymity pass; the two audits share a scan when run
    together."""
    g = (t(spark, sf, "customer")
         .groupBy("c_nationkey", "c_mktsegment")
         .agg(F.count("*").cast("bigint").alias("n"),
              F.countDistinct(
                  F.floor(F.col("c_acctbal") / 2000.0).cast("int"))
              .cast("bigint").alias("diversity")))
    risky = F.col("diversity") < 3
    return g.agg(
        F.count("*").cast("bigint").alias("n_groups"),
        F.count_if(risky).cast("bigint").alias("n_risky_groups"),
        F.coalesce(F.sum(F.when(risky, F.col("n"))), F.lit(0))
        .cast("bigint").alias("n_risky_rows"),
        F.min("diversity").cast("bigint").alias("min_diversity"))


# =========================================================================
# Feature engineering (training-data prep: encodings + normalization)
# =========================================================================

@q("feat_target_encode", """
WITH g AS (
  SELECT c_mktsegment,
         CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents,
         CAST(count(*) AS BIGINT) AS n
  FROM customer GROUP BY c_mktsegment
), prior AS (
  SELECT CAST(sum(sum_cents) AS BIGINT) AS tot_cents,
         CAST(sum(n) AS BIGINT) AS tot_n
  FROM g
)
SELECT c.c_custkey, c.c_mktsegment,
       ROUND(((g.sum_cents - CAST(round(c.c_acctbal * 100) AS BIGINT))
              / 100.0
              + 20.0 * (prior.tot_cents / 100.0 / prior.tot_n))
             / (g.n - 1 + 20.0), 6) + 0.0 AS te_loo
FROM customer c
JOIN g ON c.c_mktsegment = g.c_mktsegment
CROSS JOIN prior
""")
def feat_target_encode(spark, sf):
    """Leave-one-out target encoding with additive smoothing — the
    classic high-cardinality categorical encoder for tabular training
    data: each row's category value becomes (group target sum MINUS
    the row's own target + m * global prior) / (group n - 1 + m),
    m = 20. LOO removes self-leakage; smoothing shrinks rare
    categories toward the prior. All sums run over EXACT integer
    cents (round(target*100) as int64) so the group and global
    aggregates are order-independent on both engines — the standard
    trick for float-exact encodings — with division back to dollars
    only in the final expression.

    At 100 TB: one map-side-combinable aggregate per category (the
    encoder table is |categories| rows), broadcast back to the fact —
    the encode join never shuffles the fact. Train/serve skew-free:
    the same encoder table serializes as a tiny artifact."""
    c = t(spark, sf, "customer")
    cents = F.round(F.col("c_acctbal") * 100).cast("bigint")
    g = (c.groupBy("c_mktsegment")
         .agg(F.sum(cents).cast("bigint").alias("sum_cents"),
              F.count("*").cast("bigint").alias("n")))
    prior = g.agg(F.sum("sum_cents").cast("bigint").alias("tot_cents"),
                  F.sum("n").cast("bigint").alias("tot_n"))
    te = (((F.col("sum_cents") - cents) / 100.0
           + 20.0 * (F.col("tot_cents") / 100.0 / F.col("tot_n")))
          / (F.col("n") - 1 + 20.0))
    return (c.join(F.broadcast(g), "c_mktsegment")
            .crossJoin(F.broadcast(prior))
            .select("c_custkey", "c_mktsegment",
                    (F.round(te, 6) + 0.0).alias("te_loo")))


@q("feat_quantile_normalize", """
SELECT o_orderkey,
       ROUND(percent_rank() OVER (ORDER BY o_totalprice, o_orderkey), 8)
           + 0.0 AS qnorm
FROM orders
WHERE o_orderdate >= DATE '1997-01-01'
""")
def feat_quantile_normalize(spark, sf):
    """Quantile (rank-uniform) normalization of a skewed numeric
    feature: map each value to its percent rank so any downstream
    model sees a uniform [0,1] marginal regardless of the raw
    distribution — the robust alternative to z-scoring when heavy
    tails would let outliers set the scale. Ties broken by the unique
    key so both engines rank identically; percent_rank = (rank-1)/
    (n-1) is exact integer arithmetic divided once.

    Built on the shared global_rank() helper (width_bucket buckets +
    per-bucket row_number + broadcast offsets), NOT a naive
    Window.orderBy percent_rank — so the fact never funnels through a
    single partition at any scale; n arrives by broadcast and
    percent_rank's (rank-1)/(n-1) is computed explicitly."""
    o = (t(spark, sf, "orders")
         .filter(F.col("o_orderdate") >= "1997-01-01")
         .select("o_orderkey", "o_totalprice"))
    ranked = global_rank(o, ["o_totalprice", "o_orderkey"])
    n = ranked.agg(F.count("*").alias("_n"))
    return (ranked.crossJoin(F.broadcast(n))
            .select("o_orderkey",
                    (F.round((F.col("rn") - 1)
                             / (F.col("_n") - 1).cast("double"), 8) + 0.0)
                    .alias("qnorm")))


@q("feat_onehot_topk", """
WITH topk AS (
  SELECT o_orderpriority FROM (
    SELECT o_orderpriority, count(*) AS cnt
    FROM orders GROUP BY o_orderpriority
    ORDER BY cnt DESC, o_orderpriority LIMIT 3
  )
)
SELECT o_orderkey,
       CAST(CASE WHEN o_orderpriority = ANY(SELECT * FROM topk)
                 THEN o_orderpriority ELSE '__other__' END AS VARCHAR)
           AS category,
       CAST(1 AS INTEGER) AS ind
FROM orders
""")
def feat_onehot_topk(spark, sf, k=3):
    """Top-k one-hot encoding with an __other__ bucket — the
    cardinality-bounded categorical expansion (keep the k most
    frequent levels, collapse the tail) that keeps feature width
    fixed no matter how dirty the column gets. Emitted in long
    (key, category, 1) form: the pivot to wide columns is a metadata
    operation once the level set is bounded, and long form feeds
    sparse trainers directly. Deterministic tie-break on (count DESC,
    value) so both engines pick the same top-k.

    At 100 TB: the level census is one tiny combinable aggregate;
    the encode itself is a broadcast LEFT JOIN of the k-row level set
    against the fact (hit → keep the level, miss → '__other__') —
    zero fact shuffles, same shape as feat_target_encode. The level
    set stays INSIDE the plan as a DataFrame (no .collect() at
    plan-construction time, the round-5 ADVICE fix): the returned
    plan is lazy like every sibling key and re-derives the levels
    from the table's state at execution, never a frozen snapshot."""
    o = t(spark, sf, "orders")
    topk = (o.groupBy("o_orderpriority").count()
            .orderBy(F.desc("count"), "o_orderpriority")
            .limit(k)
            .select(F.col("o_orderpriority").alias("_tk")))
    return (o.join(F.broadcast(topk),
                   o["o_orderpriority"] == topk["_tk"], "left")
            .select("o_orderkey",
                    F.coalesce(F.col("_tk"), F.lit("__other__"))
                    .alias("category"),
                    F.lit(1).cast("int").alias("ind")))


@q("udf_arrow_optimized", """
SELECT doc_id,
       CAST(length(text) % 97 AS BIGINT) AS bucket97
FROM documents WHERE text IS NOT NULL
""")
def udf_arrow_optimized(spark, sf):
    """The PySpark 4 ARROW-OPTIMIZED Python UDF (useArrow=True) — the
    remaining face of the UDF zoo: a plain python function (scalar
    in/out, no pandas in the signature) whose serialization rides
    Arrow batches instead of pickled rows, closing most of the
    classic row-at-a-time gap while keeping the trivial authoring
    model. Still per-VALUE python under the hood, so the zoo's
    ranking stands: built-ins > pandas_udf (vectorized) >
    arrow-optimized udf > pickled udf; this key exists so the choice
    is measured, not folklore. The body is SQL-expressible on purpose
    (exact integer arithmetic) to oracle the serialization path
    itself."""
    @F.udf(T.LongType(), useArrow=True)
    def bucket97(text: str) -> int:
        return len(text) % 97

    d = t(spark, sf, "documents").filter(F.col("text").isNotNull())
    return d.select("doc_id", bucket97("text").alias("bucket97"))


# ---------------------------------------------------------------------------
# Full-text retrieval (BM25 ranking + positional phrase match)
# ---------------------------------------------------------------------------

_BM25_TERMS = ("spark", "vector", "merge")   # fixed query, k1=1.2, b=0.75


@q("search_bm25_topk", """
WITH d AS (SELECT doc_id, text FROM documents
           WHERE text IS NOT NULL AND length(trim(text)) > 0),
tok AS (SELECT doc_id, unnest(
          regexp_split_to_array(lower(trim(text)), '\\s+')) AS term FROM d),
tk AS (SELECT doc_id, term FROM tok
       WHERE regexp_matches(term, '^[a-z]{3,}$')),
dl AS (SELECT doc_id, count(*) AS dl FROM tk GROUP BY doc_id),
st AS (SELECT CAST(sum(dl) AS DOUBLE) AS sdl, count(*) AS n_docs FROM dl),
tf AS (SELECT doc_id, term, count(*) AS tf FROM tk
       WHERE term IN ('spark', 'vector', 'merge') GROUP BY doc_id, term),
dft AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
sc AS (
  SELECT f.doc_id,
         CAST(ROUND(ln(1 + (st.n_docs - d2.df + 0.5) / (d2.df + 0.5))
              * (f.tf * 2.2)
              / (f.tf + 1.2 * (1 - 0.75 + 0.75 * l.dl / (st.sdl / st.n_docs)))
              * 1000000, 0) AS BIGINT) AS ci
  FROM tf f JOIN dft d2 USING (term) JOIN dl l USING (doc_id) CROSS JOIN st)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
       ROUND(sum(ci) / 1000000.0, 4) AS score
FROM sc GROUP BY doc_id
ORDER BY score DESC, doc_id LIMIT 10
""")
def search_bm25_topk(spark, sf):
    """BM25 top-k retrieval (k1=1.2, b=0.75) for a fixed 3-term query
    over the documents corpus — the lexical-search counterpart to the
    ANN family. Plan shape is the scalable one: tokenize (JVM regexp),
    per-doc length agg, a ONE-ROW corpus-stats aggregate and a
    per-query-term df table (both broadcast), tf filtered to the query
    terms BEFORE any join (postings fanout = docs containing a query
    term, never the full index), and the final top-10 via
    orderBy+limit = TakeOrderedAndProject (per-partition top-k then
    merge — no global sort, no single-partition window).

    Determinism: per-(doc,term) BM25 contributions are pure scalar
    expressions of integers (tf, df, dl, N) and the exact avgdl
    (bigint-sum / count); each is rounded to 6 decimals and cast to
    integer micro-units (ROUND first, then CAST — the Spark-truncates /
    DuckDB-rounds trap), so the per-doc score is an ORDER-INDEPENDENT
    bigint sum. The top-10 cut orders by the same rounded score the
    oracle must match string-exact anyway, doc_id as tiebreak, so the
    selected set is cross-engine deterministic."""
    # Round-6 single-pass rewrite (guide §2.3 "aggregate before you
    # shuffle" / §2.4 "remove shuffles outright"): the old form
    # tokenized the corpus twice (dl branch + tf branch) and paid four
    # aggregation exchanges (dl, st, tf, dft). With a FIXED 3-term
    # query, per-doc tf fits as three conditional counts in the SAME
    # per-doc aggregate as dl, and df/sdl/n_docs all fold into ONE
    # one-row global aggregate over it (broadcast). One tokenize pass,
    # one wide exchange, identical tf/df/dl/N integers feeding the
    # identical contrib expression — scores bit-equal (oracle-pinned).
    d = (widen(spark, t(spark, sf, "documents"))
         .filter(F.col("text").isNotNull() & (F.length(F.trim("text")) > 0)))
    tk = (d.select("doc_id", F.explode(words(lower=True)).alias("term"))
          .filter(F.col("term").rlike("^[a-z]{3,}$")))
    per_doc = tk.groupBy("doc_id").agg(
        F.count("*").alias("dl"),
        *[F.sum(F.when(F.col("term") == w, 1).otherwise(0)).alias(f"tf{i}")
          for i, w in enumerate(_BM25_TERMS)])
    st = per_doc.agg(
        F.sum("dl").cast("double").alias("sdl"),
        F.count("*").alias("n_docs"),
        *[F.sum(F.when(F.col(f"tf{i}") > 0, 1).otherwise(0)).alias(f"df{i}")
          for i in range(len(_BM25_TERMS))])
    tf = (per_doc.select(
              "doc_id", "dl",
              F.explode(F.array(*[
                  F.struct(F.lit(w).alias("term"),
                           F.col(f"tf{i}").alias("tf"),
                           F.lit(i).alias("ti"))
                  for i, w in enumerate(_BM25_TERMS)])).alias("t"))
          .select("doc_id", "dl", F.col("t.tf").alias("tf"),
                  F.col("t.ti").alias("ti"))
          .filter(F.col("tf") > 0))
    avgdl = F.col("sdl") / F.col("n_docs")
    df_of = F.when(F.col("ti") == 0, F.col("df0"))
    for i in range(1, len(_BM25_TERMS)):
        df_of = df_of.when(F.col("ti") == i, F.col(f"df{i}"))
    contrib = (F.log(1 + (F.col("n_docs") - df_of + 0.5)
                     / (df_of + 0.5))
               * (F.col("tf") * 2.2)
               / (F.col("tf") + 1.2 * (1 - 0.75 + 0.75 * F.col("dl") / avgdl)))
    sc = (tf.crossJoin(F.broadcast(st))
          .select("doc_id",
                  F.round(contrib * 1000000, 0).cast("long").alias("ci")))
    return (sc.groupBy("doc_id")
            .agg(F.count("*").cast("bigint").alias("n_terms"),
                 F.round(F.sum("ci") / 1000000.0, 4).alias("score"))
            .orderBy(F.col("score").desc(), "doc_id")
            .limit(10))


@q("search_phrase_match", """
WITH d AS (SELECT doc_id, text FROM documents
           WHERE text IS NOT NULL AND length(trim(text)) > 0),
arrs AS (SELECT doc_id,
                regexp_split_to_array(lower(trim(text)), '\\s+') AS arr
         FROM d),
pos AS (
  SELECT doc_id, unnest(arr) AS term,
         CAST(unnest(generate_series(1, len(arr))) AS BIGINT) AS pos
  FROM arrs),
hits AS (
  SELECT a.doc_id, a.pos
  FROM pos a JOIN pos b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1
  WHERE a.term = 'data' AND b.term = 'line')
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits,
       CAST(min(pos) AS BIGINT) AS first_pos
FROM hits GROUP BY doc_id
""")
def search_phrase_match(spark, sf):
    """Positional-index phrase search: exact-phrase ("data line")
    occurrence count and first position per document via a positional
    postings self-join (term at pos p, next term at p+1) — the
    retrieval op a bag-of-words index cannot answer. posexplode gives
    0-based positions; +1 aligns with the oracle's WITH ORDINALITY.

    Scale shape: positions are generated by ONE explode, each side of
    the adjacency join is filtered to ITS phrase term before the join
    (postings-sized inputs, equi-join on (doc_id, pos) — co-partitioned
    shuffle, no theta join), and the per-doc agg rides the same key.
    An n-term phrase chains n-1 such joins, each filtered to one
    term's postings — fanout bounded by term frequency, never doc
    length."""
    d = (t(spark, sf, "documents")
         .filter(F.col("text").isNotNull() & (F.length(F.trim("text")) > 0)))
    pos = d.select(
        "doc_id",
        F.posexplode(words(lower=True)).alias("p0", "term")).select(
        "doc_id", "term", (F.col("p0") + 1).cast("bigint").alias("pos"))
    a = pos.filter(F.col("term") == "data").select("doc_id", "pos")
    b = (pos.filter(F.col("term") == "line")
         .select("doc_id", (F.col("pos") - 1).alias("pos")))
    hits = a.join(b, ["doc_id", "pos"])
    return (hits.groupBy("doc_id")
            .agg(F.count("*").cast("bigint").alias("n_hits"),
                 F.min("pos").cast("bigint").alias("first_pos")))


# ---------------------------------------------------------------------------
# Inferential statistics (chi-square independence, two-sample KS)
# ---------------------------------------------------------------------------

@q("stat_chi_square", """
WITH e AS (
  SELECT event_type, CAST(extract(hour FROM ts) AS BIGINT) % 6 AS hb
  FROM events WHERE ts IS NOT NULL AND event_type IS NOT NULL),
obs AS (SELECT event_type, hb, count(*) AS o FROM e GROUP BY 1, 2),
rt AS (SELECT event_type, count(*) AS r FROM e GROUP BY 1),
ct AS (SELECT hb, count(*) AS c FROM e GROUP BY 1),
n AS (SELECT count(*) AS n FROM e),
grid AS (SELECT event_type, r, hb, c FROM rt CROSS JOIN ct),
cells AS (
  SELECT CAST(ROUND(
           (COALESCE(o, 0) - r * c / CAST(n AS DOUBLE))
           * (COALESCE(o, 0) - r * c / CAST(n AS DOUBLE))
           / (r * c / CAST(n AS DOUBLE)) * 1000000, 0) AS BIGINT) AS ti
  FROM grid LEFT JOIN obs USING (event_type, hb) CROSS JOIN n)
SELECT CAST(count(*) AS BIGINT) AS n_cells,
       CAST((SELECT count(*) FROM rt) - 1 AS BIGINT)
         * CAST((SELECT count(*) FROM ct) - 1 AS BIGINT) AS dof,
       ROUND(sum(ti) / 1000000.0, 4) AS chi2
FROM cells
""")
def stat_chi_square(spark, sf):
    """Pearson chi-square test of independence (event_type x hour-of-day
    bucket) — the inferential-stats family's contingency-table op.
    Observed counts, row/column marginals and N are exact integers from
    three hash aggregations; expected = r*c/N and the per-cell
    (o-e)^2/e term are pure scalar doubles, each rounded to integer
    micro-units (ROUND then CAST) so the chi2 sum over cells is an
    ORDER-INDEPENDENT bigint sum — cross-engine string-exact. The cell
    table is the FULL r x c grid (row marginals cross-joined with
    column marginals, observed counts left-joined with o = 0 fill):
    a structurally empty cell still contributes its expected value e
    to the statistic, matching the textbook definition and the
    reported dof = (r-1)(c-1) — summing only observed cells would
    understate chi2 exactly when a cell is empty (round-5 ADVICE fix).
    Marginal tables are category-sized, broadcast; only the grid
    scales (bounded by |types| x 6 here, by category cardinality
    generally)."""
    e = (t(spark, sf, "events")
         .filter(F.col("ts").isNotNull() & F.col("event_type").isNotNull())
         .select("event_type",
                 (F.hour("ts").cast("bigint") % 6).alias("hb")))
    obs = e.groupBy("event_type", "hb").agg(F.count("*").alias("o"))
    rt = e.groupBy("event_type").agg(F.count("*").alias("r"))
    ct = e.groupBy("hb").agg(F.count("*").alias("c"))
    n = e.agg(F.count("*").alias("n"))
    o0 = F.coalesce(F.col("o"), F.lit(0)).cast("double")
    exp = F.col("r") * F.col("c") / F.col("n").cast("double")
    ti = F.round((o0 - exp) * (o0 - exp) / exp * 1000000,
                 0).cast("long")
    cells = (rt.crossJoin(F.broadcast(ct))
             .join(F.broadcast(obs), ["event_type", "hb"], "left")
             .crossJoin(F.broadcast(n))
             .select(ti.alias("ti")))
    nr = rt.agg(F.count("*").alias("nr"))
    nc = ct.agg(F.count("*").alias("nc"))
    return (cells.agg(F.count("*").cast("bigint").alias("n_cells"),
                      F.round(F.sum("ti") / 1000000.0, 4).alias("chi2"))
            .crossJoin(F.broadcast(nr)).crossJoin(F.broadcast(nc))
            .select("n_cells",
                    ((F.col("nr") - 1) * (F.col("nc") - 1))
                    .cast("bigint").alias("dof"),
                    "chi2"))


def _two_sample_counts(spark, sf, keep, pos):
    """The two samples of stat_ks_two_sample, stat_mannwhitney_u and
    eval_auc_roc: the non-NULL values of the events that pass `keep`,
    sample 1 those of event type `pos`, sample 2 the rest. Returns the
    per-value counts ``(v, c1, c2)`` and the one-row sample sizes
    ``(n1, n2)``."""
    s = (t(spark, sf, "events")
         .filter(keep & F.col("value").isNotNull())
         .select(F.col("value").alias("v"),
                 F.when(F.col("event_type") == pos, 1).otherwise(0)
                 .alias("is1")))
    pv = s.groupBy("v").agg(F.sum("is1").alias("c1"),
                            F.sum(1 - F.col("is1")).alias("c2"))
    n = s.agg(F.sum("is1").cast("bigint").alias("n1"),
              F.sum(1 - F.col("is1")).cast("bigint").alias("n2"))
    return pv, n


@q("stat_ks_two_sample", """
WITH s AS (
  SELECT value AS v, CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is1
  FROM events WHERE event_type IN ('click', 'view') AND value IS NOT NULL),
pv AS (SELECT v, sum(is1) AS c1, sum(1 - is1) AS c2 FROM s GROUP BY v),
cum AS (
  SELECT v,
         sum(c1) OVER (ORDER BY v) AS a1,
         sum(c2) OVER (ORDER BY v) AS a2
  FROM pv),
n AS (SELECT sum(is1) AS n1, sum(1 - is1) AS n2 FROM s)
SELECT CAST(n.n1 AS BIGINT) AS n1, CAST(n.n2 AS BIGINT) AS n2,
       ROUND(max(abs(a1 / CAST(n.n1 AS DOUBLE)
                     - a2 / CAST(n.n2 AS DOUBLE))), 6) AS d_stat
FROM cum CROSS JOIN n GROUP BY n.n1, n.n2
""")
def stat_ks_two_sample(spark, sf):
    """Two-sample Kolmogorov-Smirnov D statistic ('click' vs 'view'
    event values): max over pooled distinct values of |F1 - F2|, where
    each ECDF step is an exact integer cumulative count divided once
    by its sample size. The running counts come from
    global_prefix_sums over the per-value counts (width_bucket buckets
    on v, per-bucket local cumsum, bucket totals turned into exclusive
    offsets and broadcast back) — no single-partition window anywhere.
    D is a max over doubles (order-independent; no float summation),
    so the statistic is cross-engine string-exact; the oracle states
    the same math with DuckDB's engine-local global window."""
    pv, n = _two_sample_counts(
        spark, sf, F.col("event_type").isin("click", "view"), "click")
    cum = (global_prefix_sums(pv, "v", ["c1", "c2"])
           .select((F.col("c1_ps") + F.col("c1")).alias("a1"),
                   (F.col("c2_ps") + F.col("c2")).alias("a2")))
    return (cum.crossJoin(F.broadcast(n))
            .groupBy("n1", "n2")
            .agg(F.round(F.max(F.abs(
                F.col("a1") / F.col("n1").cast("double")
                - F.col("a2") / F.col("n2").cast("double"))), 6)
                .alias("d_stat"))
            .select("n1", "n2", "d_stat"))


@q("stat_mannwhitney_u", """
WITH s AS (
  SELECT value AS v, CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS is1
  FROM events WHERE event_type IN ('click', 'view') AND value IS NOT NULL),
pv AS (SELECT v, sum(is1) AS c1, sum(1 - is1) AS c2 FROM s GROUP BY v),
cum AS (
  SELECT v, c1, c2,
         sum(c1 + c2) OVER (ORDER BY v) - (c1 + c2) AS b
  FROM pv),
n AS (SELECT sum(is1) AS n1, sum(1 - is1) AS n2 FROM s)
SELECT CAST(n.n1 AS BIGINT) AS n1, CAST(n.n2 AS BIGINT) AS n2,
       CAST(sum(c1 * (2 * b + c1 + c2 + 1)) - n.n1 * (n.n1 + 1)
            AS BIGINT) AS two_u1
FROM cum CROSS JOIN n GROUP BY n.n1, n.n2
""")
def stat_mannwhitney_u(spark, sf):
    """Mann-Whitney U ('click' vs 'view' event values) with midrank tie
    handling, EXACT: for a tied group of c=c1+c2 values preceded by b
    pooled values, the sample-1 rank-sum contribution is
    c1*(2b+c+1)/2; doubling everything keeps the whole statistic in
    bigints (two_u1 = 2*R1 - n1*(n1+1) = 2*U1), so the result is
    order-independent integer arithmetic end to end — no floats
    anywhere. The exclusive prefix count b comes from the same
    global_prefix_sums as stat_ks_two_sample (width_bucket buckets,
    local cumsum, broadcast offsets); the oracle states it with
    DuckDB's engine-local window."""
    pv, n = _two_sample_counts(
        spark, sf, F.col("event_type").isin("click", "view"), "click")
    cum = (global_prefix_sums(pv.withColumn("ct", F.col("c1") + F.col("c2")),
                              "v", ["ct"])
           .select("c1", "c2", F.col("ct_ps").alias("b")))
    return (cum.crossJoin(F.broadcast(n))
            .groupBy("n1", "n2")
            .agg((F.sum(F.col("c1")
                        * (2 * F.col("b") + F.col("c1") + F.col("c2") + 1))
                  - F.col("n1") * (F.col("n1") + 1))
                 .cast("bigint").alias("two_u1"))
            .select("n1", "n2", "two_u1"))


@q("stat_ab_proportions", """
WITH e AS (
  SELECT user_id % 2 AS variant,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
  FROM events WHERE user_id IS NOT NULL AND event_type IS NOT NULL),
g AS (SELECT variant, count(*) AS n, sum(conv) AS x
      FROM e GROUP BY variant),
w AS (SELECT
        max(CASE WHEN variant = 0 THEN n END) AS n0,
        max(CASE WHEN variant = 0 THEN x END) AS x0,
        max(CASE WHEN variant = 1 THEN n END) AS n1,
        max(CASE WHEN variant = 1 THEN x END) AS x1
      FROM g)
SELECT CAST(n0 AS BIGINT) AS n0, CAST(x0 AS BIGINT) AS x0,
       CAST(n1 AS BIGINT) AS n1, CAST(x1 AS BIGINT) AS x1,
       ROUND((x0 / CAST(n0 AS DOUBLE) - x1 / CAST(n1 AS DOUBLE))
             / sqrt((x0 + x1) / CAST(n0 + n1 AS DOUBLE)
                    * (1 - (x0 + x1) / CAST(n0 + n1 AS DOUBLE))
                    * (1.0 / n0 + 1.0 / n1)), 4) AS z
FROM w
""")
def stat_ab_proportions(spark, sf):
    """Two-proportion z-test (A/B by user_id parity, conversion =
    purchase events): counts and conversions per arm are exact
    integers from one hash aggregation pivoted to a single row; the
    pooled-variance z-score is one scalar double expression over four
    integers — identical in both engines, rounded to 4. The
    one-row-per-arm → one-row pivot is conditional max, no window.
    At scale the only shuffle is the 2-group aggregate (map-side
    combined)."""
    e = (t(spark, sf, "events")
         .filter(F.col("user_id").isNotNull()
                 & F.col("event_type").isNotNull())
         .select((F.col("user_id") % 2).alias("variant"),
                 F.when(F.col("event_type") == "purchase", 1).otherwise(0)
                 .alias("conv")))
    g = e.groupBy("variant").agg(F.count("*").alias("n"),
                                 F.sum("conv").alias("x"))
    w = g.agg(
        F.max(F.when(F.col("variant") == 0, F.col("n"))).alias("n0"),
        F.max(F.when(F.col("variant") == 0, F.col("x"))).alias("x0"),
        F.max(F.when(F.col("variant") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("variant") == 1, F.col("x"))).alias("x1"))
    p0 = F.col("x0") / F.col("n0").cast("double")
    p1 = F.col("x1") / F.col("n1").cast("double")
    pp = (F.col("x0") + F.col("x1")) / (F.col("n0") + F.col("n1")).cast("double")
    z = F.round((p0 - p1) / F.sqrt(pp * (1 - pp)
                                   * (1.0 / F.col("n0") + 1.0 / F.col("n1"))),
                4)
    return w.select(F.col("n0").cast("bigint").alias("n0"),
                    F.col("x0").cast("bigint").alias("x0"),
                    F.col("n1").cast("bigint").alias("n1"),
                    F.col("x1").cast("bigint").alias("x1"),
                    z.alias("z"))


# ---------------------------------------------------------------------------
# Model-eval / ranking metrics (NDCG, MRR, calibration ECE)
# ---------------------------------------------------------------------------

@q("eval_mrr", """
WITH e AS (
  SELECT user_id, event_id, value,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS rel
  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
r AS (
  SELECT user_id, rel,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY value DESC, event_id) AS rnk
  FROM e),
fr AS (
  SELECT user_id, min(rnk) AS first_rel
  FROM r WHERE rel = 1 GROUP BY user_id),
u AS (SELECT count(DISTINCT user_id) AS n_users FROM e),
rr AS (
  SELECT CAST(ROUND(1000000.0 / first_rel, 0) AS BIGINT) AS rri FROM fr)
SELECT CAST(u.n_users AS BIGINT) AS n_users,
       CAST(count(*) AS BIGINT) AS n_hit,
       ROUND(sum(rri) / 1000000.0 / u.n_users, 4) AS mrr
FROM rr CROSS JOIN u GROUP BY u.n_users
""")
def eval_mrr(spark, sf):
    """Mean reciprocal rank: per user (the 'query'), events ranked by
    predicted score (value DESC, event_id tiebreak — bit-deterministic
    integer/double sort, no float arithmetic in the key), the first
    relevant (purchase) rank inverted. Each reciprocal rank is rounded
    to integer micro-units so the corpus mean is an order-independent
    bigint sum over users; users with no relevant event contribute 0
    (standard MRR). Per-user ranking is one window partitioned by
    user — fully parallel; the final mean is a one-row aggregate."""
    e = (t(spark, sf, "events")
         .filter(F.col("user_id").isNotNull() & F.col("value").isNotNull())
         .select("user_id", "event_id", "value",
                 F.when(F.col("event_type") == "purchase", 1).otherwise(0)
                 .alias("rel")))
    w = W.partitionBy("user_id").orderBy(F.col("value").desc(), "event_id")
    r = e.withColumn("rnk", F.row_number().over(w))
    fr = (r.filter(F.col("rel") == 1)
          .groupBy("user_id").agg(F.min("rnk").alias("first_rel")))
    u = e.agg(F.countDistinct("user_id").alias("n_users"))
    rr = fr.select(F.round(1000000.0 / F.col("first_rel"), 0)
                   .cast("long").alias("rri"))
    return (rr.crossJoin(F.broadcast(u))
            .groupBy("n_users")
            .agg(F.count("*").cast("bigint").alias("n_hit"),
                 F.round(F.sum("rri") / 1000000.0 / F.col("n_users"), 4)
                 .alias("mrr"))
            .select(F.col("n_users").cast("bigint").alias("n_users"),
                    "n_hit", "mrr"))


@q("eval_ndcg_at_k", """
WITH e AS (
  SELECT user_id, event_id, value,
         CASE event_type WHEN 'purchase' THEN 7 WHEN 'signup' THEN 3
                         WHEN 'click' THEN 1 ELSE 0 END AS gain
  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL),
r AS (
  SELECT user_id, gain,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY value DESC, event_id) AS prnk,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY gain DESC, value DESC, event_id) AS irnk
  FROM e),
dcg AS (
  SELECT user_id,
         sum(CASE WHEN prnk <= 5 THEN
               CAST(ROUND(gain / log2(prnk + 1.0) * 1000000, 0) AS BIGINT)
             ELSE 0 END) AS dcg_i,
         sum(CASE WHEN irnk <= 5 THEN
               CAST(ROUND(gain / log2(irnk + 1.0) * 1000000, 0) AS BIGINT)
             ELSE 0 END) AS idcg_i
  FROM r GROUP BY user_id),
nd AS (
  SELECT CAST(ROUND(dcg_i / CAST(idcg_i AS DOUBLE) * 1000000, 0) AS BIGINT)
           AS ndcg_i
  FROM dcg WHERE idcg_i > 0)
SELECT CAST(count(*) AS BIGINT) AS n_users,
       ROUND(sum(ndcg_i) / 1000000.0 / count(*), 4) AS mean_ndcg5
FROM nd
""")
def eval_ndcg_at_k(spark, sf, k=5):
    """NDCG@5 over per-user rankings: predicted order = (value DESC,
    event_id), ideal order = (gain DESC, value DESC, event_id), graded
    gains 2^rel−1 pre-tabled as CASE constants (7/3/1/0 — no pow()).
    Every per-position DCG term gain/log2(rank+1) is rounded to
    integer micro-units, so per-user DCG/IDCG are order-independent
    bigint sums, the per-user NDCG ratio is micro-rounded again, and
    the corpus mean is exact. Two windows per user partition (both
    ride ONE hash exchange on user_id — same partitioning), users
    with zero ideal gain excluded (standard)."""
    e = (t(spark, sf, "events")
         .filter(F.col("user_id").isNotNull() & F.col("value").isNotNull())
         .select("user_id", "event_id", "value",
                 F.when(F.col("event_type") == "purchase", 7)
                 .when(F.col("event_type") == "signup", 3)
                 .when(F.col("event_type") == "click", 1)
                 .otherwise(0).alias("gain")))
    wp = W.partitionBy("user_id").orderBy(F.col("value").desc(), "event_id")
    wi = W.partitionBy("user_id").orderBy(
        F.col("gain").desc(), F.col("value").desc(), "event_id")
    r = (e.withColumn("prnk", F.row_number().over(wp))
         .withColumn("irnk", F.row_number().over(wi)))
    term = lambda rnk: F.when(  # noqa: E731
        F.col(rnk) <= k,
        F.round(F.col("gain") / F.log2(F.col(rnk) + 1.0) * 1000000, 0)
        .cast("long")).otherwise(F.lit(0))
    dcg = (r.groupBy("user_id")
           .agg(F.sum(term("prnk")).alias("dcg_i"),
                F.sum(term("irnk")).alias("idcg_i")))
    nd = (dcg.filter(F.col("idcg_i") > 0)
          .select(F.round(F.col("dcg_i") / F.col("idcg_i").cast("double")
                          * 1000000, 0).cast("long").alias("ndcg_i")))
    return nd.agg(F.count("*").cast("bigint").alias("n_users"),
                  F.round(F.sum("ndcg_i") / 1000000.0 / F.count("*"), 4)
                  .alias("mean_ndcg5"))


@q("eval_ece_calibration", """
WITH e AS (
  SELECT value,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label
  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
mm AS (SELECT min(value) AS lo, max(value) AS hi FROM e),
c AS (
  SELECT CAST(ROUND((value - lo) / (hi - lo) * 1000000, 0) AS BIGINT)
           AS conf_i,
         label
  FROM e CROSS JOIN mm),
b AS (
  SELECT least(CAST(conf_i // 100000 AS BIGINT), 9) AS bin,
         count(*) AS n_b, sum(label) AS x_b, sum(conf_i) AS s_b
  FROM c GROUP BY 1),
n AS (SELECT count(*) AS n FROM e),
terms AS (
  SELECT CAST(ROUND(
           n_b / CAST(n AS DOUBLE)
           * abs(x_b / CAST(n_b AS DOUBLE)
                 - s_b / CAST(n_b AS DOUBLE) / 1000000.0)
           * 1000000, 0) AS BIGINT) AS ti
  FROM b CROSS JOIN n)
SELECT CAST(count(*) AS BIGINT) AS n_bins,
       ROUND(sum(ti) / 1000000.0, 4) AS ece
FROM terms
""")
def eval_ece_calibration(spark, sf):
    """Expected calibration error, 10 equal-width bins: scores are
    min-max normalized (min/max are exact — no float summation),
    QUANTIZED to integer micro-units at the row level so every bin's
    confidence sum is an order-independent bigint; per-bin accuracy
    x/n and mean confidence s/n/1e6 are exact rationals; the weighted
    |acc−conf| terms are micro-rounded and summed over ≤10 bins.
    Min/max ride one broadcast row; bins are one hash aggregate."""
    e = (t(spark, sf, "events")
         .filter(F.col("value").isNotNull() & F.col("event_type").isNotNull())
         .select("value",
                 F.when(F.col("event_type") == "purchase", 1).otherwise(0)
                 .alias("label")))
    mm = e.agg(F.min("value").alias("lo"), F.max("value").alias("hi"))
    c = (e.crossJoin(F.broadcast(mm))
         .select(F.round((F.col("value") - F.col("lo"))
                         / (F.col("hi") - F.col("lo")) * 1000000, 0)
                 .cast("long").alias("conf_i"), "label"))
    b = (c.select(F.least(F.floor(F.col("conf_i") / 100000), F.lit(9))
                  .cast("bigint").alias("bin"), "label", "conf_i")
         .groupBy("bin")
         .agg(F.count("*").alias("n_b"), F.sum("label").alias("x_b"),
              F.sum("conf_i").alias("s_b")))
    n = e.agg(F.count("*").alias("n"))
    ti = F.round(
        F.col("n_b") / F.col("n").cast("double")
        * F.abs(F.col("x_b") / F.col("n_b").cast("double")
                - F.col("s_b") / F.col("n_b").cast("double") / 1000000.0)
        * 1000000, 0).cast("long")
    return (b.crossJoin(F.broadcast(n)).select(ti.alias("ti"))
            .agg(F.count("*").cast("bigint").alias("n_bins"),
                 F.round(F.sum("ti") / 1000000.0, 4).alias("ece")))


@q("search_snippet_highlight", """
SELECT doc_id,
       CAST(strpos(text, 'spark') AS BIGINT) AS pos,
       substr(text, CASE WHEN strpos(text, 'spark') - 20 > 1
                         THEN strpos(text, 'spark') - 20 ELSE 1 END, 50)
         AS snippet
FROM documents
WHERE text IS NOT NULL AND strpos(text, 'spark') > 0
""")
def search_snippet_highlight(spark, sf):
    """Search-hit snippet extraction: first match position of the query
    term and a 50-char window starting 20 chars before it — the
    result-rendering op of the retrieval family. Pure JVM string
    functions (instr/substring, both 1-based like DuckDB's
    strpos/substr), predicate pushed to the scan; embarrassingly
    parallel, no shuffle at all."""
    d = t(spark, sf, "documents").filter(F.col("text").isNotNull())
    pos = F.instr("text", "spark")
    start = F.when(pos - 20 > 1, pos - 20).otherwise(F.lit(1))
    return (d.filter(pos > 0)
            .select("doc_id", pos.cast("bigint").alias("pos"),
                    F.substring("text", start, 50).alias("snippet")))


@q("eval_auc_roc", """
WITH s AS (
  SELECT value AS v,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is1
  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
pv AS (SELECT v, sum(is1) AS c1, sum(1 - is1) AS c2 FROM s GROUP BY v),
cum AS (
  SELECT v, c1, c2,
         sum(c1 + c2) OVER (ORDER BY v) - (c1 + c2) AS b
  FROM pv),
n AS (SELECT sum(is1) AS n1, sum(1 - is1) AS n0 FROM s)
SELECT CAST(n.n1 AS BIGINT) AS n_pos, CAST(n.n0 AS BIGINT) AS n_neg,
       ROUND((sum(c1 * (2 * b + c1 + c2 + 1)) - n.n1 * (n.n1 + 1))
             / (2.0 * n.n1 * n.n0), 6) AS auc
FROM cum CROSS JOIN n GROUP BY n.n1, n.n0
""")
def eval_auc_roc(spark, sf):
    """ROC AUC computed EXACTLY from the Mann-Whitney identity
    AUC = U1/(n1*n0) with midrank tie handling — the entire statistic
    is bigint arithmetic (2*U1 = 2*R1 - n1(n1+1), rank sums from the
    same distributed two-phase prefix-sum as stat_mannwhitney_u) with
    ONE final division, so it is cross-engine string-exact with no
    per-threshold sweep, no trapezoid float accumulation, and no
    sort-order sensitivity. Scores = event values, positives =
    purchases. At scale: one hash agg per distinct score, one hash
    exchange on the width_bucket id, broadcast offsets."""
    pv, n = _two_sample_counts(
        spark, sf, F.col("event_type").isNotNull(), "purchase")
    cum = (global_prefix_sums(pv.withColumn("ct", F.col("c1") + F.col("c2")),
                              "v", ["ct"])
           .select("c1", "c2", F.col("ct_ps").alias("b")))
    return (cum.crossJoin(F.broadcast(n))
            .groupBy("n1", "n2")
            .agg(F.round(
                (F.sum(F.col("c1")
                       * (2 * F.col("b") + F.col("c1") + F.col("c2") + 1))
                 - F.col("n1") * (F.col("n1") + 1))
                / (2.0 * F.col("n1") * F.col("n2")), 6).alias("auc"))
            .select(F.col("n1").cast("bigint").alias("n_pos"),
                    F.col("n2").cast("bigint").alias("n_neg"), "auc"))


@q("eval_confusion_binary", """
WITH s AS (
  SELECT CASE WHEN value > 50 THEN 1 ELSE 0 END AS pred,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label
  FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
m AS (
  SELECT sum(pred * label) AS tp,
         sum(pred * (1 - label)) AS fp,
         sum((1 - pred) * label) AS fn,
         sum((1 - pred) * (1 - label)) AS tn
  FROM s)
SELECT CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
       CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
       ROUND(tp / CAST(tp + fp AS DOUBLE), 6) AS precision_,
       ROUND(tp / CAST(tp + fn AS DOUBLE), 6) AS recall_,
       ROUND(2.0 * tp / CAST(2 * tp + fp + fn AS DOUBLE), 6) AS f1
FROM m
""")
def eval_confusion_binary(spark, sf):
    """Binary confusion matrix + precision/recall/F1 for a fixed
    threshold classifier (value > 50 predicts purchase): four exact
    integer cells from ONE map-side-combinable aggregation, three
    single-division metrics (F1 via the 2TP/(2TP+FP+FN) identity — one
    division, no precision*recall float product). The whole op is one
    scan + one 1-row agg."""
    s = (t(spark, sf, "events")
         .filter(F.col("value").isNotNull() & F.col("event_type").isNotNull())
         .select(F.when(F.col("value") > 50, 1).otherwise(0).alias("pred"),
                 F.when(F.col("event_type") == "purchase", 1).otherwise(0)
                 .alias("label")))
    m = s.agg(
        F.sum(F.col("pred") * F.col("label")).alias("tp"),
        F.sum(F.col("pred") * (1 - F.col("label"))).alias("fp"),
        F.sum((1 - F.col("pred")) * F.col("label")).alias("fn"),
        F.sum((1 - F.col("pred")) * (1 - F.col("label"))).alias("tn"))
    return m.select(
        F.col("tp").cast("bigint").alias("tp"),
        F.col("fp").cast("bigint").alias("fp"),
        F.col("fn").cast("bigint").alias("fn"),
        F.col("tn").cast("bigint").alias("tn"),
        F.round(F.col("tp") / (F.col("tp") + F.col("fp")).cast("double"), 6)
        .alias("precision_"),
        F.round(F.col("tp") / (F.col("tp") + F.col("fn")).cast("double"), 6)
        .alias("recall_"),
        F.round(2.0 * F.col("tp")
                / (2 * F.col("tp") + F.col("fp") + F.col("fn")).cast("double"),
                6).alias("f1"))


@q("eval_equalized_odds", """
WITH s AS (
  SELECT user_id % 2 AS grp,
         CASE WHEN value > 50 THEN 1 ELSE 0 END AS pred,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS label
  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
    AND event_type IS NOT NULL),
g AS (
  SELECT grp,
         count(*) AS n,
         sum(pred) AS p,
         sum(pred * label) AS tp,
         sum(label) AS pos,
         sum(pred * (1 - label)) AS fp,
         sum(1 - label) AS neg
  FROM s GROUP BY grp)
SELECT CAST(grp AS BIGINT) AS grp, CAST(n AS BIGINT) AS n,
       ROUND(p / CAST(n AS DOUBLE), 6) AS pos_rate,
       ROUND(tp / CAST(pos AS DOUBLE), 6) AS tpr,
       ROUND(fp / CAST(neg AS DOUBLE), 6) AS fpr
FROM g
""")
def eval_equalized_odds(spark, sf):
    """Fairness audit for the fixed threshold classifier (value > 50)
    across a binary protected attribute (user_id parity): per-group
    selection rate (demographic parity), TPR and FPR (equalized odds)
    — five exact integer counts per group from ONE map-combinable
    aggregation, three single-division rates. Emits the per-group rows
    (2 at this fixture; |groups| generally) so parity gaps are
    downstream subtractions of already-exact rates. Companion to the
    governance family (k-anonymity, l-diversity, PSI drift)."""
    s = (t(spark, sf, "events")
         .filter(F.col("user_id").isNotNull() & F.col("value").isNotNull()
                 & F.col("event_type").isNotNull())
         .select((F.col("user_id") % 2).alias("grp"),
                 F.when(F.col("value") > 50, 1).otherwise(0).alias("pred"),
                 F.when(F.col("event_type") == "purchase", 1).otherwise(0)
                 .alias("label")))
    g = s.groupBy("grp").agg(
        F.count("*").alias("n"),
        F.sum("pred").alias("p"),
        F.sum(F.col("pred") * F.col("label")).alias("tp"),
        F.sum("label").alias("pos"),
        F.sum(F.col("pred") * (1 - F.col("label"))).alias("fp"),
        F.sum(1 - F.col("label")).alias("neg"))
    return g.select(
        F.col("grp").cast("bigint").alias("grp"),
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("p") / F.col("n").cast("double"), 6).alias("pos_rate"),
        F.round(F.col("tp") / F.col("pos").cast("double"), 6).alias("tpr"),
        F.round(F.col("fp") / F.col("neg").cast("double"), 6).alias("fpr"))


@q("ts_forecast_accuracy", """
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2),
bt AS (
  SELECT a.event_type, abs(a.n - b.n) AS abs_err,
         CAST(ROUND(2000000.0 * abs(a.n - b.n) / (a.n + b.n), 0) AS BIGINT)
           AS smape_i
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.day = b.day + 7),
sc AS (
  SELECT a.event_type, abs(a.n - b.n) AS naive_err
  FROM daily a JOIN daily b
    ON a.event_type = b.event_type AND a.day = b.day + 1),
m7 AS (SELECT event_type, CAST(count(*) AS BIGINT) AS c7,
              CAST(sum(abs_err) AS BIGINT) AS s7,
              CAST(sum(smape_i) AS BIGINT) AS sm
       FROM bt GROUP BY event_type),
m1 AS (SELECT event_type, CAST(count(*) AS BIGINT) AS c1,
              CAST(sum(naive_err) AS BIGINT) AS s1
       FROM sc GROUP BY event_type)
SELECT event_type, c7 AS n_days,
       ROUND(s7 / CAST(c7 AS DOUBLE), 4) AS mae,
       ROUND(sm / 1000000.0 / c7, 4) AS smape,
       ROUND(s7 * c1 / CAST(c7 AS DOUBLE) / s1, 4) AS mase
FROM m7 JOIN m1 USING (event_type)
""")
def ts_forecast_accuracy(spark, sf):
    """Forecast-accuracy rollup for the seasonal-naive backtest:
    per-series MAE, sMAPE, and MASE. Every ingredient is an exact
    bigint — absolute errors of integer daily counts, per-row sMAPE
    ratios micro-rounded before summing, the naive-1 in-sample error
    for MASE's scale — so each metric is ONE final division (MASE =
    s7·c1/(c7·s1), no ratio-of-rounded-ratios). Calendar self-joins
    (day−7 forecast, day−1 scale) avoid the row-offset lag
    misalignment; at scale both joins run on the tiny daily rollup.
    Companion to the model-eval family on the time-series side."""
    ev = t(spark, sf, "events")
    daily = (ev.groupBy("event_type", F.to_date("ts").alias("day"))
             .agg(F.count("*").cast("bigint").alias("n")))
    a, b = daily.alias("a"), daily.alias("b")
    bt = (a.join(b, (F.col("a.event_type") == F.col("b.event_type"))
                 & (F.col("a.day") == F.date_add(F.col("b.day"), 7)))
          .select(F.col("a.event_type").alias("event_type"),
                  F.abs(F.col("a.n") - F.col("b.n")).alias("abs_err"),
                  F.round(2000000.0 * F.abs(F.col("a.n") - F.col("b.n"))
                          / (F.col("a.n") + F.col("b.n")), 0)
                  .cast("long").alias("smape_i")))
    sc = (a.join(b, (F.col("a.event_type") == F.col("b.event_type"))
                 & (F.col("a.day") == F.date_add(F.col("b.day"), 1)))
          .select(F.col("a.event_type").alias("event_type"),
                  F.abs(F.col("a.n") - F.col("b.n")).alias("naive_err")))
    m7 = (bt.groupBy("event_type")
          .agg(F.count("*").cast("bigint").alias("c7"),
               F.sum("abs_err").cast("bigint").alias("s7"),
               F.sum("smape_i").cast("bigint").alias("sm")))
    m1 = (sc.groupBy("event_type")
          .agg(F.count("*").cast("bigint").alias("c1"),
               F.sum("naive_err").cast("bigint").alias("s1")))
    return (m7.join(m1, "event_type")
            .select("event_type", F.col("c7").alias("n_days"),
                    F.round(F.col("s7") / F.col("c7").cast("double"), 4)
                    .alias("mae"),
                    F.round(F.col("sm") / 1000000.0 / F.col("c7"), 4)
                    .alias("smape"),
                    F.round(F.col("s7") * F.col("c1")
                            / F.col("c7").cast("double") / F.col("s1"), 4)
                    .alias("mase")))


@q("stat_spearman_rho", """
WITH s AS (
  SELECT value AS x, CAST(user_id AS DOUBLE) AS y
  FROM events WHERE value IS NOT NULL AND user_id IS NOT NULL),
rx AS (
  SELECT x, 2 * (sum(c) OVER (ORDER BY x) - c) + c + 1 AS r2x
  FROM (SELECT x, count(*) AS c FROM s GROUP BY x)),
ry AS (
  SELECT y, 2 * (sum(c) OVER (ORDER BY y) - c) + c + 1 AS r2y
  FROM (SELECT y, count(*) AS c FROM s GROUP BY y)),
j AS (
  SELECT CAST(rx.r2x AS BIGINT) AS rx2, CAST(ry.r2y AS BIGINT) AS ry2
  FROM s JOIN rx USING (x) JOIN ry USING (y)),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(rx2) AS BIGINT) AS sx, CAST(sum(ry2) AS BIGINT) AS sy,
         CAST(sum(rx2 * rx2) AS BIGINT) AS sxx,
         CAST(sum(ry2 * ry2) AS BIGINT) AS syy,
         CAST(sum(rx2 * ry2) AS BIGINT) AS sxy
  FROM j)
SELECT n,
       ROUND((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
             / sqrt((CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                    * (CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)),
             6) AS rho
FROM m
""")
def stat_spearman_rho(spark, sf):
    """Spearman rank correlation (events value vs user_id) with midrank
    tie handling, EXACT until one final formula: doubled midranks
    2r = 2b + c + 1 are bigints (b = exclusive prefix count from the
    distributed two-phase prefix-sum, c = tie-group size), so every
    moment sum (Σx, Σy, Σxy, Σx², Σy²) is an order-independent bigint;
    rho is Pearson-on-ranks assembled ONCE in double (the doubling
    cancels). No float accumulation anywhere — the banned corr()-style
    running covariance never appears. Rank tables are distinct-value
    sized; rows join to them by value/user_id (plain equi-joins)."""
    s = (t(spark, sf, "events")
         .filter(F.col("value").isNotNull() & F.col("user_id").isNotNull())
         .select(F.col("value").alias("x"),
                 F.col("user_id").cast("double").alias("y")))

    def midranks(df, col):
        pv = df.groupBy(col).agg(F.count("*").alias("c"))
        return (global_prefix_sums(pv, col, ["c"])
                .select(col,
                        (2 * F.col("c_ps") + F.col("c") + 1)
                        .cast("bigint").alias(f"r2{col}")))

    j = (s.join(midranks(s, "x"), "x")
         .join(midranks(s, "y"), "y")
         .select(F.col("r2x").alias("rx2"), F.col("r2y").alias("ry2")))
    m = j.agg(F.count("*").cast("bigint").alias("n"),
              F.sum("rx2").cast("bigint").alias("sx"),
              F.sum("ry2").cast("bigint").alias("sy"),
              F.sum(F.col("rx2") * F.col("rx2")).cast("bigint").alias("sxx"),
              F.sum(F.col("ry2") * F.col("ry2")).cast("bigint").alias("syy"),
              F.sum(F.col("rx2") * F.col("ry2")).cast("bigint").alias("sxy"))
    nd = F.col("n").cast("double")
    rho = F.round(
        (nd * F.col("sxy") - F.col("sx").cast("double") * F.col("sy"))
        / F.sqrt((nd * F.col("sxx")
                  - F.col("sx").cast("double") * F.col("sx"))
                 * (nd * F.col("syy")
                    - F.col("sy").cast("double") * F.col("sy"))), 6)
    return m.select("n", rho.alias("rho"))


@q("stat_welch_ttest", """
WITH s AS (
  SELECT CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS g,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS q
  FROM events WHERE event_type IN ('click', 'view') AND value IS NOT NULL),
m AS (
  SELECT g, CAST(count(*) AS BIGINT) AS n, CAST(sum(q) AS BIGINT) AS sq,
         CAST(sum(q * q) AS BIGINT) AS sqq
  FROM s GROUP BY g),
w AS (SELECT
        max(CASE WHEN g = 1 THEN n END) AS n1,
        max(CASE WHEN g = 1 THEN sq END) AS s1,
        max(CASE WHEN g = 1 THEN sqq END) AS ss1,
        max(CASE WHEN g = 0 THEN n END) AS n2,
        max(CASE WHEN g = 0 THEN sq END) AS s2,
        max(CASE WHEN g = 0 THEN sqq END) AS ss2
      FROM m),
v AS (
  SELECT n1, n2,
         s1 / CAST(n1 AS DOUBLE) AS m1, s2 / CAST(n2 AS DOUBLE) AS m2,
         (CAST(n1 AS DOUBLE) * ss1 - CAST(s1 AS DOUBLE) * s1)
           / (CAST(n1 AS DOUBLE) * (n1 - 1)) / n1 AS a1,
         (CAST(n2 AS DOUBLE) * ss2 - CAST(s2 AS DOUBLE) * s2)
           / (CAST(n2 AS DOUBLE) * (n2 - 1)) / n2 AS a2
  FROM w)
SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
       ROUND((m1 - m2) / sqrt(a1 + a2), 4) AS t_stat,
       ROUND((a1 + a2) * (a1 + a2)
             / (a1 * a1 / (n1 - 1) + a2 * a2 / (n2 - 1)), 2) AS df
FROM v
""")
def stat_welch_ttest(spark, sf):
    """Welch's unequal-variance t-test ('click' vs 'view' values):
    values are cent-quantized (q = ROUND(100·v) — identical doubles →
    identical bigints in both engines), so Σq and Σq² are EXACT and
    order-independent; means, the variance-over-n terms a_i =
    var_i/n_i, the t statistic, and the Welch–Satterthwaite df are
    each assembled once in double from those exact sums (the cent
    scale cancels in t and df). One 2-group aggregation, a
    conditional-max pivot to one row — the parametric companion to
    stat_mannwhitney_u."""
    s = (t(spark, sf, "events")
         .filter(F.col("event_type").isin("click", "view")
                 & F.col("value").isNotNull())
         .select(F.when(F.col("event_type") == "click", 1).otherwise(0)
                 .alias("g"),
                 F.round(F.col("value") * 100, 0).cast("long").alias("q")))
    m = s.groupBy("g").agg(F.count("*").cast("bigint").alias("n"),
                           F.sum("q").cast("bigint").alias("sq"),
                           F.sum(F.col("q") * F.col("q")).cast("bigint")
                           .alias("sqq"))
    w = m.agg(
        F.max(F.when(F.col("g") == 1, F.col("n"))).alias("n1"),
        F.max(F.when(F.col("g") == 1, F.col("sq"))).alias("s1"),
        F.max(F.when(F.col("g") == 1, F.col("sqq"))).alias("ss1"),
        F.max(F.when(F.col("g") == 0, F.col("n"))).alias("n2"),
        F.max(F.when(F.col("g") == 0, F.col("sq"))).alias("s2"),
        F.max(F.when(F.col("g") == 0, F.col("sqq"))).alias("ss2"))
    n1d, n2d = F.col("n1").cast("double"), F.col("n2").cast("double")
    m1 = F.col("s1") / n1d
    m2 = F.col("s2") / n2d
    a1 = ((n1d * F.col("ss1") - F.col("s1").cast("double") * F.col("s1"))
          / (n1d * (F.col("n1") - 1)) / F.col("n1"))
    a2 = ((n2d * F.col("ss2") - F.col("s2").cast("double") * F.col("s2"))
          / (n2d * (F.col("n2") - 1)) / F.col("n2"))
    v = w.select("n1", "n2", m1.alias("m1"), m2.alias("m2"),
                 a1.alias("a1"), a2.alias("a2"))
    return v.select(
        F.col("n1").cast("bigint").alias("n1"),
        F.col("n2").cast("bigint").alias("n2"),
        F.round((F.col("m1") - F.col("m2"))
                / F.sqrt(F.col("a1") + F.col("a2")), 4).alias("t_stat"),
        F.round((F.col("a1") + F.col("a2")) * (F.col("a1") + F.col("a2"))
                / (F.col("a1") * F.col("a1") / (F.col("n1") - 1)
                   + F.col("a2") * F.col("a2") / (F.col("n2") - 1)), 2)
        .alias("df"))


# ---------------------------------------------------------------------------
# Deterministic sketches (count-min) — exact cross-engine construction
# ---------------------------------------------------------------------------

@q("sketch_count_min", """
WITH e AS (
  SELECT user_id FROM events WHERE user_id IS NOT NULL),
h AS (
  SELECT d.seed, substr(md5(d.seed || ':' || CAST(e.user_id AS VARCHAR)),
                        1, 2) AS bucket
  FROM e CROSS JOIN (SELECT unnest(['1', '2', '3']) AS seed) d),
counters AS (
  SELECT seed, bucket, CAST(count(*) AS BIGINT) AS c
  FROM h GROUP BY seed, bucket),
probes AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS exact_n
  FROM e WHERE user_id IN (1, 2, 3) GROUP BY user_id),
ph AS (
  SELECT p.user_id, p.exact_n, d.seed,
         substr(md5(d.seed || ':' || CAST(p.user_id AS VARCHAR)), 1, 2)
           AS bucket
  FROM probes p CROSS JOIN (SELECT unnest(['1', '2', '3']) AS seed) d)
SELECT pr.user_id, pr.exact_n,
       CAST(min(c.c) AS BIGINT) AS cm_est,
       CAST(min(c.c) - pr.exact_n AS BIGINT) AS overcount
FROM ph pr JOIN counters c ON pr.seed = c.seed AND pr.bucket = c.bucket
GROUP BY pr.user_id, pr.exact_n
""")
def sketch_count_min(spark, sf):
    """Count-min sketch, built DISTRIBUTIVELY and deterministically:
    d=3 hash rows (md5 with seed prefixes — the repo's engine-portable
    hash idiom), w=256 buckets (2 hex chars AS the bucket key, no
    modulo), counters = ONE map-side-combinable groupBy over (seed,
    bucket) — the d×w grid is 768 rows total regardless of input
    size, the sketch property. Estimates for 3 probe keys join the
    tiny counter grid (broadcast at scale) and take min over rows;
    the CM guarantee est ≥ exact surfaces as an explicit non-negative
    overcount column. Everything is exact integer counts — the sketch
    CONSTRUCTION is deterministic even though the estimate is
    approximate — so the key takes the string-exact gate, like
    heavy_hitters_mg before it."""
    e = t(spark, sf, "events").filter(F.col("user_id").isNotNull())
    seeds = spark.createDataFrame([("1",), ("2",), ("3",)], "seed string")
    h = (e.crossJoin(F.broadcast(seeds))
         .select("seed",
                 F.substring(F.md5(F.concat_ws(
                     ":", "seed", F.col("user_id").cast("string"))), 1, 2)
                 .alias("bucket")))
    counters = h.groupBy("seed", "bucket").agg(
        F.count("*").cast("bigint").alias("c"))
    probes = (e.filter(F.col("user_id").isin(1, 2, 3))
              .groupBy("user_id")
              .agg(F.count("*").cast("bigint").alias("exact_n")))
    ph = (probes.crossJoin(F.broadcast(seeds))
          .select("user_id", "exact_n", "seed",
                  F.substring(F.md5(F.concat_ws(
                      ":", "seed", F.col("user_id").cast("string"))), 1, 2)
                  .alias("bucket")))
    return (ph.join(F.broadcast(counters), ["seed", "bucket"])
            .groupBy("user_id", "exact_n")
            .agg(F.min("c").cast("bigint").alias("cm_est"),
                 (F.min("c") - F.col("exact_n")).cast("bigint")
                 .alias("overcount"))
            .select("user_id", "exact_n", "cm_est", "overcount"))


@q("sketch_histogram_quantile", """
WITH e AS (SELECT value AS v FROM events WHERE value IS NOT NULL),
mm AS (SELECT min(v) AS lo, max(v) AS hi, count(*) AS n FROM e),
b AS (
  SELECT least(CAST(floor((v - lo) / ((hi - lo) / 32.0)) AS BIGINT), 31)
           AS bin,
         count(*) AS c
  FROM e CROSS JOIN mm GROUP BY 1),
cum AS (
  SELECT bin, c, sum(c) OVER (ORDER BY bin) - c AS before_c FROM b),
med AS (
  SELECT bin, c, before_c FROM cum CROSS JOIN mm
  WHERE before_c < 0.5 * n AND before_c + c >= 0.5 * n)
SELECT CAST(mm.n AS BIGINT) AS n,
       ROUND(mm.lo + ((mm.hi - mm.lo) / 32.0)
             * (med.bin + (0.5 * mm.n - med.before_c) / med.c), 4)
         AS est_median,
       ROUND(median(e.v), 4) AS exact_median
FROM e CROSS JOIN mm CROSS JOIN med
GROUP BY mm.n, mm.lo, mm.hi, med.bin, med.c, med.before_c
""")
def sketch_histogram_quantile(spark, sf):
    """Histogram quantile sketch: a 32-bin equi-width histogram (ONE
    map-combinable groupBy; the sketch is 32 rows regardless of input)
    with within-bin linear interpolation for the median estimate,
    published NEXT TO the exact median so the sketch error is visible
    — the AQP pattern of aqp_sample_estimate applied to quantiles.
    Bin counts and cumulative offsets are exact integers (the 32-row
    cumsum is driver-cheap); min/max are exact; the interpolation is
    one formula. The exact median averages the two middle doubles —
    a single add, no float accumulation — so both columns take the
    string-exact gate."""
    e = t(spark, sf, "events").filter(F.col("value").isNotNull()) \
        .select(F.col("value").alias("v"))
    mm = e.agg(F.min("v").alias("lo"), F.max("v").alias("hi"),
               F.count("*").alias("n"))
    width = (F.col("hi") - F.col("lo")) / 32.0
    b = (e.crossJoin(F.broadcast(mm))
         .select(F.least(F.floor((F.col("v") - F.col("lo")) / width)
                         .cast("bigint"), F.lit(31)).alias("bin"))
         .groupBy("bin").agg(F.count("*").alias("c")))
    cum = b.withColumn(
        "before_c",
        F.sum("c").over(W.orderBy("bin")
                        .rowsBetween(W.unboundedPreceding, -1))).fillna(
        {"before_c": 0})
    med = (cum.crossJoin(F.broadcast(mm))
           .filter((F.col("before_c") < 0.5 * F.col("n"))
                   & (F.col("before_c") + F.col("c") >= 0.5 * F.col("n")))
           .select("bin", "c", "before_c"))
    est = (mm.crossJoin(F.broadcast(med))
           .select("n", "lo", "hi", "bin", "c", "before_c",
                   F.round(F.col("lo") + (F.col("hi") - F.col("lo")) / 32.0
                           * (F.col("bin")
                              + (0.5 * F.col("n") - F.col("before_c"))
                              / F.col("c")), 4).alias("est_median")))
    exact = e.agg(F.round(F.median("v"), 4).alias("exact_median"))
    return (est.crossJoin(F.broadcast(exact))
            .select(F.col("n").cast("bigint").alias("n"),
                    "est_median", "exact_median"))


# =========================================================================
# Round-5 additions: fuzzy decontamination, PII redaction, URL dedup
# =========================================================================

@q("decontaminate_fuzzy", r"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS tk
  FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0
), grams AS (
  SELECT DISTINCT doc_id,
         unnest(list_transform(range(1, len(tk) - 1),
                i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS g
  FROM toks WHERE len(tk) >= 3
), sizes AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_g FROM grams GROUP BY doc_id
), bench AS (SELECT doc_id AS bench_id, g FROM grams WHERE doc_id % 11 = 0),
corpus AS (SELECT doc_id, g FROM grams WHERE doc_id % 11 <> 0),
inter AS (
  SELECT c.doc_id, b.bench_id, CAST(count(*) AS BIGINT) AS i
  FROM corpus c JOIN bench b ON c.g = b.g
  GROUP BY c.doc_id, b.bench_id
)
SELECT i.doc_id, i.bench_id,
       ROUND(CAST(i.i AS DOUBLE) / (sc.n_g + sb.n_g - i.i), 6) AS jaccard
FROM inter i
JOIN sizes sc ON sc.doc_id = i.doc_id
JOIN sizes sb ON sb.doc_id = i.bench_id
WHERE CAST(i.i AS DOUBLE) / (sc.n_g + sb.n_g - i.i) >= 0.3
""")
def decontaminate_fuzzy(spark, sf):
    """FUZZY decontamination — the paraphrase-tolerant upgrade of
    decontaminate_overlap: a corpus doc is contaminated when its word
    3-gram set has Jaccard >= 0.3 with ANY benchmark doc (bench split =
    doc_id % 11 == 0, same as the exact twin), not only on literal
    shared grams. LOSSLESS by construction, no LSH probability: any
    pair with Jaccard > 0 shares >= 1 gram, so the gram equi-join
    (bench side broadcast — benchmark suites are tiny next to a 100 TB
    corpus) enumerates a superset of all qualifying pairs, and the
    exact Jaccard i/(|A|+|B|-i) filters them; per-doc distinct-gram
    sizes ride a category-sized broadcast. This is the decontamination
    a training-data pipeline actually runs before eval: exact n-gram
    hits catch copies, the Jaccard bound catches shuffled/partial
    overlaps of the same benchmark item.

    At 100 TB: ONE wide exchange total. The per-doc gram set is
    deduped INSIDE the row (array_distinct over the transform — no
    distinct exchange) and its size rides along as a column, so the
    exploded postings are (doc, gram)-distinct by construction and
    both |A| and |B| arrive with the rows they describe — no separate
    size aggregate, no size-lookup joins. The only REQUIRED exchange
    is the (doc, bench) intersection count's groupBy; the bench side
    broadcasts.

    Two hard-won execution lessons live here (both found when the
    one-exchange rework silently went 1.5 s -> 17.5 s at sf0.1):
    (1) Grams come from word_ngrams, not a higher-order transform
    (see its docstring): the lambda's inferred `size(ga)>0 /
    isnotnull(ga)` filters ran 2-3x per row in the scan stage; the
    regex yields the identical trigram set (verified on the full
    sf0.1 corpus). (2) Map-parallelism guard: with
    no pre-join exchange, explode parallelism equals the SCAN's, and
    a one-row-group input file serializes the whole pipeline. When
    the scan has fewer row groups than the cluster has slots, a
    round-robin repartition of the raw docs (text-sized, cheaper
    than shuffling exploded grams) restores parallelism; at real
    scale the scan has thousands of row groups and the guard never
    fires, keeping the one-exchange plan. Measured: 17.5 s (lambda,
    no guard) -> 9.6 s (lambda + guard) -> 1.09 s (regex + guard)."""
    # widen BEFORE the cheap null/length filter: the cheap predicates
    # still reach the scan via pushdown, below the round-robin exchange
    d = (widen(spark, t(spark, sf, "documents"))
         .filter(F.col("text").isNotNull()
                 & (F.length(F.trim("text")) > 0)))
    ga = F.array_distinct(word_ngrams(spaced(), 3))
    # no size(ga) > 0 filter: explode() drops empty arrays anyway, and
    # the explicit filter was sliding below the round-robin exchange
    # (PushDownPredicates), re-running the gram regex on the scan's
    # single task — the same trap as the now-excluded
    # InferFiltersFromGenerate (see build_session)
    garr = d.select("doc_id", ga.alias("ga"))
    # n_g is computed BEFORE the explode so the Generate's required
    # child output is (doc_id, n_g), not the whole gram array — a
    # size() above the Generate would carry ga per exploded row.
    # pin() on n_g: the final jaccard filter lets
    # InferFiltersFromConstraints derive isnotnull(n_g), which would
    # otherwise carry the whole gram regex below the widen() exchange
    posts = (garr.select(
                 "doc_id", pin(F.size("ga").cast("bigint")).alias("n_g"),
                 "ga")
             .select("doc_id", "n_g", F.explode("ga").alias("g")))
    bench = (posts.filter(F.col("doc_id") % 11 == 0)
             .select(F.col("doc_id").alias("bench_id"),
                     F.col("n_g").alias("nb"), "g"))
    corpus = posts.filter(F.col("doc_id") % 11 != 0)
    inter = (corpus.join(F.broadcast(bench), "g")
             .groupBy("doc_id", "bench_id", "n_g", "nb")
             .agg(F.count("*").cast("bigint").alias("i")))
    jac = F.col("i").cast("double") / (F.col("n_g") + F.col("nb") - F.col("i"))
    return (inter.filter(jac >= 0.3)
            .select("doc_id", "bench_id", F.round(jac, 6).alias("jaccard")))


_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
_PII_PHONE = r"[0-9]{3}-[0-9]{3}-[0-9]{4}"


@q("text_pii_redact", rf"""
WITH aug AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 7 = 0
                 THEN ' contact user' || CAST(doc_id AS VARCHAR)
                      || '@example.com now' ELSE '' END
         || CASE WHEN doc_id % 13 = 0
                 THEN ' call ' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                      || '-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                 ELSE '' END AS txt
  FROM documents WHERE text IS NOT NULL
)
SELECT doc_id,
       CAST(len(regexp_split_to_array(txt, '{_PII_EMAIL}')) - 1 AS BIGINT)
           AS n_emails,
       CAST(len(regexp_split_to_array(txt, '{_PII_PHONE}')) - 1 AS BIGINT)
           AS n_phones,
       md5(regexp_replace(regexp_replace(txt, '{_PII_EMAIL}', '<EMAIL>', 'g'),
                          '{_PII_PHONE}', '<PHONE>', 'g')) AS clean_md5
FROM aug
""")
def text_pii_redact(spark, sf):
    """PII redaction over document text — the privacy scrub a corpus
    passes before training: regex-detect emails and phone numbers,
    count them per doc, and emit the md5 of the redacted text (counts
    prove detection; the hash proves the REPLACEMENT bytes, so a
    half-redacted doc cannot pass). Test data has no natural PII, so
    both engines deterministically INJECT an email into every 7th doc
    and a phone into every 13th from doc_id alone — the redactor is
    then verified against known-positive and known-negative rows in
    the same run. Patterns stay in the Java-regex/RE2 common subset so
    the two engines match identical spans. Complements
    pii_pseudonymize (which hashes IDENTIFIER COLUMNS; this scrubs
    free text). Pure JVM regexp — one scan, no shuffle, no UDF."""
    d = t(spark, sf, "documents").filter(F.col("text").isNotNull())
    txt = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 7 == 0,
               F.concat(F.lit(" contact user"),
                        F.col("doc_id").cast("string"),
                        F.lit("@example.com now"))).otherwise(""),
        F.when(F.col("doc_id") % 13 == 0,
               F.concat(F.lit(" call "),
                        F.lpad((F.col("doc_id") % 1000).cast("string"),
                               3, "0"),
                        F.lit("-555-"),
                        F.lpad((F.col("doc_id") % 10000).cast("string"),
                               4, "0"))).otherwise(""))
    a = d.select("doc_id", txt.alias("txt"))
    return a.select(
        "doc_id",
        (F.size(F.split("txt", _PII_EMAIL, -1)) - 1).cast("bigint")
        .alias("n_emails"),
        (F.size(F.split("txt", _PII_PHONE, -1)) - 1).cast("bigint")
        .alias("n_phones"),
        F.md5(F.encode(
            F.regexp_replace(
                F.regexp_replace("txt", _PII_EMAIL, "<EMAIL>"),
                _PII_PHONE, "<PHONE>"), "utf-8")).alias("clean_md5"))


@q("corpus_url_dedup", """
WITH urls AS (
  SELECT doc_id,
         'HTTPS://' || source || '.Example.COM/page/'
         || CAST(doc_id % 50 AS VARCHAR)
         || CASE WHEN doc_id % 3 = 0
                 THEN '?utm_source=feed&sid=' || CAST(doc_id AS VARCHAR)
                 ELSE '' END
         || CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END AS url
  FROM documents
), norm AS (
  SELECT doc_id,
         regexp_replace(
           lower(regexp_replace(regexp_replace(url, '^[Hh][Tt][Tt][Pp][Ss]?://', ''),
                                '\\?.*$', '')), '/+$', '') AS nurl
  FROM urls
)
SELECT nurl, CAST(count(*) AS BIGINT) AS n_docs,
       CAST(min(doc_id) AS BIGINT) AS keep_id
FROM norm GROUP BY nurl
""")
def corpus_url_dedup(spark, sf):
    """URL-normalized deduplication — the first dedup pass of every
    web-crawl pipeline: canonicalize each document's URL (lowercase,
    strip scheme, strip query string, strip trailing slash) and
    collapse to one kept doc per canonical URL (min doc_id, the
    deterministic survivor rule dedup_keep_best also uses). The corpus
    has categorical sources rather than real URLs, so both engines
    derive the SAME synthetic URL from (source, doc_id) — scheme-case,
    utm-query and trailing-slash variants injected deterministically —
    and the normalizer is verified against all three variant classes
    at once. One hash exchange on the canonical URL with map-side
    partial aggregation; at 100 TB this is the cheapest dedup stage
    and runs FIRST, before any content hashing."""
    d = t(spark, sf, "documents")
    url = F.concat(
        F.lit("HTTPS://"), F.col("source"), F.lit(".Example.COM/page/"),
        (F.col("doc_id") % 50).cast("string"),
        F.when(F.col("doc_id") % 3 == 0,
               F.concat(F.lit("?utm_source=feed&sid="),
                        F.col("doc_id").cast("string"))).otherwise(""),
        F.when(F.col("doc_id") % 5 == 0, F.lit("/")).otherwise(""))
    nurl = F.regexp_replace(F.lower(F.regexp_replace(
        F.regexp_replace(url, r"^[Hh][Tt][Tt][Pp][Ss]?://", ""),
        r"\?.*$", "")), r"/+$", "")
    return (d.select(nurl.alias("nurl"), "doc_id")
            .groupBy("nurl")
            .agg(F.count("*").cast("bigint").alias("n_docs"),
                 F.min("doc_id").cast("bigint").alias("keep_id")))


@q("conv_tool_stats", """
WITH tr AS (
  SELECT 'conv-' || lpad(CAST(doc_id % 50 AS VARCHAR), 8, '0') AS conv_id,
         CAST(doc_id // 50 AS INT) AS turn_idx,
         CASE CAST(doc_id % 4 AS INT)
              WHEN 0 THEN 'user' WHEN 1 THEN 'assistant'
              WHEN 2 THEN 'assistant' ELSE 'tool' END AS role,
         CASE WHEN doc_id % 4 = 3
              THEN 'tool-' || CAST(doc_id % 5 AS VARCHAR) ELSE '' END AS tool
  FROM documents WHERE text IS NOT NULL
)
SELECT conv_id,
       CAST(count(*) AS BIGINT) AS n_turns,
       CAST(count(*) FILTER (role = 'assistant') AS BIGINT) AS n_assistant,
       CAST(count(*) FILTER (role = 'tool') AS BIGINT) AS n_tool_calls,
       CAST(count(DISTINCT CASE WHEN tool <> '' THEN tool END) AS BIGINT)
           AS n_distinct_tools,
       CAST(min(CASE WHEN role = 'tool' THEN turn_idx END) AS BIGINT)
           AS first_tool_turn,
       ROUND(CAST(count(*) FILTER (role = 'assistant') AS DOUBLE)
             / count(*), 6) AS assistant_ratio
FROM tr GROUP BY conv_id
""")
def conv_tool_stats(spark, sf):
    """Per-conversation role/tool analytics over the north-rule
    transcript shape (conv_id, turn_idx, role, tool): assistant/tool
    turn counts, distinct tools invoked, the first tool-call position,
    and the assistant-turn ratio — the agent-trace profiling an
    SFT/agentic pipeline runs to stratify conversations before
    sampling (pure tool-relay convs, tool-free convs, tool-heavy
    convs). Roles/tools are derived deterministically from doc_id with
    the same documents→transcripts mapping the flagship entry() uses,
    so both engines construct identical input. One hash exchange on
    conv_id with full partial aggregation — the same A8 grouping the
    reassembly keys use, with count-distinct rewritten engine-portably
    (CASE-null trick on both sides)."""
    d = t(spark, sf, "documents").filter(F.col("text").isNotNull())
    tr = d.select(
        conv_id(),
        (F.col("doc_id") / 50).cast("int").alias("turn_idx"),
        F.element_at(F.array(F.lit("user"), F.lit("assistant"),
                             F.lit("assistant"), F.lit("tool")),
                     (F.col("doc_id") % 4 + 1).cast("int")).alias("role"),
        F.when(F.col("doc_id") % 4 == 3,
               F.concat(F.lit("tool-"),
                        (F.col("doc_id") % 5).cast("string")))
        .otherwise("").alias("tool"))
    is_asst = F.col("role") == "assistant"
    return (tr.groupBy("conv_id").agg(
        F.count("*").cast("bigint").alias("n_turns"),
        F.count_if(is_asst).cast("bigint").alias("n_assistant"),
        F.count_if(F.col("role") == "tool").cast("bigint")
        .alias("n_tool_calls"),
        # size(collect_set) not countDistinct: the distinct-aggregate
        # rewrite would plan a second (expand) exchange; the set is
        # bounded by the tool vocabulary, so one exchange suffices
        F.size(F.collect_set(F.when(F.col("tool") != "", F.col("tool"))))
        .cast("bigint").alias("n_distinct_tools"),
        F.min(F.when(F.col("role") == "tool", F.col("turn_idx")))
        .cast("bigint").alias("first_tool_turn"),
        F.round(F.count_if(is_asst).cast("double") / F.count("*"), 6)
        .alias("assistant_ratio")))


@q("rlhf_pref_pairs", """
WITH scored AS (
  SELECT doc_id, lang, CAST(doc_id % 20 AS BIGINT) AS prompt_id,
         CAST(n_chars AS BIGINT) * 1000 + doc_id % 1000 AS score
  FROM documents
  WHERE text IS NOT NULL AND lang IS NOT NULL
), ranked AS (
  SELECT prompt_id, lang, doc_id, score,
         row_number() OVER (PARTITION BY lang, prompt_id
                            ORDER BY score DESC, doc_id) AS rn_top,
         row_number() OVER (PARTITION BY lang, prompt_id
                            ORDER BY score ASC, doc_id) AS rn_bot
  FROM scored
)
SELECT t.lang, t.prompt_id,
       t.doc_id AS chosen_id, b.doc_id AS rejected_id,
       t.score - b.score AS margin
FROM ranked t JOIN ranked b
  ON t.lang = b.lang AND t.prompt_id = b.prompt_id
WHERE t.rn_top = 1 AND b.rn_bot = 1 AND t.doc_id <> b.doc_id
""")
def rlhf_pref_pairs(spark, sf):
    """Preference-pair construction for DPO/RLHF data prep: within
    each (lang, prompt bucket) group, pair the highest-scored response
    (chosen) with the lowest-scored (rejected) and emit the score
    margin — the standard max-margin pairing when responses carry a
    scalar quality signal. The score is EXACT integer arithmetic
    (n_chars*1000 + doc_id%1000: a deterministic quality proxy with a
    built-in unique tie-break), so both engines rank identically with
    no float-order hazard; groups with a single doc produce no pair
    (chosen <> rejected guard on both sides). The pairing is ONE
    map-side-combinable aggregate — chosen = max(struct(score,
    -doc_id)) and rejected = min(struct(score, doc_id)), lexicographic
    struct comparison encoding both the score order and the min-doc_id
    tie-break — so the whole op is a single keyed exchange with NO
    join and no window (the first cut ran two rank windows + a
    broadcast self-join: two exchanges for the same answer). The
    DuckDB oracle keeps the row_number formulation, so the gate
    cross-checks two independent formulations of the same spec."""
    d = (t(spark, sf, "documents")
         .filter(F.col("text").isNotNull() & F.col("lang").isNotNull())
         .select("doc_id", "lang",
                 (F.col("doc_id") % 20).cast("bigint").alias("prompt_id"),
                 (F.col("n_chars").cast("bigint") * 1000
                  + F.col("doc_id") % 1000).alias("score")))
    agg = d.groupBy("lang", "prompt_id").agg(
        F.max(F.struct(F.col("score"),
                       (-F.col("doc_id")).alias("nid"))).alias("top"),
        F.min(F.struct(F.col("score"), F.col("doc_id"))).alias("bot"))
    return (agg.select(
        "lang", "prompt_id",
        (-F.col("top.nid")).alias("chosen_id"),
        F.col("bot.doc_id").alias("rejected_id"),
        (F.col("top.score") - F.col("bot.score")).alias("margin"))
        .filter(F.col("chosen_id") != F.col("rejected_id")))


@q("source_icelite_schema_evolution", """
WITH old AS (
  SELECT event_id, user_id, CAST(NULL AS VARCHAR) AS event_type
  FROM events WHERE event_id % 2 = 0
), new AS (
  SELECT event_id, user_id, event_type
  FROM events WHERE event_id % 2 = 1
), u AS (SELECT * FROM old UNION ALL SELECT * FROM new)
SELECT coalesce(event_type, '<pre-evolution>') AS event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(count(event_type) AS BIGINT) AS n_with_col,
       max(event_id) AS max_id
FROM u GROUP BY 1
""")
def source_icelite_schema_evolution(spark, sf):
    """ADDITIVE SCHEMA EVOLUTION through the table format, oracled:
    commit 1 writes (event_id, user_id); commit 2 ADDS event_type;
    reading the head snapshot yields the union schema with
    pre-evolution rows null-filled — Iceberg's add-column semantics,
    which DuckDB predicts relationally (old half → NULL column), so
    the evolution property itself takes the string-exact gate. The
    scan is planned from MANIFEST column signatures (recorded at
    commit time): each homogeneous file group is one scan typed by one
    footer and unionByName null-fills — no per-file footer read at
    plan time, the Iceberg model at 10^5-file manifests (icelite.py
    read())."""
    from .icelite import IceliteTable, write_dataframe_files
    tbl = IceliteTable(_scratch("icelite_schema_evo"))
    e = t(spark, sf, "events")
    f1 = write_dataframe_files(
        e.filter(F.col("event_id") % 2 == 0).select("event_id", "user_id"),
        tbl.new_commit_dir("c1"))
    tbl.commit_append(f1)
    f2 = write_dataframe_files(
        e.filter(F.col("event_id") % 2 == 1)
        .select("event_id", "user_id", "event_type"),
        tbl.new_commit_dir("c2"))
    tbl.commit_append(f2)
    merged = tbl.read(spark)
    return (merged.groupBy(
        F.coalesce("event_type", F.lit("<pre-evolution>"))
        .alias("event_type"))
        .agg(F.count("*").cast("bigint").alias("n"),
             F.count("event_type").cast("bigint").alias("n_with_col"),
             F.max("event_id").alias("max_id")))


@q("pack_sequences_ffd", r"""
WITH RECURSIVE s AS (
  SELECT source, doc_id,
         CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n,
         row_number() OVER (PARTITION BY source
                            ORDER BY len(regexp_split_to_array(trim(text), '\s+')) DESC,
                                     doc_id) AS rn
  FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0
), r AS (
  SELECT source, doc_id, n, rn,
         [n] AS bins, CAST(1 AS BIGINT) AS bin, CAST(0 AS BIGINT) AS off
  FROM s WHERE rn = 1
  UNION ALL
  SELECT s.source, s.doc_id, s.n, s.rn,
         CASE WHEN x.idx = 0 THEN list_append(r.bins, s.n)
              ELSE r.bins[:x.idx - 1] || [r.bins[x.idx] + s.n]
                   || r.bins[x.idx + 1:] END,
         CASE WHEN x.idx = 0 THEN len(r.bins) + 1
              ELSE CAST(x.idx AS BIGINT) END,
         CASE WHEN x.idx = 0 THEN 0 ELSE r.bins[x.idx] END
  FROM r JOIN s ON s.source = r.source AND s.rn = r.rn + 1,
       LATERAL (SELECT coalesce(list_position(
                  list_transform(r.bins, b -> b + s.n <= 256), true),
                  0) AS idx) x
)
SELECT source, doc_id, n AS n_tokens, bin AS bin_id, off AS offset_in_bin
FROM r
""")
def pack_sequences_ffd(spark, sf):
    """FIRST-FIT-DECREASING sequence packing — the production upgrade
    of pack_sequences_nextfit: sort each source's documents by token
    count descending (doc_id tie-break), place each into the FIRST
    open pack with room, else open a new pack. FFD is the classic
    11/9·OPT+1 bin-packing approximation; against next-fit's 2·OPT it
    is what batch-construction pipelines actually run when pad-token
    waste matters. Oversized docs (> 256 tokens) fit no pack and
    isolate themselves naturally (b + n <= budget fails even for an
    empty-pack load of 0 only when n > budget... i.e. they open a
    pack no later doc can join). Same Spark shape as next-fit —
    packing is sequential PER GROUP, so applyInPandas over source
    shards, parallelism from the shard count. The oracle is a DuckDB
    RECURSIVE CTE threading the ENTIRE bin-load LIST through the
    recursion (list_position over list_transform finds the first
    fitting bin — the imperative first-fit scan as a list expression);
    the Python kernel and the recursive query agree row-for-row on
    (bin_id, offset), not just on pack counts."""
    d = (t(spark, sf, "documents")
         .filter(F.col("text").isNotNull() & (F.length(F.trim("text")) > 0))
         .select("source", "doc_id",
                 F.size(words()).cast("bigint").alias("n_tokens")))
    out_schema = T.StructType([
        T.StructField("source", T.StringType()),
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_tokens", T.LongType()),
        T.StructField("bin_id", T.LongType()),
        T.StructField("offset_in_bin", T.LongType()),
    ])

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["n_tokens", "doc_id"],
                              ascending=[False, True]).reset_index(drop=True)
        loads: list[int] = []
        bins = np.zeros(len(pdf), dtype=np.int64)
        offs = np.zeros(len(pdf), dtype=np.int64)
        for i, n in enumerate(pdf["n_tokens"].to_numpy()):
            for j, b in enumerate(loads):
                if b + n <= _PACK_BUDGET:
                    bins[i], offs[i] = j + 1, b
                    loads[j] = b + n
                    break
            else:
                loads.append(int(n))
                bins[i], offs[i] = len(loads), 0
        pdf["bin_id"] = bins
        pdf["offset_in_bin"] = offs
        return pdf[["source", "doc_id", "n_tokens", "bin_id",
                    "offset_in_bin"]]

    return d.groupBy("source").applyInPandas(pack, out_schema)


@q("eval_pass_at_k", """
WITH s AS (
  SELECT CAST(user_id % 50 AS BIGINT) AS problem_id,
         CAST(count(*) AS BIGINT) AS n,
         CAST(count(*) FILTER (value > 0.6) AS BIGINT) AS c
  FROM events WHERE value IS NOT NULL
  GROUP BY 1
), f AS (
  SELECT problem_id, n, c, n - c AS w FROM s WHERE n >= 5
)
SELECT problem_id, n, c,
       ROUND(CASE WHEN w < 5 THEN 1.0
             ELSE 1.0 - ((((
                  (CAST(w AS DOUBLE) / n)
                  * (CAST(w - 1 AS DOUBLE) / (n - 1)))
                  * (CAST(w - 2 AS DOUBLE) / (n - 2)))
                  * (CAST(w - 3 AS DOUBLE) / (n - 3)))
                  * (CAST(w - 4 AS DOUBLE) / (n - 4)))
             END, 6) AS pass_at_5
FROM f
""")
def eval_pass_at_k(spark, sf):
    """pass@k (k = 5) — the code/agent-eval estimator (Chen et al.
    2021): given n samples per problem with c passing, the unbiased
    probability that at least one of k drawn samples passes is
    1 - C(n-c, k)/C(n, k) = 1 - prod_{i<k} (w-i)/(n-i), w = n-c.
    Computed as the RATIO-FACTOR product, each factor a double
    division, multiplied in one fixed left-associated order written
    identically in both engines — IEEE double ops are deterministic,
    so the strings agree, and every factor is <= 1 so the form is
    overflow-free for ANY n (the first cut used exact bigint falling
    factorials, which overflow at n ~ 6,200 for k = 5: the 4x-sf0.1
    growth study caught it as an ANSI ARITHMETIC_OVERFLOW — exactly
    the failure mode the growth protocol exists to catch). Each
    (problem, sample) group is one map-side-combinable aggregate; the
    estimator is a scalar projection — at 100 TB of eval logs this is
    a single count-style pass. Samples: events bucketed into 50
    problems, 'pass' = value > 0.6 (deterministic proxy; real
    harnesses supply a boolean column and the identical plan runs)."""
    e = t(spark, sf, "events").filter(F.col("value").isNotNull())
    s = (e.groupBy((F.col("user_id") % 50).cast("bigint")
                   .alias("problem_id"))
         .agg(F.count("*").cast("bigint").alias("n"),
              F.count_if(F.col("value") > 0.6).cast("bigint").alias("c"))
         .filter(F.col("n") >= 5))
    n, w = F.col("n"), F.col("n") - F.col("c")
    prod = (((((w.cast("double") / n)
               * ((w - 1).cast("double") / (n - 1)))
              * ((w - 2).cast("double") / (n - 2)))
             * ((w - 3).cast("double") / (n - 3)))
            * ((w - 4).cast("double") / (n - 4)))
    return s.select(
        "problem_id", "n", "c",
        F.round(F.when(w < 5, F.lit(1.0))
                .otherwise(F.lit(1.0) - prod), 6)
        .alias("pass_at_5"))


@q("eval_rouge1_f1", r"""
WITH pairs AS (
  SELECT a.doc_id AS cand_id, b.doc_id AS ref_id,
         list_distinct(regexp_split_to_array(trim(a.text), '\s+')) AS ca,
         list_distinct(regexp_split_to_array(trim(b.text), '\s+')) AS rf
  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
  WHERE a.doc_id % 10 = 0 AND a.text IS NOT NULL AND b.text IS NOT NULL
    AND length(trim(a.text)) > 0 AND length(trim(b.text)) > 0
), m AS (
  SELECT cand_id, ref_id,
         CAST(len(list_intersect(ca, rf)) AS BIGINT) AS inter,
         CAST(len(ca) AS BIGINT) AS nc, CAST(len(rf) AS BIGINT) AS nr
  FROM pairs
)
SELECT cand_id, ref_id,
       ROUND(CAST(inter AS DOUBLE) / nc, 6) AS p1,
       ROUND(CAST(inter AS DOUBLE) / nr, 6) AS r1,
       ROUND(CASE WHEN inter = 0 THEN 0.0
             ELSE 2.0 * inter / (nc + nr) END, 6) AS f1
FROM m
""")
def eval_rouge1_f1(spark, sf):
    """ROUGE-1 (distinct-unigram) precision/recall/F1 between
    candidate/reference text pairs — the generation-eval overlap
    metric next to the ranking metrics (eval_mrr/ndcg) and the
    classification metrics (eval_confusion/auc). Pairs are adjacent
    doc_ids (every 10th doc as candidate, its successor as reference
    — a deterministic pairing both engines construct; a real harness
    supplies (cand, ref) columns and the identical plan runs).
    Token sets are deduped INSIDE the row (array_distinct — the
    decontaminate_fuzzy trick), intersections are array_intersect,
    and the only joins are the id-adjacency equi-join; F1's
    2i/(nc+nr) identity avoids the p*r/(p+r) float fold so the
    rounded values are engine-exact."""
    d = (t(spark, sf, "documents")
         .filter(F.col("text").isNotNull()
                 & (F.length(F.trim("text")) > 0)))
    a = (d.filter(F.col("doc_id") % 10 == 0)
         .select(F.col("doc_id").alias("cand_id"),
                 F.array_distinct(words()).alias("ca")))
    b = d.select(F.col("doc_id").alias("ref_id"),
                 F.array_distinct(words()).alias("rf"))
    j = a.join(b, F.col("ref_id") == F.col("cand_id") + 1)
    inter = F.size(F.array_intersect("ca", "rf")).cast("bigint")
    nc = F.size("ca").cast("bigint")
    nr = F.size("rf").cast("bigint")
    return j.select(
        "cand_id", "ref_id",
        F.round(inter.cast("double") / nc, 6).alias("p1"),
        F.round(inter.cast("double") / nr, 6).alias("r1"),
        F.round(F.when(inter == 0, F.lit(0.0))
                .otherwise(F.lit(2.0) * inter / (nc + nr)), 6).alias("f1"))


@q("text_nb_train", r"""
WITH d AS (
  SELECT doc_id, lang,
         list_distinct(regexp_split_to_array(trim(text), '\s+')) AS tk
  FROM documents
  WHERE text IS NOT NULL AND lang IS NOT NULL AND length(trim(text)) > 0
), nc AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_c FROM d GROUP BY lang),
tok AS (SELECT doc_id, lang, unnest(tk) AS t FROM d),
dfreq AS (
  SELECT lang, t, CAST(count(*) AS BIGINT) AS df
  FROM tok GROUP BY lang, t
)
SELECT f.lang, f.t AS token, f.df, nc.n_c,
       CAST(ROUND(ln((f.df + 1.0) / (nc.n_c + 2.0)) * 1000000, 0) AS BIGINT)
           AS w_micro
FROM dfreq f JOIN nc USING (lang)
""")
def text_nb_train(spark, sf):
    """Distributed Naive Bayes TRAINING (Bernoulli-presence model,
    lang as the class): per-(class, token) document frequencies →
    Laplace-smoothed log likelihood log((df+1)/(N_c+2)), emitted in
    INTEGER MICRO-UNITS so downstream scoring can SUM exactly (the
    search_bm25 trick: one double log per weight — computed from an
    exact rational, identical in both engines — then rounded once; no
    float folds anywhere). This is the quality/language-classifier
    training a curation pipeline runs at corpus scale (fastText-class
    models are the same shape: per-token weights from one counting
    pass): ONE map-side-combinable aggregate over (class, token) plus
    a broadcast class-size join — no iteration, no driver data. The
    model table is vocabulary x classes, broadcastable to the scorer
    (text_nb_classify)."""
    d = (t(spark, sf, "documents")
         .filter(F.col("text").isNotNull() & F.col("lang").isNotNull()
                 & (F.length(F.trim("text")) > 0))
         .select("doc_id", "lang",
                 F.array_distinct(words()).alias("tk")))
    nc = d.groupBy("lang").agg(F.count("*").cast("bigint").alias("n_c"))
    tok = d.select("doc_id", "lang", F.explode("tk").alias("t"))
    dfreq = (tok.groupBy("lang", "t")
             .agg(F.count("*").cast("bigint").alias("df")))
    return (dfreq.join(F.broadcast(nc), "lang")
            .select("lang", F.col("t").alias("token"), "df", "n_c",
                    F.round(F.log((F.col("df") + 1.0)
                                  / (F.col("n_c") + 2.0)) * 1000000, 0)
                    .cast("bigint").alias("w_micro")))


@q("text_nb_classify", r"""
WITH d AS (
  SELECT doc_id, lang,
         list_distinct(regexp_split_to_array(trim(text), '\s+')) AS tk
  FROM documents
  WHERE text IS NOT NULL AND lang IS NOT NULL AND length(trim(text)) > 0
), nc AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_c FROM d GROUP BY lang),
n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d),
prior AS (
  SELECT lang,
         CAST(ROUND(ln(CAST(n_c AS DOUBLE) / n.n) * 1000000, 0) AS BIGINT)
             AS p_micro
  FROM nc, n),
tok AS (SELECT doc_id, lang, unnest(tk) AS t FROM d),
model AS (
  SELECT lang, t, CAST(ROUND(ln((count(*) + 1.0)
                  / (any_value(nc2.n_c) + 2.0)) * 1000000, 0) AS BIGINT)
             AS w_micro
  FROM tok JOIN nc nc2 USING (lang)
  GROUP BY lang, t
), probe AS (SELECT doc_id, unnest(tk) AS t FROM d WHERE doc_id % 5 = 0),
scored AS (
  SELECT p.doc_id, m.lang,
         CAST(sum(m.w_micro) AS BIGINT) AS s_micro
  FROM probe p JOIN model m ON p.t = m.t
  GROUP BY p.doc_id, m.lang
), withp AS (
  SELECT s.doc_id, s.lang, s.s_micro + pr.p_micro AS score_micro,
         row_number() OVER (PARTITION BY s.doc_id
                            ORDER BY s.s_micro + pr.p_micro DESC, s.lang)
             AS rn
  FROM scored s JOIN prior pr USING (lang)
)
SELECT doc_id, lang AS pred_lang, CAST(score_micro AS BIGINT) AS score_micro
FROM withp WHERE rn = 1
""")
def text_nb_classify(spark, sf):
    """Naive Bayes SCORING over the trained model (text_nb_train's
    weights re-derived in-plan): every 5th doc is the probe set, each
    probe token inner-joins the BROADCAST model table (tokens absent
    from a class's vocabulary contribute nothing — documented
    Bernoulli-presence simplification), per-(doc, class) scores are
    EXACT INTEGER sums of micro-unit weights plus the class log-prior
    (order-independent — the property that makes the argmax
    deterministic cross-engine), and the predicted class is the
    rank-1 row ordered by (score DESC, lang) so even exact ties break
    identically. At 100 TB: the model is vocabulary-sized and
    broadcasts; the probe side never shuffles until the per-doc
    aggregate — one keyed exchange plus the argmax window on the
    |probes| x |classes| scored table."""
    d = (t(spark, sf, "documents")
         .filter(F.col("text").isNotNull() & F.col("lang").isNotNull()
                 & (F.length(F.trim("text")) > 0))
         .select("doc_id", "lang",
                 F.array_distinct(words()).alias("tk")))
    nc = d.groupBy("lang").agg(F.count("*").cast("bigint").alias("n_c"))
    n = d.agg(F.count("*").cast("bigint").alias("n"))
    prior = (nc.crossJoin(F.broadcast(n))
             .select("lang",
                     F.round(F.log(F.col("n_c").cast("double")
                                   / F.col("n")) * 1000000, 0)
                     .cast("bigint").alias("p_micro")))
    tok = d.select("doc_id", "lang", F.explode("tk").alias("t"))
    model = (tok.groupBy("lang", "t")
             .agg(F.count("*").cast("bigint").alias("df"))
             .join(F.broadcast(nc), "lang")
             .select("lang", "t",
                     F.round(F.log((F.col("df") + 1.0)
                                   / (F.col("n_c") + 2.0)) * 1000000, 0)
                     .cast("bigint").alias("w_micro")))
    probe = (d.filter(F.col("doc_id") % 5 == 0)
             .select("doc_id", F.explode("tk").alias("t")))
    scored = (probe.join(F.broadcast(model), "t")
              .groupBy("doc_id", "lang")
              .agg(F.sum("w_micro").cast("bigint").alias("s_micro")))
    withp = (scored.join(F.broadcast(prior), "lang")
             .select("doc_id", "lang",
                     (F.col("s_micro") + F.col("p_micro"))
                     .alias("score_micro")))
    w = W.partitionBy("doc_id").orderBy(F.col("score_micro").desc(), "lang")
    return (withp.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("doc_id", F.col("lang").alias("pred_lang"),
                    F.col("score_micro").cast("bigint").alias("score_micro")))


@q("eval_cer", r"""
WITH norm AS (
  SELECT doc_id, regexp_replace(trim(text), '\s+', ' ', 'g') AS nt
  FROM documents
  WHERE text IS NOT NULL AND length(trim(text)) > 0
    AND strlen(text) = length(text)
)
SELECT a.doc_id AS cand_id, b.doc_id AS ref_id,
       CAST(levenshtein(a.nt, b.nt) AS BIGINT) AS dist,
       CAST(length(b.nt) AS BIGINT) AS ref_chars,
       ROUND(CAST(levenshtein(a.nt, b.nt) AS DOUBLE) / length(b.nt), 6)
           AS cer
FROM norm a JOIN norm b ON b.doc_id = a.doc_id + 1
WHERE a.doc_id % 10 = 0
""")
def eval_cer(spark, sf):
    """Character Error Rate — the OCR/ASR transcription metric:
    levenshtein(candidate, reference) / |reference| on
    whitespace-normalized text, candidate/reference pairs formed by
    the same adjacent-doc_id pairing eval_rouge1_f1 uses (a real
    harness supplies the two columns and the identical plan runs).
    The edit distance runs in the JVM (codegen levenshtein,
    O(|a|*|b|) per pair) after an id-adjacency equi-join — fully
    distributed, no shuffle beyond the join, and at 100 TB each pair
    is independent so the stage scales embarrassingly. ENGINE NOTE:
    Spark's levenshtein counts UTF-16 units while DuckDB's counts
    bytes, so the op guards on ASCII text (octet_length = char
    length on the Spark side, strlen = length on the DuckDB side)
    where the two definitions coincide; non-ASCII transcripts need a
    codepoint-level UDF and the guard documents that boundary."""
    d = (t(spark, sf, "documents")
         .filter(F.col("text").isNotNull()
                 & (F.length(F.trim("text")) > 0)
                 & (F.octet_length("text") == F.length("text")))
         .select("doc_id", spaced().alias("nt")))
    a = d.select(F.col("doc_id").alias("cand_id"), F.col("nt").alias("ca"))
    b = d.select(F.col("doc_id").alias("ref_id"), F.col("nt").alias("rf"))
    j = (a.filter(F.col("cand_id") % 10 == 0)
         .join(b, F.col("ref_id") == F.col("cand_id") + 1))
    dist = F.levenshtein("ca", "rf").cast("bigint")
    return j.select(
        "cand_id", "ref_id", dist.alias("dist"),
        F.length("rf").cast("bigint").alias("ref_chars"),
        F.round(dist.cast("double") / F.length("rf"), 6).alias("cer"))


@q("eval_token_f1", r"""
WITH pairs AS (
  SELECT a.doc_id AS cand_id, b.doc_id AS ref_id,
         regexp_split_to_array(trim(a.text), '\s+') AS ca,
         regexp_split_to_array(trim(b.text), '\s+') AS rf
  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
  WHERE a.doc_id % 10 = 0 AND a.text IS NOT NULL AND b.text IS NOT NULL
    AND length(trim(a.text)) > 0 AND length(trim(b.text)) > 0
), ct AS (
  SELECT cand_id, t, CAST(count(*) AS BIGINT) AS cc
  FROM (SELECT cand_id, unnest(ca) AS t FROM pairs) GROUP BY 1, 2
), rt AS (
  SELECT cand_id, t, CAST(count(*) AS BIGINT) AS cr
  FROM (SELECT cand_id, unnest(rf) AS t FROM pairs) GROUP BY 1, 2
), ov AS (
  SELECT cand_id, CAST(sum(least(cc, cr)) AS BIGINT) AS overlap
  FROM ct JOIN rt USING (cand_id, t) GROUP BY 1
)
SELECT p.cand_id, p.ref_id,
       CAST(coalesce(o.overlap, 0) AS BIGINT) AS overlap,
       CAST(len(p.ca) AS BIGINT) AS nc, CAST(len(p.rf) AS BIGINT) AS nr,
       ROUND(CAST(coalesce(o.overlap, 0) AS DOUBLE) / len(p.ca), 6) AS p,
       ROUND(CAST(coalesce(o.overlap, 0) AS DOUBLE) / len(p.rf), 6) AS r,
       ROUND(CASE WHEN coalesce(o.overlap, 0) = 0 THEN 0.0
             ELSE 2.0 * o.overlap / (len(p.ca) + len(p.rf)) END, 6) AS f1
FROM pairs p LEFT JOIN ov o USING (cand_id)
""")
def eval_token_f1(spark, sf):
    """SQuAD-style token F1 with MULTIPLICITY CLIPPING — overlap =
    sum over tokens of min(count_cand, count_ref), which is what the
    reading-comprehension eval actually computes and what
    eval_rouge1_f1's distinct-set intersection deliberately is not.
    Per-pair token counts fold in one hash aggregate each, the
    overlap is an equi-join on (pair, token) + a sum, and the
    zero-overlap pairs are restored by a left join against the pair
    spine — every stage map-combinable, keyed on (pair, token), no
    per-pair quadratic work anywhere. At 100 TB the token-count
    aggregates dominate and they partial-aggregate map-side."""
    d = (t(spark, sf, "documents")
         .filter(F.col("text").isNotNull()
                 & (F.length(F.trim("text")) > 0)))
    a = (d.filter(F.col("doc_id") % 10 == 0)
         .select(F.col("doc_id").alias("cand_id"),
                 words().alias("ca")))
    b = d.select(F.col("doc_id").alias("ref_id"),
                 words().alias("rf"))
    pairs = a.join(b, F.col("ref_id") == F.col("cand_id") + 1)
    ct = (pairs.select("cand_id", F.explode("ca").alias("t"))
          .groupBy("cand_id", "t")
          .agg(F.count("*").cast("bigint").alias("cc")))
    rt = (pairs.select("cand_id", F.explode("rf").alias("t"))
          .groupBy("cand_id", "t")
          .agg(F.count("*").cast("bigint").alias("cr")))
    ov = (ct.join(rt, ["cand_id", "t"])
          .groupBy("cand_id")
          .agg(F.sum(F.least("cc", "cr")).cast("bigint").alias("overlap")))
    spine = pairs.select("cand_id", "ref_id",
                         F.size("ca").cast("bigint").alias("nc"),
                         F.size("rf").cast("bigint").alias("nr"))
    jo = (spine.join(ov, "cand_id", "left")
          .withColumn("overlap",
                      F.coalesce("overlap", F.lit(0)).cast("bigint")))
    return jo.select(
        "cand_id", "ref_id", "overlap", "nc", "nr",
        F.round(F.col("overlap").cast("double") / F.col("nc"), 6).alias("p"),
        F.round(F.col("overlap").cast("double") / F.col("nr"), 6).alias("r"),
        F.round(F.when(F.col("overlap") == 0, F.lit(0.0))
                .otherwise(F.lit(2.0) * F.col("overlap")
                           / (F.col("nc") + F.col("nr"))), 6).alias("f1"))


@q("eval_bleu2", r"""
WITH pairs AS (
  SELECT a.doc_id AS cand_id,
         regexp_replace(trim(a.text), '\s+', ' ', 'g') AS ct,
         regexp_replace(trim(b.text), '\s+', ' ', 'g') AS rt
  FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
  WHERE a.doc_id % 10 = 0 AND a.text IS NOT NULL AND b.text IS NOT NULL
    AND length(trim(a.text)) > 0 AND length(trim(b.text)) > 0
), cu AS (
  SELECT cand_id, t, CAST(count(*) AS BIGINT) AS cc
  FROM (SELECT cand_id, unnest(regexp_split_to_array(ct, ' ')) AS t
        FROM pairs) GROUP BY 1, 2
), ru AS (
  SELECT cand_id, t, CAST(count(*) AS BIGINT) AS cr
  FROM (SELECT cand_id, unnest(regexp_split_to_array(rt, ' ')) AS t
        FROM pairs) GROUP BY 1, 2
), cb AS (
  SELECT cand_id, g, CAST(count(*) AS BIGINT) AS cc
  FROM (SELECT cand_id,
               unnest(list_transform(
                   range(1, len(string_split(ct, ' '))),
                   i -> string_split(ct, ' ')[i] || ' '
                        || string_split(ct, ' ')[i+1])) AS g
        FROM pairs) GROUP BY 1, 2
), rb AS (
  SELECT cand_id, g, CAST(count(*) AS BIGINT) AS cr
  FROM (SELECT cand_id,
               unnest(list_transform(
                   range(1, len(string_split(rt, ' '))),
                   i -> string_split(rt, ' ')[i] || ' '
                        || string_split(rt, ' ')[i+1])) AS g
        FROM pairs) GROUP BY 1, 2
), tot AS (
  SELECT CAST(sum(len(regexp_split_to_array(ct, ' '))) AS BIGINT) AS c_len,
         CAST(sum(len(regexp_split_to_array(rt, ' '))) AS BIGINT) AS r_len,
         CAST(sum(greatest(len(regexp_split_to_array(ct, ' ')) - 1, 0))
              AS BIGINT) AS c_bg
  FROM pairs
), m1 AS (
  SELECT CAST(sum(least(cc, cr)) AS BIGINT) AS hit1
  FROM cu JOIN ru USING (cand_id, t)
), m2 AS (
  SELECT CAST(sum(least(cc, cr)) AS BIGINT) AS hit2
  FROM cb JOIN rb USING (cand_id, g)
)
SELECT c_len, r_len, hit1, hit2,
       ROUND(CAST(hit1 AS DOUBLE) / c_len, 6) AS p1,
       ROUND(CAST(hit2 AS DOUBLE) / c_bg, 6) AS p2,
       ROUND(CASE WHEN c_len >= r_len THEN 1.0
             ELSE exp(1.0 - CAST(r_len AS DOUBLE) / c_len) END, 6) AS bp,
       ROUND(CASE WHEN hit1 = 0 OR hit2 = 0 THEN 0.0
             ELSE (CASE WHEN c_len >= r_len THEN 1.0
                   ELSE exp(1.0 - CAST(r_len AS DOUBLE) / c_len) END)
                  * exp(0.5 * (ln(CAST(hit1 AS DOUBLE) / c_len)
                               + ln(CAST(hit2 AS DOUBLE) / c_bg)))
             END, 6) AS bleu2
FROM tot, m1, m2
""")
def eval_bleu2(spark, sf):
    """Corpus-level BLEU-2 (Papineni et al. 2002): clipped modified
    precision for unigrams and bigrams summed over the whole corpus,
    geometric mean, brevity penalty exp(1 - r/c) when the candidate
    corpus is shorter. Pairing is the adjacent-doc_id convention the
    rest of the eval family uses. Bigrams come from word_ngrams (no
    interpreted lambda), clip counts fold in per-(pair, gram) hash
    aggregates, and the corpus totals are three scalar aggregates — at
    100 TB everything partial-aggregates map-side and the final reduce
    is a handful of scalars. exp/ln on identical IEEE doubles computed
    from exact bigint ratios, written in the same expression order in
    both engines, so the rounded strings agree."""
    d = (t(spark, sf, "documents")
         .filter(F.col("text").isNotNull()
                 & (F.length(F.trim("text")) > 0))
         .select("doc_id", spaced().alias("nt")))
    pairs = (d.filter(F.col("doc_id") % 10 == 0)
             .select(F.col("doc_id").alias("cand_id"),
                     F.col("nt").alias("ct"))
             .join(d.select((F.col("doc_id") - 1).alias("cand_id"),
                            F.col("nt").alias("rt")), "cand_id"))
    cu = (pairs.select("cand_id", F.explode(F.split("ct", " ")).alias("t"))
          .groupBy("cand_id", "t")
          .agg(F.count("*").cast("bigint").alias("cc")))
    ru = (pairs.select("cand_id", F.explode(F.split("rt", " ")).alias("t"))
          .groupBy("cand_id", "t")
          .agg(F.count("*").cast("bigint").alias("cr")))
    cb = (pairs.select("cand_id",
                       F.explode(word_ngrams(F.col("ct"), 2)).alias("g"))
          .groupBy("cand_id", "g")
          .agg(F.count("*").cast("bigint").alias("cc")))
    rb = (pairs.select("cand_id",
                       F.explode(word_ngrams(F.col("rt"), 2)).alias("g"))
          .groupBy("cand_id", "g")
          .agg(F.count("*").cast("bigint").alias("cr")))
    tot = pairs.agg(
        F.sum(F.size(F.split("ct", " "))).cast("bigint").alias("c_len"),
        F.sum(F.size(F.split("rt", " "))).cast("bigint").alias("r_len"),
        F.sum(F.greatest(F.size(F.split("ct", " ")) - 1, F.lit(0)))
        .cast("bigint").alias("c_bg"))
    m1 = (cu.join(ru, ["cand_id", "t"])
          .agg(F.sum(F.least("cc", "cr")).cast("bigint").alias("hit1")))
    m2 = (cb.join(rb, ["cand_id", "g"])
          .agg(F.sum(F.least("cc", "cr")).cast("bigint").alias("hit2")))
    j = tot.crossJoin(m1).crossJoin(m2)
    c_len, r_len = F.col("c_len"), F.col("r_len")
    hit1, hit2, c_bg = F.col("hit1"), F.col("hit2"), F.col("c_bg")
    bp = F.when(c_len >= r_len, F.lit(1.0)).otherwise(
        F.exp(F.lit(1.0) - r_len.cast("double") / c_len))
    bleu = F.when((hit1 == 0) | (hit2 == 0), F.lit(0.0)).otherwise(
        bp * F.exp(F.lit(0.5) * (F.log(hit1.cast("double") / c_len)
                                 + F.log(hit2.cast("double") / c_bg))))
    return j.select(
        "c_len", "r_len", "hit1", "hit2",
        F.round(hit1.cast("double") / c_len, 6).alias("p1"),
        F.round(hit2.cast("double") / c_bg, 6).alias("p2"),
        F.round(bp, 6).alias("bp"), F.round(bleu, 6).alias("bleu2"))


@q("text_ocr_confusion_dedup", r"""
WITH base AS (
  SELECT doc_id, lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS nt
  FROM documents
  WHERE text IS NOT NULL AND length(trim(text)) > 0
), allv AS (
  SELECT doc_id, nt FROM base
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, translate(nt, 'olsb', '0158') AS nt
  FROM base WHERE doc_id % 7 = 0
), canon AS (
  SELECT doc_id, nt,
         replace(replace(translate(nt, '0158|', 'olsbl'),
                 'rn', 'm'), 'vv', 'w') AS ct
  FROM allv
)
SELECT md5(ct) AS canon_hash,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT nt) AS BIGINT) AS n_variants,
       CAST(min(doc_id) AS BIGINT) AS min_doc_id
FROM canon
GROUP BY md5(ct)
HAVING count(*) >= 2 AND count(DISTINCT nt) >= 2
""")
def text_ocr_confusion_dedup(spark, sf):
    """OCR-confusion-aware near-dedup: canonicalize the classic
    glyph confusions (0/o, 1/l, 5/s, 8/b, pipe/l via one translate;
    the two-char confusions rn/m and vv/w via ordered replace — both
    engines substitute non-overlapping matches left-to-right, so the
    canonical form is engine-identical), then cluster by md5 of the
    canonical text and keep clusters whose members differ in the
    RAW (case/space-normalized) text — i.e. genuine OCR-variant
    groups, not exact duplicates. The synthetic corpus has no real
    OCR variants, so the op plants its own evidence: every 7th doc
    gets a corrupted twin (o/l/s/b -> 0/1/5/8, the inverse of the
    canonical map, doc_id offset +1e6) unioned in on BOTH engines,
    and the canonicalizer must recover exactly those clusters — a
    planted-pair harness, same discipline as the benchmark-copy
    behavioral test. This is the deterministic cousin of
    dedup_edit_scanner for the single-substitution error class OCR
    actually produces, and it costs ONE hash aggregate: at 100 TB it
    is exactly as scalable as dedup_exact (map-side partial agg on
    the canonical hash), with no candidate generation at all."""
    base = (t(spark, sf, "documents")
            .filter(F.col("text").isNotNull()
                    & (F.length(F.trim("text")) > 0))
            .select("doc_id", F.lower(spaced()).alias("nt")))
    planted = (base.filter(F.col("doc_id") % 7 == 0)
               .select((F.col("doc_id") + 1000000).alias("doc_id"),
                       F.translate("nt", "olsb", "0158").alias("nt")))
    allv = base.unionByName(planted)
    ct = F.regexp_replace(
        F.regexp_replace(
            F.translate("nt", "0158|", "olsbl"), "rn", "m"), "vv", "w")
    return (allv.select(F.md5(ct).alias("canon_hash"), "nt", "doc_id")
            .groupBy("canon_hash")
            .agg(F.count("*").cast("bigint").alias("n_docs"),
                 F.countDistinct("nt").cast("bigint").alias("n_variants"),
                 F.min("doc_id").cast("bigint").alias("min_doc_id"))
            .filter((F.col("n_docs") >= 2) & (F.col("n_variants") >= 2)))


@q("eval_wer_hashed", r"""
WITH norm AS (
  SELECT doc_id,
         array_to_string(list_transform(
             regexp_split_to_array(trim(text), '\s+'), t ->
             chr(CAST(33 + (strpos('0123456789abcdef',
                                   substring(md5(t), 1, 1)) * 16
                          + strpos('0123456789abcdef',
                                   substring(md5(t), 2, 1))
                          - 17) % 94 AS INTEGER))), '') AS enc
  FROM documents
  WHERE text IS NOT NULL AND length(trim(text)) > 0
)
SELECT a.doc_id AS cand_id, b.doc_id AS ref_id,
       CAST(levenshtein(a.enc, b.enc) AS BIGINT) AS dist,
       CAST(length(b.enc) AS BIGINT) AS ref_tokens,
       ROUND(CAST(levenshtein(a.enc, b.enc) AS DOUBLE) / length(b.enc), 6)
           AS wer
FROM norm a JOIN norm b ON b.doc_id = a.doc_id + 1
WHERE a.doc_id % 10 = 0
""")
def eval_wer_hashed(spark, sf):
    """Word Error Rate — eval_cer's token-level sibling and the other
    half of the OCR/ASR metric pair. Token-level edit distance has no
    built-in in either engine, so each token is hash-encoded to ONE
    printable ASCII char (first two md5 hex digits -> 33 + v % 94) and
    the string levenshtein runs on the encodings: insertions/deletions
    map 1:1, and a substitution is missed only when two DIFFERENT
    tokens collide into the same symbol (~1/94 per substituted
    position), so the hashed WER is a deterministic lower bound that
    is string-exact across engines (ASCII-only encodings make Spark's
    UTF-16-unit and DuckDB's byte-level levenshtein coincide — the
    same boundary eval_cer documents). md5 needs per-token evaluation,
    hence the JVM transform() lambda rather than a regexp — the
    lambda runs inside codegen on an array bounded by doc length, not
    per-row Python. Pairing is the family's adjacent-doc_id
    convention. At 100 TB each pair is independent after the
    id-adjacency equi-join: embarrassingly parallel."""
    enc = F.expr(r"""array_join(transform(split(trim(text), '\\s+'), t ->
        char(33 + (instr('0123456789abcdef', substring(md5(t), 1, 1)) * 16
                 + instr('0123456789abcdef', substring(md5(t), 2, 1))
                 - 17) % 94)), '')""")
    d = (t(spark, sf, "documents")
         .filter(F.col("text").isNotNull()
                 & (F.length(F.trim("text")) > 0))
         .select("doc_id", enc.alias("enc")))
    a = d.select(F.col("doc_id").alias("cand_id"), F.col("enc").alias("ca"))
    b = d.select(F.col("doc_id").alias("ref_id"), F.col("enc").alias("rf"))
    j = (a.filter(F.col("cand_id") % 10 == 0)
         .join(b, F.col("ref_id") == F.col("cand_id") + 1))
    dist = F.levenshtein("ca", "rf").cast("bigint")
    return j.select(
        "cand_id", "ref_id", dist.alias("dist"),
        F.length("rf").cast("bigint").alias("ref_tokens"),
        F.round(dist.cast("double") / F.length("rf"), 6).alias("wer"))


@q("privacy_t_closeness", """
WITH c AS (
  SELECT c_mktsegment AS seg,
         CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS b
  FROM customer
), n AS (SELECT count(*) AS n FROM c),
gt AS (SELECT seg, count(*) AS ng FROM c GROUP BY seg),
bt AS (SELECT b, count(*) AS nb FROM c GROUP BY b),
m  AS (SELECT count(*) AS m FROM bt),
gb AS (SELECT seg, b, count(*) AS o FROM c GROUP BY seg, b),
cells AS (
  SELECT g.seg, g.ng, t.b,
         t.nb * g.ng - coalesce(gb.o, 0) * n.n AS num
  FROM gt g CROSS JOIN bt t
  LEFT JOIN gb ON gb.seg = g.seg AND gb.b = t.b
  CROSS JOIN n
), cum AS (
  SELECT seg, ng,
         abs(sum(num) OVER (PARTITION BY seg ORDER BY b)) AS a
  FROM cells
)
SELECT seg, CAST(max(ng) AS BIGINT) AS group_n,
       CAST((SELECT m FROM m) AS BIGINT) AS n_buckets,
       ROUND(CAST(sum(a) AS DOUBLE) / (SELECT n FROM n) / max(ng)
             / ((SELECT m FROM m) - 1), 6) AS emd
FROM cum GROUP BY seg
""")
def privacy_t_closeness(spark, sf):
    """t-closeness (Li, Li & Venkatasubramanian, ICDE 2007) — the
    third rung of the governance ladder after k_anonymity_check and
    l_diversity_check: per quasi-identifier group (mktsegment), the
    Earth Mover's Distance between the group's distribution of the
    ordered sensitive attribute (acctbal in 1000-unit buckets) and
    the global distribution, EMD = sum_i |cumsum(P_i - Q_i)|/(m-1).
    EXACTNESS TRICK: P_i - Q_i = nb_i/n - o_i/ng is put over the
    common denominator n*ng, so the cumulative sums are EXACT
    BIGINTs (window sum order cannot perturb them — DuckDB's
    segment-tree window sum and Spark's running fold would disagree
    on doubles) and floating point enters only in the single final
    division chain, written in the same order on both engines. At
    100 TB: two hash aggregates sized |groups| and |buckets|, a
    broadcastable marginal cross join, and a window over m rows per
    group — the bigint products hold to ~3e9 rows per cell; past
    that, switch the numerator to decimal(38,0) (documented, not
    needed at any realistic group size)."""
    c = t(spark, sf, "customer").select(
        F.col("c_mktsegment").alias("seg"),
        F.floor(F.col("c_acctbal") / 1000.0).cast("bigint").alias("b"))
    n = c.agg(F.count("*").alias("n"))
    gt = c.groupBy("seg").agg(F.count("*").alias("ng"))
    bt = c.groupBy("b").agg(F.count("*").alias("nb"))
    m = bt.agg(F.count("*").alias("m"))
    gb = c.groupBy("seg", "b").agg(F.count("*").alias("o"))
    cells = (gt.crossJoin(F.broadcast(bt))
             .join(gb, ["seg", "b"], "left")
             .crossJoin(F.broadcast(n))
             .select("seg", "ng", "b",
                     (F.col("nb") * F.col("ng")
                      - F.coalesce("o", F.lit(0)) * F.col("n"))
                     .alias("num"), "n"))
    w = W.partitionBy("seg").orderBy("b")
    cum = cells.select(
        "seg", "ng", "n", F.abs(F.sum("num").over(w)).alias("a"))
    return (cum.groupBy("seg")
            .agg(F.max("ng").cast("bigint").alias("group_n"),
                 F.max("n").alias("_n"), F.sum("a").alias("_sa"))
            .crossJoin(F.broadcast(m))
            .select("seg", "group_n",
                    F.col("m").cast("bigint").alias("n_buckets"),
                    F.round(F.col("_sa").cast("double") / F.col("_n")
                            / F.col("group_n") / (F.col("m") - 1), 6)
                    .alias("emd")))


@q("corpus_dsir_weights", r"""
WITH toks AS (
  SELECT doc_id, lower(t) AS w, (doc_id % 13 = 0) AS is_tgt
  FROM (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS t
        FROM documents
        WHERE text IS NOT NULL AND length(trim(text)) > 0)
), vocab AS (
  SELECT w,
         CAST(sum(CASE WHEN is_tgt THEN 1 ELSE 0 END) AS BIGINT) AS tc,
         CAST(sum(CASE WHEN is_tgt THEN 0 ELSE 1 END) AS BIGINT) AS rc
  FROM toks GROUP BY w
), tot AS (
  SELECT CAST(sum(tc) AS BIGINT) AS tt, CAST(sum(rc) AS BIGINT) AS tr,
         CAST(count(*) AS BIGINT) AS v
  FROM vocab
), lr AS (
  SELECT w, ln((tc + 1.0) / (tt + v)) - ln((rc + 1.0) / (tr + v)) AS lr
  FROM vocab CROSS JOIN tot
), dt AS (
  SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c
  FROM toks WHERE NOT is_tgt GROUP BY doc_id, w
)
SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
       ROUND(sum(CAST(ROUND(c * lr * 1000000, 0) AS BIGINT)) / 1000000.0, 6)
           AS dsir_logw
FROM dt JOIN lr USING (w)
GROUP BY doc_id
""")
def corpus_dsir_weights(spark, sf):
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every raw-pool
    doc by the log-likelihood ratio of a target-domain unigram model
    over a raw-pool unigram model, log w(d) = sum_t c_d(t) *
    [ln p_tgt(t) - ln p_raw(t)], with add-one smoothing over the
    shared vocabulary. Target = docs with doc_id % 13 == 0 (the
    benchmark-proxy convention decontaminate_overlap uses); raw = the
    rest. One token explode feeds BOTH model counts (a single hash
    aggregate keyed on token, map-combinable), the log-ratio table is
    vocabulary-sized — Heaps-bounded, broadcastable at any corpus
    size — and each doc's score is a sum of per-(doc, token) terms
    rounded to integer micro-units so the final aggregation is an
    order-independent bigint sum (the stat_chi_square discipline;
    ln/* on identical exact-integer ratios is IEEE-identical across
    engines). The final ROUND is to 6 decimals — the micro scale
    itself — so it merely reconstructs the exact bigint and cannot
    hit a half-tie; rounding COARSER than the term scale (first form
    used 4) makes engines disagree on sums landing exactly on a
    .00005 boundary (2 of 461 docs at sf0.01 did). At 100 TB: two shuffles (token counts, per-doc terms),
    both partial-aggregating map-side, plus one broadcast join."""
    d = (t(spark, sf, "documents")
         .filter(F.col("text").isNotNull()
                 & (F.length(F.trim("text")) > 0)))
    toks = (d.select("doc_id", F.explode(words()).alias("t"))
            .select("doc_id", F.lower("t").alias("w"),
                    (F.col("doc_id") % 13 == 0).alias("is_tgt")))
    vocab = (toks.groupBy("w")
             .agg(F.sum(F.when(F.col("is_tgt"), 1).otherwise(0))
                  .cast("bigint").alias("tc"),
                  F.sum(F.when(F.col("is_tgt"), 0).otherwise(1))
                  .cast("bigint").alias("rc")))
    tot = vocab.agg(F.sum("tc").cast("bigint").alias("tt"),
                    F.sum("rc").cast("bigint").alias("tr"),
                    F.count("*").cast("bigint").alias("v"))
    lr = (vocab.crossJoin(F.broadcast(tot))
          .select("w", (F.log((F.col("tc") + 1.0) / (F.col("tt") + F.col("v")))
                        - F.log((F.col("rc") + 1.0)
                                / (F.col("tr") + F.col("v")))).alias("lr")))
    dt = (toks.filter(~F.col("is_tgt"))
          .groupBy("doc_id", "w")
          .agg(F.count("*").cast("bigint").alias("c")))
    return (dt.join(lr, "w")
            .groupBy("doc_id")
            .agg(F.sum("c").cast("bigint").alias("n_tokens"),
                 F.round(F.sum(F.round(F.col("c") * F.col("lr") * 1000000, 0)
                               .cast("bigint")) / 1000000.0, 6)
                 .alias("dsir_logw")))


@q("event_pattern_detect", """
WITH seq AS (
  SELECT user_id,
         string_agg(substring(event_type, 1, 1), ''
                    ORDER BY ts, event_id) AS s
  FROM events GROUP BY user_id
)
SELECT user_id, CAST(length(s) AS BIGINT) AS n_events,
       CAST(len(regexp_extract_all(s, 'v[^p]*p')) AS BIGINT)
           AS n_conversions,
       CAST(CASE WHEN regexp_matches(s, 's.*v.*p') THEN 1 ELSE 0 END
            AS BIGINT) AS has_signup_view_purchase
FROM seq
""")
def event_pattern_detect(spark, sf):
    """MATCH_RECOGNIZE-class event-sequence pattern matching, the
    regex-over-rows operator Spark lacks as SQL syntax: encode each
    user's time-ordered event stream as a string of type initials
    (click/error/purchase/signup/view -> c/e/p/s/v, distinct by
    construction) and run ordinary regexps over it — 'v[^p]*p'
    non-overlapping matches count view->purchase conversion runs
    (leftmost-greedy semantics agree across engines), 's.*v.*p'
    detects the signup->view->purchase funnel with arbitrary noise
    between steps. The encoding is ONE hash aggregate: collect_list
    of (ts, event_id, initial) structs, array_sort (unique tie-break
    on event_id), transform+array_join — the A8 stable-ordering
    idiom, no window, no second shuffle, and the regex scan is
    per-user independent. At 100 TB this is the cheap screener run
    BEFORE an exact automaton: sequences are session-bounded in
    practice, and a user's string lives on one partition."""
    e = t(spark, sf, "events").select(
        "user_id", F.struct("ts", "event_id",
                            F.substring("event_type", 1, 1).alias("ch"))
        .alias("st"))
    seq = (e.groupBy("user_id")
           .agg(F.array_join(
               F.transform(F.array_sort(F.collect_list("st")),
                           lambda x: x["ch"]), "").alias("s")))
    return seq.select(
        "user_id", F.length("s").cast("bigint").alias("n_events"),
        F.expr("regexp_count(s, 'v[^p]*p')").cast("bigint")
        .alias("n_conversions"),
        F.when(F.col("s").rlike("s.*v.*p"), 1).otherwise(0).cast("bigint")
        .alias("has_signup_view_purchase"))


@q("conv_agent_loop_detect", """
WITH tr AS (
  SELECT CAST(user_id % 200 AS BIGINT) AS conv_id, event_type AS tool,
         row_number() OVER (PARTITION BY user_id % 200
                            ORDER BY ts, event_id) AS rn
  FROM events
), flagged AS (
  SELECT conv_id, tool, rn,
         CASE WHEN tool IS DISTINCT FROM
                   lag(tool) OVER (PARTITION BY conv_id ORDER BY rn)
              THEN 1 ELSE 0 END AS boundary
  FROM tr
), isl AS (
  SELECT conv_id, tool, rn,
         sum(boundary) OVER (PARTITION BY conv_id ORDER BY rn
                             ROWS UNBOUNDED PRECEDING) AS grp
  FROM flagged
), runs AS (
  SELECT conv_id, min(tool) AS tool, CAST(count(*) AS BIGINT) AS run_len,
         CAST(min(rn) AS BIGINT) AS run_start
  FROM isl GROUP BY conv_id, grp
)
SELECT conv_id,
       CAST(max(run_len) AS BIGINT) AS max_run_len,
       min(CASE WHEN run_len = (SELECT max(r2.run_len) FROM runs r2
                                WHERE r2.conv_id = runs.conv_id)
                THEN tool END) AS loop_tool,
       CAST(count(*) FILTER (run_len >= 3) AS BIGINT) AS n_runs_ge3
FROM runs GROUP BY conv_id
""")
def conv_agent_loop_detect(spark, sf):
    """Degenerate agent-loop detector over the north-rule transcript
    shape: an agent stuck calling the SAME tool on consecutive turns
    is the classic runaway-trace failure an extraction pipeline must
    quarantine before the transcript poisons training data. Islands
    come from a running sum of change-boundaries (lag(tool) IS
    DISTINCT FROM tool) — NOT the textbook rn-minus-rank form, whose
    per-(conv, tool) rank would force a second hash exchange on the
    wider key; the boundary-sum keeps every window on the SAME
    conv_id partitioning. Then one aggregate per run and one per
    conversation: longest run, which tool it repeated (deterministic
    min-name tie-break, window-max instead of the oracle's correlated
    subquery), and how many runs crossed the loop threshold of 3.
    Purely integer outputs; tool is constant within a run so
    min(tool) is exact, not a choice.

    At 100 TB: the row_number, the lag, and the running sum all
    partition by conv_id, so Catalyst plans ONE hash exchange with
    stacked Window nodes, and both groupBys partial-aggregate on
    conv-prefixed keys with no further shuffle (plan-audited: 2
    exchanges total incl. the final rollup); a conversation's turns
    are co-located by the A10 salting rule only when monster convs
    appear, and run detection is salt-safe because rn is assigned
    before any salt split."""
    e = t(spark, sf, "events")
    cw = W.partitionBy("conv_id").orderBy("rn")
    # alias conv_id FIRST, then window on the alias: partitioning by
    # the raw (user_id % 200) expression mints a fresh _w0 attribute
    # Catalyst won't unify with conv_id, costing a second exchange
    tr = (e.select(
        (F.col("user_id") % 200).cast("bigint").alias("conv_id"),
        F.col("event_type").alias("tool"), "ts", "event_id")
        .select("conv_id", "tool",
                F.row_number().over(
                    W.partitionBy("conv_id").orderBy("ts", "event_id"))
                .alias("rn")))
    flagged = tr.withColumn(
        "boundary",
        F.when(~F.col("tool").eqNullSafe(F.lag("tool").over(cw)), 1)
        .otherwise(0))
    isl = flagged.withColumn(
        "grp", F.sum("boundary").over(cw.rowsBetween(
            W.unboundedPreceding, W.currentRow)))
    runs = (isl.groupBy("conv_id", "grp")
            .agg(F.min("tool").alias("tool"),
                 F.count("*").cast("bigint").alias("run_len"),
                 F.min("rn").cast("bigint").alias("run_start")))
    mx = runs.withColumn(
        "mx", F.max("run_len").over(W.partitionBy("conv_id")))
    return (mx.groupBy("conv_id").agg(
        F.max("run_len").cast("bigint").alias("max_run_len"),
        F.min(F.when(F.col("run_len") == F.col("mx"), F.col("tool")))
        .alias("loop_tool"),
        F.count_if(F.col("run_len") >= 3).cast("bigint")
        .alias("n_runs_ge3")))


@q("conv_turn_latency", """
WITH tr AS (
  SELECT CAST(user_id % 100 AS BIGINT) AS conv_id, ts, event_id,
         CASE CAST(event_id % 4 AS INT)
              WHEN 0 THEN 'user' WHEN 1 THEN 'assistant'
              WHEN 2 THEN 'assistant' ELSE 'tool' END AS role
  FROM events
), lagged AS (
  SELECT conv_id, role,
         lag(role) OVER (PARTITION BY conv_id ORDER BY ts, event_id)
             AS prev_role,
         epoch(ts) - epoch(lag(ts) OVER (PARTITION BY conv_id
                                         ORDER BY ts, event_id)) AS gap
  FROM tr
)
SELECT conv_id,
       CAST(count(*) FILTER (prev_role = 'user'
                             AND role = 'assistant') AS BIGINT)
           AS n_responses,
       ROUND(avg(gap) FILTER (prev_role = 'user'
                              AND role = 'assistant'), 4)
           AS mean_response_s,
       ROUND(max(gap) FILTER (prev_role = 'user'
                              AND role = 'assistant'), 4)
           AS max_response_s,
       ROUND(avg(gap) FILTER (role = 'tool'), 4) AS mean_tool_gap_s
FROM lagged GROUP BY conv_id
""")
def conv_turn_latency(spark, sf):
    """Role-transition latency profile per conversation: how long the
    assistant takes to answer a user turn (user->assistant adjacent
    gap) vs how fast tool turns land — the agent-trace timing features
    an SFT pipeline uses to drop stalled or replayed conversations.
    Gaps are epoch-second doubles of exact micros (the NTZ
    TIMESTAMP-cast rule), filtered aggregates keep one pass; roles
    derive deterministically from event_id, the transcript mapping the
    flagship shares. One window + one aggregate on the same conv_id
    exchange.

    At 100 TB: identical plan shape to win_turn_order/A8 — ONE hash
    exchange, per-conv window, partial-agg rollup; the FILTER clauses
    are flags inside a single aggregation buffer, not extra passes."""
    e = t(spark, sf, "events")
    role = F.element_at(
        F.array(F.lit("user"), F.lit("assistant"),
                F.lit("assistant"), F.lit("tool")),
        (F.col("event_id") % 4 + 1).cast("int"))
    tr = e.select((F.col("user_id") % 100).cast("bigint").alias("conv_id"),
                  "ts", "event_id", role.alias("role"))
    w = W.partitionBy("conv_id").orderBy("ts", "event_id")
    sec = F.col("ts").cast("timestamp").cast("double")
    lagged = tr.select(
        "conv_id", "role",
        F.lag("role").over(w).alias("prev_role"),
        (sec - F.lag(sec).over(w)).alias("gap"))
    is_resp = (F.col("prev_role") == "user") & (F.col("role") == "assistant")
    return (lagged.groupBy("conv_id").agg(
        F.count_if(is_resp).cast("bigint").alias("n_responses"),
        F.round(F.avg(F.when(is_resp, F.col("gap"))), 4)
        .alias("mean_response_s"),
        F.round(F.max(F.when(is_resp, F.col("gap"))), 4)
        .alias("max_response_s"),
        F.round(F.avg(F.when(F.col("role") == "tool", F.col("gap"))), 4)
        .alias("mean_tool_gap_s")))


@q("conv_role_alternation_dq", """
WITH tr AS (
  SELECT CAST(user_id % 100 AS BIGINT) AS conv_id,
         row_number() OVER (PARTITION BY user_id % 100
                            ORDER BY ts, event_id) AS rn,
         CASE CAST(event_id % 4 AS INT)
              WHEN 0 THEN 'user' WHEN 1 THEN 'assistant'
              WHEN 2 THEN 'assistant' ELSE 'tool' END AS role
  FROM events
), lagged AS (
  SELECT conv_id, rn, role,
         lag(role) OVER (PARTITION BY conv_id ORDER BY rn) AS prev_role
  FROM tr
)
SELECT conv_id,
       CAST(count(*) AS BIGINT) AS n_turns,
       CAST(count(*) FILTER (role = 'user' AND prev_role = 'user')
            AS BIGINT) AS n_double_user,
       CAST(count(*) FILTER (role = 'assistant'
                             AND prev_role = 'assistant') AS BIGINT)
           AS n_double_assistant,
       CAST(min(CASE WHEN role = prev_role AND role <> 'tool'
                     THEN rn END) AS BIGINT) AS first_violation_rn,
       CAST(count(*) FILTER (rn = 1 AND role <> 'user') AS BIGINT)
           AS bad_opening
FROM lagged GROUP BY conv_id
""")
def conv_role_alternation_dq(spark, sf):
    """Transcript-structure data-quality gate: conversations are
    supposed to open with a user turn and alternate user/assistant
    (tool turns exempt); doubled user turns mean a dropped assistant
    reply, doubled assistant turns mean a truncated stitch — both
    A7/A8 reassembly defects this check surfaces BEFORE extraction
    feeds training data. One rank + one lag on the same conv window,
    filtered counts and a min-position witness per conversation, all
    integers.

    At 100 TB: the two window functions share one (conv_id) sort
    spec, so Catalyst stacks them in a single Window node after ONE
    exchange; the DQ rollup partial-aggregates on the same keys. The
    witness rn gives a reproducible drill-down handle (conv_id, rn)
    without carrying payloads."""
    e = t(spark, sf, "events")
    role = F.element_at(
        F.array(F.lit("user"), F.lit("assistant"),
                F.lit("assistant"), F.lit("tool")),
        (F.col("event_id") % 4 + 1).cast("int"))
    # alias-first so every window shares the conv_id partitioning
    # (raw-expression partition keys mint un-unified _w0 attributes)
    tr = (e.select(
        (F.col("user_id") % 100).cast("bigint").alias("conv_id"),
        "ts", "event_id", role.alias("role"))
        .select("conv_id", "role",
                F.row_number().over(
                    W.partitionBy("conv_id").orderBy("ts", "event_id"))
                .alias("rn")))
    lagged = tr.withColumn(
        "prev_role",
        F.lag("role").over(W.partitionBy("conv_id").orderBy("rn")))
    viol = (F.col("role") == F.col("prev_role")) & (F.col("role") != "tool")
    return (lagged.groupBy("conv_id").agg(
        F.count("*").cast("bigint").alias("n_turns"),
        F.count_if((F.col("role") == "user")
                   & (F.col("prev_role") == "user"))
        .cast("bigint").alias("n_double_user"),
        F.count_if((F.col("role") == "assistant")
                   & (F.col("prev_role") == "assistant"))
        .cast("bigint").alias("n_double_assistant"),
        F.min(F.when(viol, F.col("rn"))).cast("bigint")
        .alias("first_violation_rn"),
        F.count_if((F.col("rn") == 1) & (F.col("role") != "user"))
        .cast("bigint").alias("bad_opening")))


@q("stat_anova_oneway", """
WITH s AS (
  SELECT event_type, CAST(ROUND(value * 100, 0) AS BIGINT) AS q
  FROM events WHERE value IS NOT NULL
), m AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(q) AS BIGINT) AS sq, CAST(sum(q * q) AS BIGINT) AS sqq
  FROM s GROUP BY event_type
), one AS (
  SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(n) AS BIGINT) AS nt,
         CAST(sum(sq) AS BIGINT) AS st, CAST(sum(sqq) AS BIGINT) AS sqqt,
         list_reduce(list(CAST(sq AS DOUBLE) * sq / n
                          ORDER BY event_type),
                     (a, x) -> a + x) AS t_term
  FROM m
)
SELECT k, nt AS n_total,
       ROUND((t_term - CAST(st AS DOUBLE) * st / nt) / 10000.0, 4) + 0.0
           AS ss_between,
       ROUND((sqqt - t_term) / 10000.0, 4) + 0.0 AS ss_within,
       ROUND(((t_term - CAST(st AS DOUBLE) * st / nt) / (k - 1))
             / ((sqqt - t_term) / (nt - k)), 4) + 0.0 AS f_stat
FROM one
""")
def stat_anova_oneway(spark, sf):
    """One-way ANOVA F statistic across event-type groups on value —
    the k-group generalization of stat_welch_ttest. Values are
    cent-quantized so per-group (n, Σq, Σq²) are EXACT bigints; the
    single float quantity T = Σ_g (Σq_g)²/n_g is folded LEFT-TO-RIGHT
    over the groups sorted by event_type (Spark aggregate() over
    array_sort(collect_list), DuckDB list_reduce over an ORDER BY
    list) so both engines perform the identical addition sequence —
    the determinism trick global_prefix_sums pioneered, applied to
    aggregation instead of ranking. SSB = T − S²/N and SSW = ΣΣq² − T
    then assemble in double once; /10000 unscales cents².

    At 100 TB: one partial-aggregated exchange on event_type (k ≤
    vocabulary), then a k-row fold on the driver side of a 1-row
    aggregate — constant memory, no window, no second scan."""
    s = (t(spark, sf, "events").filter(F.col("value").isNotNull())
         .select("event_type",
                 F.round(F.col("value") * 100, 0).cast("bigint")
                 .alias("q")))
    m = s.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("q").cast("bigint").alias("sq"),
        F.sum(F.col("q") * F.col("q")).cast("bigint").alias("sqq"))
    terms = m.select(
        "n", "sq", "sqq",
        F.struct("event_type",
                 (F.col("sq").cast("double") * F.col("sq") / F.col("n"))
                 .alias("term")).alias("st"))
    one = terms.agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("n").cast("bigint").alias("nt"),
        F.sum("sq").cast("bigint").alias("st_sum"),
        F.sum("sqq").cast("bigint").alias("sqqt"),
        F.aggregate(F.array_sort(F.collect_list("st")), F.lit(0.0),
                    lambda a, x: a + x["term"]).alias("t_term"))
    ssb = F.col("t_term") - F.col("st_sum").cast("double") \
        * F.col("st_sum") / F.col("nt")
    ssw = F.col("sqqt") - F.col("t_term")
    return one.select(
        "k", F.col("nt").alias("n_total"),
        (F.round(ssb / 10000.0, 4) + 0.0).alias("ss_between"),
        (F.round(ssw / 10000.0, 4) + 0.0).alias("ss_within"),
        (F.round((ssb / (F.col("k") - 1)) / (ssw / (F.col("nt")
                                                    - F.col("k"))), 4)
         + 0.0).alias("f_stat"))


@q("stat_kendall_tau", """
WITH s AS (
  SELECT event_type, event_id,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS x,
         epoch_us(ts) AS y
  FROM events WHERE value IS NOT NULL AND event_id % 20 = 0
), p AS (
  SELECT a.event_type,
         CASE WHEN a.x > b.x THEN 1 WHEN a.x < b.x THEN -1 ELSE 0 END
             AS sx,
         CASE WHEN a.y > b.y THEN 1 WHEN a.y < b.y THEN -1 ELSE 0 END
             AS sy
  FROM s a JOIN s b ON a.event_type = b.event_type
                   AND a.event_id < b.event_id
), c AS (
  SELECT event_type,
         CAST(count(*) FILTER (sx * sy > 0) AS BIGINT) AS conc,
         CAST(count(*) FILTER (sx * sy < 0) AS BIGINT) AS disc,
         CAST(count(*) FILTER (sx = 0 AND sy <> 0) AS BIGINT) AS tie_x,
         CAST(count(*) FILTER (sy = 0 AND sx <> 0) AS BIGINT) AS tie_y,
         CAST(count(*) AS BIGINT) AS n_pairs
  FROM p GROUP BY event_type
)
SELECT event_type, n_pairs, conc, disc,
       ROUND((conc - disc) / sqrt(CAST(conc + disc + tie_x AS DOUBLE)
                                  * (conc + disc + tie_y)), 6) + 0.0
           AS tau_b
FROM c
""")
def stat_kendall_tau(spark, sf):
    """Kendall tau-b rank correlation between value and event time per
    event type (is the metric drifting monotonically?) on a
    deterministic 1-in-20 systematic sample (event_id % 20 — the
    engine-portable sampling rule sample_deterministic established).
    Pair signs are pure integer comparisons of cent-quantized values
    and epoch micros, so concordant/discordant/tie counts are EXACT;
    tau-b assembles once in double. Tau on a uniform sample is an
    unbiased estimator of population tau — the statistical contract.

    At 100 TB: the all-pairs form is O((n/20)²) per group, so the
    sample rate is the knob — a 1-in-10⁴ sample of 10¹² rows still
    yields 10⁸ rows → 10⁸-ish pairs per dominant group, which the
    sort-merge join on (event_type) + event_id range predicate
    shuffles once; for exact full-data tau swap in the O(n log n)
    inversion count built on global_rank (the repo's deterministic
    ranking primitive). Sampling keeps this a screener, the same
    role event_pattern_detect plays for sequence automata."""
    s = (t(spark, sf, "events")
         .filter(F.col("value").isNotNull() & (F.col("event_id") % 20 == 0))
         .select("event_type", "event_id",
                 F.round(F.col("value") * 100, 0).cast("bigint").alias("x"),
                 F.unix_micros(F.col("ts").cast("timestamp")).alias("y")))
    a, b = s.alias("a"), s.alias("b")
    sgn = lambda l, r: F.when(l > r, 1).when(l < r, -1).otherwise(0)
    p = (a.join(b, (F.col("a.event_type") == F.col("b.event_type"))
                & (F.col("a.event_id") < F.col("b.event_id")))
         .select(F.col("a.event_type").alias("event_type"),
                 sgn(F.col("a.x"), F.col("b.x")).alias("sx"),
                 sgn(F.col("a.y"), F.col("b.y")).alias("sy")))
    c = p.groupBy("event_type").agg(
        F.count_if(F.col("sx") * F.col("sy") > 0).cast("bigint")
        .alias("conc"),
        F.count_if(F.col("sx") * F.col("sy") < 0).cast("bigint")
        .alias("disc"),
        F.count_if((F.col("sx") == 0) & (F.col("sy") != 0)).cast("bigint")
        .alias("tie_x"),
        F.count_if((F.col("sy") == 0) & (F.col("sx") != 0)).cast("bigint")
        .alias("tie_y"),
        F.count("*").cast("bigint").alias("n_pairs"))
    denom = F.sqrt((F.col("conc") + F.col("disc") + F.col("tie_x"))
                   .cast("double")
                   * (F.col("conc") + F.col("disc") + F.col("tie_y")))
    return c.select(
        "event_type", "n_pairs", "conc", "disc",
        (F.round((F.col("conc") - F.col("disc")) / denom, 6) + 0.0)
        .alias("tau_b"))


@q("text_pmi_collocations", """
WITH bg AS (
  SELECT u.p[1] AS w1, u.p[2] AS w2 FROM (
    SELECT unnest(list_zip(toks[1:length(toks) - 1],
                           toks[2:length(toks)])) AS p
    FROM (SELECT regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
          FROM documents WHERE text IS NOT NULL)
  ) u
), xy AS (
  SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_xy
  FROM bg GROUP BY w1, w2
), mx AS (SELECT w1, CAST(sum(n_xy) AS BIGINT) AS n_x FROM xy GROUP BY w1),
my AS (SELECT w2, CAST(sum(n_xy) AS BIGINT) AS n_y FROM xy GROUP BY w2),
tot AS (SELECT CAST(sum(n_xy) AS BIGINT) AS nn FROM xy)
SELECT xy.w1, xy.w2, n_xy, n_x, n_y,
       ROUND(ln(n_xy * 1.0 * nn / (n_x * 1.0 * n_y)), 6) + 0.0 AS pmi
FROM xy, tot JOIN mx ON xy.w1 = mx.w1 JOIN my ON xy.w2 = my.w2
WHERE n_xy >= 5
ORDER BY pmi DESC, xy.w1, xy.w2 LIMIT 100
""")
def text_pmi_collocations(spark, sf):
    """Pointwise-mutual-information collocation mining over document
    bigrams — the phrase detector (word2phrase / Mikolov-style) a
    tokenizer-training pipeline runs to decide which adjacent pairs
    deserve a merged token. Bigrams come from one regexp token pass
    (lookahead-free: zip the token array against itself shifted by
    one — Spark transform-with-index over a slice, DuckDB list_zip of
    two slices); marginals and the grand total all derive from the
    ONE bigram count table so the probability space is consistent by
    construction. PMI = ln(n_xy·N / (n_x·n_y)) on exact integer
    counts, ROUND 6 + 0.0 per the entropy/zipf libm precedent; the
    min-support 5 filter kills the unstable singleton tail before
    the join, and (pmi DESC, w1, w2) makes the top-100 deterministic.

    At 100 TB: token explode → one hash exchange on (w1, w2); the
    marginals are vocabulary-sized re-aggregations of the ALREADY
    REDUCED count table (not the raw bigram stream) and broadcast
    back onto it, so the raw corpus is shuffled once; the final
    top-100 is TakeOrderedAndProject. Min-support would rise with
    corpus size (support ∝ N) to keep the survivor set bounded."""
    d = t(spark, sf, "documents").filter(F.col("text").isNotNull())
    toks = F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)")
    pairs = F.expr(
        "transform(slice(toks, 1, size(toks) - 1),"
        " (w, i) -> struct(w AS w1, toks[i + 1] AS w2))")
    bg = (d.select(toks.alias("toks"))
          .select(F.explode(pairs).alias("p"))
          .select("p.w1", "p.w2"))
    xy = bg.groupBy("w1", "w2").agg(
        F.count("*").cast("bigint").alias("n_xy"))
    mx = xy.groupBy("w1").agg(F.sum("n_xy").cast("bigint").alias("n_x"))
    my = xy.groupBy("w2").agg(F.sum("n_xy").cast("bigint").alias("n_y"))
    tot = xy.agg(F.sum("n_xy").cast("bigint").alias("nn"))
    j = (xy.filter(F.col("n_xy") >= 5)
         .join(F.broadcast(mx), "w1")
         .join(F.broadcast(my), "w2")
         .crossJoin(F.broadcast(tot)))
    pmi = F.round(F.log(F.col("n_xy") * 1.0 * F.col("nn")
                        / (F.col("n_x") * 1.0 * F.col("n_y"))), 6) + 0.0
    return (j.select("w1", "w2", "n_xy", "n_x", "n_y", pmi.alias("pmi"))
            .orderBy(F.col("pmi").desc(), "w1", "w2").limit(100))


@q("eval_cohens_kappa", """
WITH r AS (
  SELECT CAST(doc_id % 3 AS BIGINT) AS ra,
         CAST((doc_id * 7 + n_chars) % 3 AS BIGINT) AS rb
  FROM documents WHERE text IS NOT NULL
), c AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(count(*) FILTER (ra = rb) AS BIGINT) AS agree,
         CAST(count(*) FILTER (ra = 0) AS BIGINT) AS a0,
         CAST(count(*) FILTER (ra = 1) AS BIGINT) AS a1,
         CAST(count(*) FILTER (ra = 2) AS BIGINT) AS a2,
         CAST(count(*) FILTER (rb = 0) AS BIGINT) AS b0,
         CAST(count(*) FILTER (rb = 1) AS BIGINT) AS b1,
         CAST(count(*) FILTER (rb = 2) AS BIGINT) AS b2
  FROM r
)
SELECT n, agree,
       ROUND(CAST(agree AS DOUBLE) / n, 6) + 0.0 AS po,
       ROUND(CAST(a0 * b0 + a1 * b1 + a2 * b2 AS DOUBLE) / n / n, 6)
           + 0.0 AS pe,
       ROUND((CAST(agree AS DOUBLE) / n
              - CAST(a0 * b0 + a1 * b1 + a2 * b2 AS DOUBLE) / n / n)
             / (1.0 - CAST(a0 * b0 + a1 * b1 + a2 * b2 AS DOUBLE)
                / n / n), 6) + 0.0 AS kappa
FROM c
""")
def eval_cohens_kappa(spark, sf):
    """Cohen's kappa inter-annotator agreement over two deterministic
    synthetic raters (3-class labels derived from doc_id / n_chars) —
    the chance-corrected agreement metric an annotation-QA pipeline
    computes before trusting human labels for SFT data. Observed and
    marginal counts are EXACT integers out of ONE aggregation pass
    (FILTER-clause flags in a single buffer, the conv_tool_stats
    idiom); po, pe, and kappa assemble in double once each. The
    marginal products a_i·b_i stay in bigint (≤ n² ≈ 10²⁴ overflows
    at 10¹² rows — there, divide each marginal by n in double first;
    at any testable scale the exact product is preferable).

    At 100 TB: a single combinable aggregate, no shuffle beyond the
    1-row reduce — the cheapest query family in the registry."""
    r = (t(spark, sf, "documents").filter(F.col("text").isNotNull())
         .select((F.col("doc_id") % 3).cast("bigint").alias("ra"),
                 ((F.col("doc_id") * 7 + F.col("n_chars")) % 3)
                 .cast("bigint").alias("rb")))
    c = r.agg(
        F.count("*").cast("bigint").alias("n"),
        F.count_if(F.col("ra") == F.col("rb")).cast("bigint")
        .alias("agree"),
        *[F.count_if(F.col("ra") == i).cast("bigint").alias(f"a{i}")
          for i in range(3)],
        *[F.count_if(F.col("rb") == i).cast("bigint").alias(f"b{i}")
          for i in range(3)])
    po = F.col("agree").cast("double") / F.col("n")
    pe = (F.col("a0") * F.col("b0") + F.col("a1") * F.col("b1")
          + F.col("a2") * F.col("b2")).cast("double") \
        / F.col("n") / F.col("n")
    return c.select(
        "n", "agree",
        (F.round(po, 6) + 0.0).alias("po"),
        (F.round(pe, 6) + 0.0).alias("pe"),
        (F.round((po - pe) / (1.0 - pe), 6) + 0.0).alias("kappa"))


@q("eval_brier_score", """
WITH s AS (
  SELECT lang,
         CAST((doc_id * 37) % 1000 AS BIGINT) AS p_milli,
         CASE WHEN (doc_id * 37) % 1000 + (doc_id * 13) % 700 > 850
              THEN 1 ELSE 0 END AS y
  FROM documents WHERE text IS NOT NULL AND lang IS NOT NULL
)
SELECT lang, CAST(count(*) AS BIGINT) AS n,
       CAST(sum(y) AS BIGINT) AS n_pos,
       ROUND(CAST(sum((p_milli - y * 1000)
                      * (p_milli - y * 1000)) AS DOUBLE)
             / count(*) / 1000000.0, 6) + 0.0 AS brier
FROM s GROUP BY lang
""")
def eval_brier_score(spark, sf):
    """Brier score (mean squared error of probabilistic predictions)
    per language over a deterministic synthetic classifier whose
    outcome depends on the predicted probability — the calibration
    companion to eval_ece_calibration and eval_auc_roc. Probabilities
    live in integer MILLI units so each squared residual
    (p_milli − 1000·y)² is an EXACT bigint; the only float op is the
    final divide-by-n-and-unscale — zero summation-order sensitivity,
    the stat_welch_ttest quantization discipline applied to a scoring
    rule.

    At 100 TB: one partial-aggregated hash exchange on lang; the
    residual sum is bounded by n·10⁶ so bigint holds to ~9·10¹²
    rows — past that, pre-aggregate per (lang, shard) and sum doubles
    of exact shard sums."""
    s = (t(spark, sf, "documents")
         .filter(F.col("text").isNotNull() & F.col("lang").isNotNull())
         .select("lang",
                 ((F.col("doc_id") * 37) % 1000).cast("bigint")
                 .alias("p_milli"),
                 F.when((F.col("doc_id") * 37) % 1000
                        + (F.col("doc_id") * 13) % 700 > 850, 1)
                 .otherwise(0).alias("y")))
    resid = F.col("p_milli") - F.col("y") * 1000
    return (s.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("n_pos"),
        (F.round(F.sum(resid * resid).cast("double")
                 / F.count("*") / 1000000.0, 6) + 0.0).alias("brier")))


@q("feat_zscore_scale", """
WITH s AS (
  SELECT event_type, event_id,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS q
  FROM events WHERE value IS NOT NULL
), m AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(q) AS BIGINT) AS sq, CAST(sum(q * q) AS BIGINT) AS sqq
  FROM s GROUP BY event_type
)
SELECT s.event_id, s.event_type,
       ROUND((s.q - CAST(m.sq AS DOUBLE) / m.n)
             / sqrt((CAST(m.n AS DOUBLE) * m.sqq
                     - CAST(m.sq AS DOUBLE) * m.sq)
                    / (CAST(m.n AS DOUBLE) * (m.n - 1))), 6) + 0.0
           AS z
FROM s JOIN m ON s.event_type = m.event_type
WHERE s.event_id % 50 = 0
""")
def feat_zscore_scale(spark, sf):
    """Per-group z-score standardization — the feature-scaling pass
    every numeric ML pipeline runs before linear models. Group mean
    and sample variance assemble from EXACT cent-quantized integer
    sums (n, Σq, Σq² — the welch/anova discipline), so the per-row z
    is ONE double expression over exact inputs and identical across
    engines; the cent scale cancels in z. Output row set is bounded
    by the deterministic 1-in-50 systematic sample (the z-map itself
    would be |input|-sized; emitting a sample keeps the key
    gate-friendly while exercising the full plan).

    At 100 TB: the stats table is |event_type|-sized and BROADCAST
    back onto the fact stream — zero shuffle of the big side, the
    same shape as feat_target_encode; the sample filter pushes into
    the scan."""
    s = (t(spark, sf, "events").filter(F.col("value").isNotNull())
         .select("event_type", "event_id",
                 F.round(F.col("value") * 100, 0).cast("bigint")
                 .alias("q")))
    m = s.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("q").cast("bigint").alias("sq"),
        F.sum(F.col("q") * F.col("q")).cast("bigint").alias("sqq"))
    mean = F.col("sq").cast("double") / F.col("n")
    var = (F.col("n").cast("double") * F.col("sqq")
           - F.col("sq").cast("double") * F.col("sq")) \
        / (F.col("n").cast("double") * (F.col("n") - 1))
    return (s.filter(F.col("event_id") % 50 == 0)
            .join(F.broadcast(m), "event_type")
            .select("event_id", "event_type",
                    (F.round((F.col("q") - mean) / F.sqrt(var), 6) + 0.0)
                    .alias("z")))


@q("feat_hashing_trick", """
WITH tok AS (
  SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
  FROM documents WHERE text IS NOT NULL
), h AS (
  SELECT CAST((strpos('0123456789abcdef', substr(md5(w), 1, 1)) - 1)
              * 16
              + strpos('0123456789abcdef', substr(md5(w), 2, 1)) - 1
              AS BIGINT) AS bucket
  FROM tok
)
SELECT bucket, CAST(count(*) AS BIGINT) AS n_tokens
FROM h GROUP BY bucket
""")
def feat_hashing_trick(spark, sf):
    """The hashing trick (Weinberger et al.): project an unbounded
    token vocabulary onto 256 fixed feature buckets via a hash of the
    token — the dimensionality cap that lets a linear model train on
    raw text without a vocabulary pass. The bucket id is the first
    md5 hex byte decoded via strpos arithmetic on a hex alphabet —
    md5 and strpos agree across engines where a native murmur/xxhash
    would not (the engine-portability rule behind every md5 idiom in
    this repo; in production Spark, swap in pmod(xxhash64(w), 256)
    for ~4× hash throughput — same plan shape). Output is the bucket
    histogram: the exact row a trainer's feature-frequency clipping
    consumes.

    At 100 TB: explode → ONE hash exchange on a key with EXACTLY 256
    values — partial aggregation collapses each partition to ≤256
    rows before the shuffle, so the exchange moves ~256·partitions
    rows regardless of corpus size; no skew concern because the map
    side already reduced."""
    d = t(spark, sf, "documents").filter(F.col("text").isNotNull())
    tok = d.select(F.explode(
        F.expr("regexp_extract_all(lower(text), '[a-z0-9]+', 0)"))
        .alias("w"))
    hexd = "0123456789abcdef"
    h1 = F.expr(f"position(substr(md5(w), 1, 1) IN '{hexd}')") - 1
    h2 = F.expr(f"position(substr(md5(w), 2, 1) IN '{hexd}')") - 1
    return (tok.select((h1 * 16 + h2).cast("bigint").alias("bucket"))
            .groupBy("bucket")
            .agg(F.count("*").cast("bigint").alias("n_tokens")))


@q("text_link_density", """
WITH aug AS (
  SELECT doc_id, lang,
         CASE WHEN doc_id % 5 = 0
              THEN text || ' see https://ex.org/p/' || doc_id
                   || ' and https://cdn.ex.org/a' || doc_id % 7
              ELSE text END AS text
  FROM documents WHERE text IS NOT NULL AND length(text) > 0
), d AS (
  SELECT doc_id, lang, length(text) AS total_chars,
         regexp_extract_all(text, 'https?://[^ ]+') AS links
  FROM aug
)
SELECT doc_id, lang,
       CAST(length(links) AS BIGINT) AS n_links,
       CAST(coalesce(list_sum(list_transform(links, x -> length(x))), 0)
            AS BIGINT) AS link_chars,
       ROUND(CAST(coalesce(list_sum(list_transform(links,
                                                   x -> length(x))), 0)
                  AS DOUBLE) / total_chars, 6) + 0.0 AS link_density
FROM d WHERE length(links) > 0
""")
def text_link_density(spark, sf):
    """Link density per document — THE boilerplate heuristic
    (Boilerpipe/jusText class): content blocks have low link-char
    ratios, navigation and footer chrome have high ones. This is the
    relational twin of the A2 extraction kernel's per-block
    link-density feature (reference.py computes it inside the Arrow
    UDF; this key exposes the same signal as a corpus-level SQL
    screener for ranking documents BEFORE full extraction). The
    synthetic corpus carries no URLs, so every 5th document gets two
    deterministic planted links on BOTH engines (the self-evidencing
    pattern text_ocr_confusion_dedup established) — the extractor is
    then provably exercised, not vacuously green. One regexp pass
    extracts URL spans; counts and char sums fold JVM-side
    (aggregate over the match array — no explode, no second pass);
    density is a ratio of exact ints rounded once.

    At 100 TB: embarrassingly parallel scan→project with zero
    shuffle (the output is per-doc); the regexp is RE2-safe (no
    backtracking: negated-class quantifier), and only docs that
    contain links survive, so the output is filter-pruned at the
    map side."""
    base = (t(spark, sf, "documents")
            .filter(F.col("text").isNotNull() & (F.length("text") > 0)))
    aug = base.select(
        "doc_id", "lang",
        F.when(F.col("doc_id") % 5 == 0,
               F.concat(F.col("text"), F.lit(" see https://ex.org/p/"),
                        F.col("doc_id").cast("string"),
                        F.lit(" and https://cdn.ex.org/a"),
                        (F.col("doc_id") % 7).cast("string")))
        .otherwise(F.col("text")).alias("text"))
    d = aug.select(
        "doc_id", "lang", F.length("text").alias("total_chars"),
        F.expr("regexp_extract_all(text, 'https?://[^ ]+', 0)")
        .alias("links"))
    link_chars = F.coalesce(
        F.aggregate(F.transform("links", F.length),
                    F.lit(0), lambda a, x: a + x), F.lit(0))
    return (d.select(
        "doc_id", "lang",
        F.size("links").cast("bigint").alias("n_links"),
        link_chars.cast("bigint").alias("link_chars"),
        (F.round(link_chars.cast("double") / F.col("total_chars"), 6)
         + 0.0).alias("link_density"))
        .filter(F.col("n_links") > 0))


@q("doc_structure_stats", """
SELECT doc_id, lang,
       CAST(length(regexp_extract_all(text, '(?m)^#{1,6} ')) AS BIGINT)
           AS n_headers,
       CAST(length(regexp_extract_all(text, '```')) // 2 AS BIGINT)
           AS n_code_blocks,
       CAST(length(regexp_extract_all(text, '(?m)^ *[-*] ')) AS BIGINT)
           AS n_list_items,
       CAST(length(regexp_extract_all(text, '(?m)^ *[0-9]+\\. '))
            AS BIGINT) AS n_numbered_items,
       CASE WHEN regexp_matches(text, '(?m)^\\|.*\\|$') THEN 1 ELSE 0 END
           AS has_table
FROM documents WHERE text IS NOT NULL
""")
def doc_structure_stats(spark, sf):
    """Markdown structure census per document: header, fenced-code,
    bulleted and numbered list counts plus a table flag — the
    document-structure features a training-data curator uses to
    stratify corpora (prose vs docs vs code-heavy) and that the A3
    block segmenter consumes as priors. All counts are single-pass
    RE2-safe regexp_count/extract_all calls with (?m) anchors that
    Java regex and RE2 interpret identically; code blocks are fence
    PAIRS (count // 2 — both engines floor-divide exact ints).

    At 100 TB: zero-shuffle scan→project, each regex linear in doc
    length; the five patterns share one read of the text column and
    whole-stage codegen fuses them into a single pass over the
    UTF-8 bytes."""
    d = t(spark, sf, "documents").filter(F.col("text").isNotNull())
    rc = lambda pat: F.expr(f"regexp_count(text, '{pat}')")
    return d.select(
        "doc_id", "lang",
        rc("(?m)^#{1,6} ").cast("bigint").alias("n_headers"),
        F.floor(rc("```") / 2).cast("bigint").alias("n_code_blocks"),
        rc("(?m)^ *[-*] ").cast("bigint").alias("n_list_items"),
        rc(r"(?m)^ *[0-9]+\\. ").cast("bigint").alias("n_numbered_items"),
        F.when(F.col("text").rlike(r"(?m)^\|.*\|$"), 1).otherwise(0)
        .cast("bigint").alias("has_table"))


@q("stat_mcnemar", """
WITH r AS (
  SELECT CASE WHEN (doc_id * 11 + n_chars) % 5 > 0 THEN 1 ELSE 0 END AS a_ok,
         CASE WHEN (doc_id * 3) % 4 > 0 THEN 1 ELSE 0 END AS b_ok
  FROM documents WHERE text IS NOT NULL
)
SELECT CAST(count(*) FILTER (a_ok = 0 AND b_ok = 1) AS BIGINT) AS b,
       CAST(count(*) FILTER (a_ok = 1 AND b_ok = 0) AS BIGINT) AS c,
       ROUND(CAST((abs(count(*) FILTER (a_ok = 0 AND b_ok = 1)
                       - count(*) FILTER (a_ok = 1 AND b_ok = 0)) - 1)
                  * (abs(count(*) FILTER (a_ok = 0 AND b_ok = 1)
                         - count(*) FILTER (a_ok = 1 AND b_ok = 0)) - 1)
                  AS DOUBLE)
             / (count(*) FILTER (a_ok = 0 AND b_ok = 1)
                + count(*) FILTER (a_ok = 1 AND b_ok = 0)), 6) + 0.0
           AS chi2_mcnemar
FROM r
""")
def stat_mcnemar(spark, sf):
    """McNemar's test for PAIRED binary classifiers — the correct
    significance test when comparing two models scored on the SAME
    examples (a curation pipeline swapping its quality classifier
    must run this, not an unpaired proportion test, because the
    per-doc outcomes are correlated). Only the discordant counts
    matter: b = A wrong/B right, c = A right/B wrong; the
    continuity-corrected statistic (|b-c|-1)^2/(b+c) is chi-square
    with 1 dof under H0. Classifier outcomes are the deterministic
    synthetic pair convention (eval_cohens_kappa's raters); a real
    harness supplies the two correctness columns and the identical
    plan runs. b and c are EXACT integers out of ONE FILTER-clause
    aggregation pass; the statistic is a single double expression.

    At 100 TB: one combinable aggregate, 1-row reduce — nothing
    shuffles but two longs per partition."""
    r = (t(spark, sf, "documents").filter(F.col("text").isNotNull())
         .select(
             F.when((F.col("doc_id") * 11 + F.col("n_chars")) % 5 > 0, 1)
             .otherwise(0).alias("a_ok"),
             F.when((F.col("doc_id") * 3) % 4 > 0, 1)
             .otherwise(0).alias("b_ok")))
    b = F.count_if((F.col("a_ok") == 0) & (F.col("b_ok") == 1))
    c = F.count_if((F.col("a_ok") == 1) & (F.col("b_ok") == 0))
    agg = r.agg(b.cast("bigint").alias("b"), c.cast("bigint").alias("c"))
    d = F.abs(F.col("b") - F.col("c")) - 1
    return agg.select(
        "b", "c",
        (F.round((d * d).cast("double") / (F.col("b") + F.col("c")), 6)
         + 0.0).alias("chi2_mcnemar"))


@q("stat_benjamini_hochberg", """
WITH g AS (
  SELECT lang, source,
         CAST(((sum(n_chars) % 1000003) * 7919) % 1000000 AS BIGINT)
             AS p_milli
  FROM documents WHERE lang IS NOT NULL AND source IS NOT NULL
  GROUP BY lang, source
), ranked AS (
  SELECT lang, source, p_milli,
         CAST(row_number() OVER (ORDER BY p_milli, lang, source)
              AS BIGINT) AS rk,
         CAST(count(*) OVER () AS BIGINT) AS m
  FROM g
), kstar AS (
  SELECT coalesce(max(rk) FILTER (p_milli * m <= rk * 100000), 0) AS ks
  FROM ranked
)
SELECT lang, source,
       ROUND(p_milli / 1000000.0, 6) + 0.0 AS p_value,
       rk, m,
       ROUND(rk * 0.1 / m, 6) + 0.0 AS bh_critical,
       CASE WHEN rk <= ks THEN 1 ELSE 0 END AS rejected
FROM ranked CROSS JOIN kstar
""")
def stat_benjamini_hochberg(spark, sf):
    """Benjamini-Hochberg FDR correction over a FAMILY of hypotheses
    (one per (lang, source) corpus cell, alpha = 0.10) — the
    multiple-testing step every per-slice drift/quality monitor needs
    before alerting on "significant" cells, because at 10^4 slices a
    per-test alpha fires hundreds of false alarms. Procedure: sort
    p-values ascending, find k* = max{k: p_(k) <= k*alpha/m}, reject
    hypotheses ranked <= k* (including non-step-wise ones below the
    crossing — the textbook step-up rule, which a naive
    per-row-threshold WHERE gets wrong). The acceptance test
    p_(k) <= k*alpha/m runs in EXACT integers (p_milli * m <=
    rk * 100000) so the cutoff is engine-identical; p-values are
    deterministic milli-unit functions of the REAL per-cell n_chars
    sums (a live monitor supplies its own p column and the identical
    plan runs). Ties in p break on (lang, source) so ranks agree
    cross-engine.

    At 100 TB: the hypothesis table is |cells|-sized (one combinable
    aggregate collapses the corpus), so the rank window and the k*
    reduce run over a dimension-sized frame — the single-partition
    window is BY CONSTRUCTION bounded by the slice count, never by
    corpus rows; document the global_rank() escape hatch if the
    family ever reaches fact scale."""
    g = (t(spark, sf, "documents")
         .filter(F.col("lang").isNotNull() & F.col("source").isNotNull())
         .groupBy("lang", "source")
         .agg((((F.sum("n_chars") % 1000003) * 7919) % 1000000)
              .cast("bigint").alias("p_milli")))
    w = W.orderBy("p_milli", "lang", "source")
    ranked = (g.withColumn("rk", F.row_number().over(w).cast("bigint"))
              .withColumn("m", F.count("*").over(
                  W.partitionBy()).cast("bigint")))
    kstar = ranked.agg(F.coalesce(
        F.max(F.when(F.col("p_milli") * F.col("m")
                     <= F.col("rk") * 100000, F.col("rk"))),
        F.lit(0)).alias("ks"))
    return (ranked.crossJoin(F.broadcast(kstar))
            .select("lang", "source",
                    (F.round(F.col("p_milli") / 1000000.0, 6) + 0.0)
                    .alias("p_value"),
                    "rk", "m",
                    (F.round(F.col("rk") * 0.1 / F.col("m"), 6) + 0.0)
                    .alias("bh_critical"),
                    F.when(F.col("rk") <= F.col("ks"), 1).otherwise(0)
                    .alias("rejected")))


@q("text_char_entropy", """
WITH c AS (
  SELECT doc_id, lang, CAST(length(text) AS BIGINT) AS n,
         CAST(length(text)
              - length(regexp_replace(text, '[a-z]', '', 'g'))
              AS BIGINT) AS c_lower,
         CAST(length(text)
              - length(regexp_replace(text, '[A-Z]', '', 'g'))
              AS BIGINT) AS c_upper,
         CAST(length(text)
              - length(regexp_replace(text, '[0-9]', '', 'g'))
              AS BIGINT) AS c_digit,
         CAST(length(text)
              - length(regexp_replace(text, '[ \\t\\n\\r]', '', 'g'))
              AS BIGINT) AS c_space
  FROM documents WHERE text IS NOT NULL AND length(text) > 0
), k AS (
  SELECT doc_id, lang, n, c_lower, c_upper, c_digit, c_space,
         n - c_lower - c_upper - c_digit - c_space AS c_other
  FROM c
)
SELECT doc_id, lang, n, c_lower, c_upper, c_digit, c_space, c_other,
       ROUND(-(
         CASE WHEN c_lower > 0 THEN (c_lower / CAST(n AS DOUBLE))
              * ln(c_lower / CAST(n AS DOUBLE)) ELSE 0 END
       + CASE WHEN c_upper > 0 THEN (c_upper / CAST(n AS DOUBLE))
              * ln(c_upper / CAST(n AS DOUBLE)) ELSE 0 END
       + CASE WHEN c_digit > 0 THEN (c_digit / CAST(n AS DOUBLE))
              * ln(c_digit / CAST(n AS DOUBLE)) ELSE 0 END
       + CASE WHEN c_space > 0 THEN (c_space / CAST(n AS DOUBLE))
              * ln(c_space / CAST(n AS DOUBLE)) ELSE 0 END
       + CASE WHEN c_other > 0 THEN (c_other / CAST(n AS DOUBLE))
              * ln(c_other / CAST(n AS DOUBLE)) ELSE 0 END), 6) + 0.0
           AS entropy_nats
FROM k
""")
def text_char_entropy(spark, sf):
    """Character-class Shannon entropy per document — the gibberish /
    degenerate-text screen (CCNet- and Gopher-style corpus filters):
    near-zero entropy flags single-class runs (raw digit dumps,
    aaaaaa padding), while prose sits in a stable band per language.
    The alphabet is the FIXED 5-class partition lower/upper/digit/
    whitespace/other, so the histogram is five strip-and-measure
    regexp_replace passes (JVM codegen, one scan of the bytes each)
    instead of a per-character explode — at 100 TB the explode form
    would shuffle 10^14 single-char rows; this form shuffles nothing
    at all (pure scan -> project). Each -(p ln p) term is computed
    identically on both engines from exact integer counts and one
    division; terms sum in a FIXED textual order and round once
    (libm ln agrees to well under the 6th decimal on both JVMs and
    DuckDB — the text_pmi_collocations precedent)."""
    d = (t(spark, sf, "documents")
         .filter(F.col("text").isNotNull() & (F.length("text") > 0)))
    n = F.length("text").cast("bigint")
    strip = lambda pat: (F.length("text")
                         - F.length(F.regexp_replace("text", pat, "")))
    k = d.select(
        "doc_id", "lang", n.alias("n"),
        strip("[a-z]").cast("bigint").alias("c_lower"),
        strip("[A-Z]").cast("bigint").alias("c_upper"),
        strip("[0-9]").cast("bigint").alias("c_digit"),
        strip("[ \\t\\n\\r]").cast("bigint").alias("c_space"))
    k = k.withColumn("c_other",
                     F.col("n") - F.col("c_lower") - F.col("c_upper")
                     - F.col("c_digit") - F.col("c_space"))
    def term(c):
        p = F.col(c) / F.col("n").cast("double")
        return F.when(F.col(c) > 0, p * F.log(p)).otherwise(F.lit(0.0))
    h = -(term("c_lower") + term("c_upper") + term("c_digit")
          + term("c_space") + term("c_other"))
    return k.select("doc_id", "lang", "n", "c_lower", "c_upper",
                    "c_digit", "c_space", "c_other",
                    (F.round(h, 6) + 0.0).alias("entropy_nats"))


@q("win_rolling_slope", """
WITH d AS (
  SELECT event_type,
         CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(date_diff('day', DATE '1970-01-01',
                        CAST(date_trunc('day', ts) AS DATE))
              AS BIGINT) AS x,
         CAST(sum(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS y
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
  GROUP BY event_type, day
), w AS (
  SELECT event_type, day,
         count(*) OVER f AS cnt,
         sum(x) OVER f AS sx, sum(y) OVER f AS sy,
         sum(x * y) OVER f AS sxy, sum(x * x) OVER f AS sxx
  FROM d
  WINDOW f AS (PARTITION BY event_type ORDER BY day
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
)
SELECT event_type, day, CAST(cnt AS BIGINT) AS n_days,
       CASE WHEN cnt >= 2
            THEN ROUND(CAST(cnt * sxy - sx * sy AS DOUBLE)
                       / (cnt * sxx - sx * sx), 6) + 0.0
            ELSE NULL END AS slope_cents_per_day
FROM w
""")
def win_rolling_slope(spark, sf):
    """Rolling 7-day OLS trend slope of daily metric volume per event
    type — the drift-DIRECTION detector that complements ts_cusum_drift
    (which flags that a shift happened) by reporting how fast the
    metric is moving. Every frame moment (n, Σx, Σy, Σxy, Σx²) is an
    EXACT bigint window sum over exact per-day inputs (x = epoch days,
    y = cent-quantized daily sums), so the closed-form slope
    (nΣxy - ΣxΣy)/(nΣx² - (Σx)²) is ONE double division over exact
    integers — engine-identical, no float accumulation anywhere.
    Frames with a single day emit NULL (denominator is provably 0
    exactly then, since days within a frame are distinct).

    At 100 TB: the day-grain pre-aggregation collapses the fact to
    |types| x |days| rows BEFORE the window (the nation_share rule:
    never window the raw fact), so the per-type ordered window runs
    over a few thousand rows no matter the corpus size; one hash
    exchange for the rollup + one dimension-sized window exchange."""
    e = (t(spark, sf, "events")
         .filter(F.col("value").isNotNull() & F.col("ts").isNotNull()))
    d = (e.groupBy("event_type", F.to_date("ts").alias("day"))
         .agg(F.sum(F.round(F.col("value") * 100, 0).cast("bigint"))
              .cast("bigint").alias("y"))
         .withColumn("x", F.datediff(F.col("day"),
                                     F.lit("1970-01-01").cast("date"))
                     .cast("bigint")))
    f = (W.partitionBy("event_type").orderBy("day")
         .rowsBetween(-6, W.currentRow))
    w = (d.select(
        "event_type", "day",
        F.count("*").over(f).alias("cnt"),
        F.sum("x").over(f).alias("sx"), F.sum("y").over(f).alias("sy"),
        F.sum(F.col("x") * F.col("y")).over(f).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).over(f).alias("sxx")))
    num = F.col("cnt") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("cnt") * F.col("sxx") - F.col("sx") * F.col("sx")
    return w.select(
        "event_type", "day", F.col("cnt").cast("bigint").alias("n_days"),
        F.when(F.col("cnt") >= 2,
               F.round(num.cast("double") / den, 6) + 0.0)
        .alias("slope_cents_per_day"))


@q("stat_bootstrap_poisson_ci", """
WITH s AS (
  SELECT event_type, event_id,
         CAST(ROUND(value * 100, 0) AS BIGINT) AS q
  FROM events WHERE value IS NOT NULL
), rep AS (
  SELECT event_type, q,
         (strpos('0123456789abcdef',
                 substr(md5(event_id || '_' || b), 1, 1)) - 1) * 256
       + (strpos('0123456789abcdef',
                 substr(md5(event_id || '_' || b), 2, 1)) - 1) * 16
       + (strpos('0123456789abcdef',
                 substr(md5(event_id || '_' || b), 3, 1)) - 1) AS u,
         b
  FROM s CROSS JOIN (SELECT unnest(range(0, 32)) AS b)
), wt AS (
  SELECT event_type, b, q,
         CASE WHEN u < 1507 THEN 0 WHEN u < 3014 THEN 1
              WHEN u < 3768 THEN 2 WHEN u < 4019 THEN 3
              WHEN u < 4081 THEN 4 WHEN u < 4094 THEN 5
              ELSE 6 END AS w
  FROM rep
), bm AS (
  SELECT event_type, b,
         CAST(sum(w * q) AS BIGINT) AS swq,
         CAST(sum(w) AS BIGINT) AS sw
  FROM wt GROUP BY event_type, b
), means AS (
  SELECT event_type, swq / CAST(sw AS DOUBLE) AS mb
  FROM bm WHERE sw > 0
), full_m AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(q) AS BIGINT) AS sq
  FROM s GROUP BY event_type
)
SELECT m.event_type,
       f.n AS n_rows,
       CAST(count(*) AS BIGINT) AS n_reps,
       ROUND(f.sq / CAST(f.n AS DOUBLE) / 100.0, 6) + 0.0 AS mean_value,
       ROUND(list_sort(list(m.mb))[2] / 100.0, 6) + 0.0 AS ci_lo,
       ROUND(list_sort(list(m.mb))[31] / 100.0, 6) + 0.0 AS ci_hi
FROM means m JOIN full_m f ON m.event_type = f.event_type
GROUP BY m.event_type, f.n, f.sq
""")
def stat_bootstrap_poisson_ci(spark, sf):
    """Poisson-bootstrap confidence interval for the per-type mean —
    THE distributed bootstrap: classical resampling needs sampling
    WITH replacement from the whole dataset (impossible without a
    global pass per replicate), but Binomial(n, 1/n) -> Poisson(1)
    as n grows, so each row independently draws a per-replicate
    weight w ~ Poisson(1) and replicate means are weighted means —
    one pass, all B=32 replicates at once, embarrassingly parallel
    (Chamandy et al., "Estimating Uncertainty for Massive Data
    Streams", the production form at web scale). Weights are
    DETERMINISTIC: u = first 3 md5 hex digits of (event_id, b) as an
    integer in [0,4096), inverse-CDF thresholds 1507/3014/3768/4019/
    4081/4094 (floor(4096*P(X<=k)) for Poisson(1), documented
    approximation, identical constants both engines), so every
    replicate weight — hence every replicate mean, an exact-bigint
    ratio — is engine-identical and the run is reproducible. CI is
    the 2nd/31st order statistic of the 32 replicate means
    (~94% coverage), taken from a sorted 32-element array.

    At 100 TB: the 32x explode is MAP-LOCAL — partial aggregation
    collapses it to |types| x 32 partial sums inside each task before
    the one hash exchange, so the shuffle carries dimension-sized
    data and the blowup never materializes; the order-statistic step
    sorts 32-element arrays per type. The md5-per-(row, replicate)
    cost is the price of determinism; swap xxhash64 in production for
    ~4x hash throughput (feat_hashing_trick note)."""
    s = (t(spark, sf, "events").filter(F.col("value").isNotNull())
         .select("event_type", "event_id",
                 F.round(F.col("value") * 100, 0).cast("bigint")
                 .alias("q")))
    rep = s.select(
        "event_type", "q",
        F.explode(F.sequence(F.lit(0), F.lit(31))).alias("b"),
        F.col("event_id"))
    hexd = "0123456789abcdef"
    key = F.md5(F.concat(F.col("event_id").cast("string"), F.lit("_"),
                         F.col("b").cast("string")))
    u = ((F.expr(f"position(substr(md5(concat(cast(event_id as string),"
                 f" '_', cast(b as string))), 1, 1) IN '{hexd}')") - 1)
         * 256
         + (F.expr(f"position(substr(md5(concat(cast(event_id as string),"
                   f" '_', cast(b as string))), 2, 1) IN '{hexd}')") - 1)
         * 16
         + (F.expr(f"position(substr(md5(concat(cast(event_id as string),"
                   f" '_', cast(b as string))), 3, 1) IN '{hexd}')") - 1))
    w = (F.when(u < 1507, 0).when(u < 3014, 1).when(u < 3768, 2)
         .when(u < 4019, 3).when(u < 4081, 4).when(u < 4094, 5)
         .otherwise(6))
    bm = (rep.select("event_type", "b", "q", w.alias("w"))
          .groupBy("event_type", "b")
          .agg(F.sum(F.col("w") * F.col("q")).cast("bigint").alias("swq"),
               F.sum("w").cast("bigint").alias("sw"))
          .filter(F.col("sw") > 0)
          .select("event_type",
                  (F.col("swq") / F.col("sw").cast("double")).alias("mb")))
    full = s.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_rows"),
        F.sum("q").cast("bigint").alias("sq"))
    ci = (bm.groupBy("event_type")
          .agg(F.count("*").cast("bigint").alias("n_reps"),
               F.array_sort(F.collect_list("mb")).alias("ms")))
    # try_element_at (round-6 ADVICE fix): a low-row event_type can
    # have all-zero-weight replicates filtered out, leaving < 31 means
    # — ANSI element_at would throw INVALID_ARRAY_INDEX while DuckDB
    # list indexing returns NULL. try_element_at degrades to NULL
    # identically; on every tested SF all 32 replicates exist, so
    # results are unchanged (sweep-proven).
    return (ci.join(F.broadcast(full), "event_type")
            .select("event_type", "n_rows", "n_reps",
                    (F.round(F.col("sq") / F.col("n_rows").cast("double")
                             / 100.0, 6) + 0.0).alias("mean_value"),
                    (F.round(F.try_element_at("ms", F.lit(2)) / 100.0, 6)
                     + 0.0).alias("ci_lo"),
                    (F.round(F.try_element_at("ms", F.lit(31)) / 100.0, 6)
                     + 0.0).alias("ci_hi")))


@q("text_html_tag_census", """
WITH aug AS (
  SELECT doc_id, lang,
         CASE WHEN doc_id % 4 = 0
              THEN '<div class="nav"><a href="/x">home</a> '
                   || '<a href="/y">about</a></div><p>' || text
                   || '</p><script>var a=1;</script>'
              ELSE text END AS html
  FROM documents WHERE text IS NOT NULL AND length(text) > 0
), c AS (
  SELECT doc_id, lang, CAST(length(html) AS BIGINT) AS total_chars,
         CAST(length(regexp_extract_all(html, '<a ')) AS BIGINT) AS n_a,
         CAST(length(regexp_extract_all(html, '<div')) AS BIGINT)
             AS n_div,
         CAST(length(regexp_extract_all(html, '<p>')) AS BIGINT) AS n_p,
         CAST(length(regexp_extract_all(html, '<script')) AS BIGINT)
             AS n_script,
         CAST(length(regexp_replace(html, '<[^>]*>', '', 'g'))
              AS BIGINT) AS visible_chars
  FROM aug
)
SELECT doc_id, lang, n_a, n_div, n_p, n_script,
       visible_chars, total_chars,
       ROUND(1.0 - visible_chars / CAST(total_chars AS DOUBLE), 6) + 0.0
           AS markup_ratio
FROM c WHERE n_a + n_div + n_p + n_script > 0
""")
def text_html_tag_census(spark, sf):
    """HTML tag census + markup ratio per document — the other half of
    the A2 boilerplate-strip signal pair (text_link_density measures
    link chars; this measures structural chrome: nav containers,
    anchors, script blocks, and how much of the byte budget is markup
    vs visible text). Every 4th document gets a deterministic planted
    wrapper (nav div, two anchors, a script tag) on BOTH engines —
    the self-evidencing pattern text_link_density uses, so the
    stripper is provably exercised on a corpus that carries no
    natural HTML. Tag counts are literal-pattern regexp passes;
    visible text is one '<[^>]*>' strip (RE2-safe, no backtracking:
    negated-class body), and both engines strip identical spans
    because the pattern is anchored per tag, not nested.

    At 100 TB: zero-shuffle scan -> project -> filter; the docs that
    carry no markup die at the map side, and every regex is linear in
    doc length. markup_ratio > ~0.3 is the classic pre-extraction
    drop rule — cheap screening BEFORE the full A2 DOM-heuristic
    kernel runs."""
    base = (t(spark, sf, "documents")
            .filter(F.col("text").isNotNull() & (F.length("text") > 0)))
    aug = base.select(
        "doc_id", "lang",
        F.when(F.col("doc_id") % 4 == 0,
               F.concat(F.lit('<div class="nav"><a href="/x">home</a> '
                              '<a href="/y">about</a></div><p>'),
                        F.col("text"),
                        F.lit("</p><script>var a=1;</script>")))
        .otherwise(F.col("text")).alias("html"))
    rc = lambda pat: F.expr(f"regexp_count(html, '{pat}')").cast("bigint")
    c = aug.select(
        "doc_id", "lang",
        F.length("html").cast("bigint").alias("total_chars"),
        rc("<a ").alias("n_a"), rc("<div").alias("n_div"),
        rc("<p>").alias("n_p"), rc("<script").alias("n_script"),
        F.length(F.regexp_replace("html", "<[^>]*>", ""))
        .cast("bigint").alias("visible_chars"))
    return (c.select(
        "doc_id", "lang", "n_a", "n_div", "n_p", "n_script",
        "visible_chars", "total_chars",
        (F.round(1.0 - F.col("visible_chars")
                 / F.col("total_chars").cast("double"), 6) + 0.0)
        .alias("markup_ratio"))
        .filter(F.col("n_a") + F.col("n_div") + F.col("n_p")
                + F.col("n_script") > 0))


@q("conv_template_turn_dedup", """
WITH aug AS (
  SELECT doc_id,
         CASE WHEN doc_id % 17 = 0
              THEN 'You are a helpful assistant. Follow the'
                   || ' instructions carefully.'
              ELSE text END AS text
  FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0
), tr AS (
  SELECT doc_id,
         'conv-' || lpad(CAST(doc_id % 50 AS VARCHAR), 8, '0') AS conv_id,
         md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS h
  FROM aug
)
SELECT h AS template_hash,
       CAST(count(*) AS BIGINT) AS n_occurrences,
       CAST(count(DISTINCT conv_id) AS BIGINT) AS n_convs,
       CAST(min(doc_id) AS BIGINT) AS rep_doc_id
FROM tr GROUP BY h HAVING count(DISTINCT conv_id) >= 2
""")
def conv_template_turn_dedup(spark, sf):
    """Cross-conversation TEMPLATE-TURN detection over the north-rule
    transcript shape: a turn whose normalized text recurs in >= 2
    distinct conversations is boilerplate (system prompts, canned
    greetings, tool headers) — exactly the content an SFT pipeline
    must de-weight, because template turns otherwise dominate the
    loss the way duplicated web pages dominate a crawl. Normalization
    is lowercase + whitespace collapse (the dedup_exact rule), the
    cluster key is an md5 over it, and the conversation spread uses a
    REAL count-distinct (not collect_set: conv cardinality is
    unbounded at production scale, so the bounded-set shortcut
    conv_tool_stats uses would OOM here; the distinct-aggregate
    expand is the correct price). Same documents->transcripts mapping
    the flagship entry() uses, so both engines construct identical
    input. The synthetic corpus carries few natural cross-conv
    duplicates, so every 17th turn is REPLACED with a fixed system
    prompt on BOTH engines (the text_link_density self-evidencing
    pattern): the detector is provably exercised, and natural
    duplicate texts still count.

    At 100 TB: one hash exchange on the md5 key (uniform by
    construction — no skew), map-side partial counts; the HAVING
    prunes singleton hashes, which are the overwhelming majority, so
    the output is template-sized, not corpus-sized."""
    base = (t(spark, sf, "documents")
            .filter(F.col("text").isNotNull()
                    & (F.length(F.trim("text")) > 0)))
    d = base.select(
        "doc_id",
        F.when(F.col("doc_id") % 17 == 0,
               F.lit("You are a helpful assistant. Follow the"
                     " instructions carefully."))
        .otherwise(F.col("text")).alias("text"))
    tr = d.select(
        "doc_id",
        conv_id(),
        F.md5(F.lower(spaced())).alias("h"))
    return (tr.groupBy(F.col("h").alias("template_hash"))
            .agg(F.count("*").cast("bigint").alias("n_occurrences"),
                 F.countDistinct("conv_id").cast("bigint")
                 .alias("n_convs"),
                 F.min("doc_id").cast("bigint").alias("rep_doc_id"))
            .filter(F.col("n_convs") >= 2))


@q("conv_context_overflow", """
WITH tr AS (
  SELECT 'conv-' || lpad(CAST(doc_id % 50 AS VARCHAR), 8, '0') AS conv_id,
         CAST(doc_id // 50 AS BIGINT) AS turn_idx,
         CAST(length(regexp_split_to_array(trim(text), '\\s+'))
              AS BIGINT) AS tok
  FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0
), c AS (
  SELECT conv_id, turn_idx, tok,
         sum(tok) OVER (PARTITION BY conv_id ORDER BY turn_idx) AS cum
  FROM tr
)
SELECT conv_id,
       CAST(count(*) AS BIGINT) AS n_turns,
       CAST(sum(tok) AS BIGINT) AS total_tokens,
       CAST(min(CASE WHEN cum > 512 THEN turn_idx END) AS BIGINT)
           AS overflow_turn,
       CAST(count(*) FILTER (cum <= 512) AS BIGINT) AS kept_turns
FROM c GROUP BY conv_id
""")
def conv_context_overflow(spark, sf):
    """Context-window budget audit per conversation: running token
    count over the A8-ordered turns, the first turn where the
    cumulative count exceeds the budget (512 here; the model's
    context length in production), and how many whole turns fit — the
    numbers a packing/truncation stage needs BEFORE deciding whether
    to drop, split, or sliding-window each conversation
    (conv_context_window consumes exactly this decision). Token
    counts are whitespace-split sizes (the text_token_count rule,
    portable across engines); the running sum is the same
    (conv_id, turn_idx) window every A8 key uses, so the cumsum
    shuffles once on conv_id and the final per-conv aggregate rides
    the SAME partitioning — Catalyst reuses the exchange.

    At 100 TB: one hash exchange on conv_id (salting available via
    the A10 path if monster conversations skew it); per-conv frames
    are conversation-sized, never corpus-sized."""
    d = (t(spark, sf, "documents")
         .filter(F.col("text").isNotNull()
                 & (F.length(F.trim("text")) > 0)))
    tr = d.select(
        conv_id(),
        (F.col("doc_id") / 50).cast("bigint").alias("turn_idx"),
        F.size(words()).cast("bigint").alias("tok"))
    w = (W.partitionBy("conv_id").orderBy("turn_idx")
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    c = tr.withColumn("cum", F.sum("tok").over(w))
    return (c.groupBy("conv_id").agg(
        F.count("*").cast("bigint").alias("n_turns"),
        F.sum("tok").cast("bigint").alias("total_tokens"),
        F.min(F.when(F.col("cum") > 512, F.col("turn_idx")))
        .cast("bigint").alias("overflow_turn"),
        F.count_if(F.col("cum") <= 512).cast("bigint")
        .alias("kept_turns")))


@q("conv_trajectory_dedup", """
WITH tr AS (
  SELECT 'conv-' || lpad(CAST(doc_id % 50 AS VARCHAR), 8, '0') AS conv_id,
         CAST(doc_id // 50 AS BIGINT) AS turn_idx,
         ['user', 'assistant', 'assistant', 'tool'][(doc_id % 4) + 1]
           || ':' ||
           CASE WHEN doc_id % 4 = 3
                THEN 'tool-' || CAST(doc_id % 5 AS VARCHAR)
                ELSE '' END AS step
  FROM documents WHERE text IS NOT NULL
), sig AS (
  SELECT conv_id,
         md5(string_agg(step, '|' ORDER BY turn_idx)) AS traj_sig,
         CAST(count(*) AS BIGINT) AS n_turns
  FROM tr GROUP BY conv_id
)
SELECT traj_sig,
       CAST(count(*) AS BIGINT) AS n_convs,
       min(conv_id) AS rep_conv_id,
       CAST(min(n_turns) AS BIGINT) AS n_turns
FROM sig GROUP BY traj_sig HAVING count(*) >= 2
""")
def conv_trajectory_dedup(spark, sf):
    """Agent-TRAJECTORY dedup: fingerprint each conversation by its
    ordered (role, tool) step sequence and cluster conversations that
    share the exact trajectory — near-identical agent runs (same tool
    chain, same turn structure) carry almost no marginal training
    signal, and trajectory-level dedup is the transcript analog of
    document dedup_exact (the text may differ per run; the BEHAVIOR
    is the duplicate). The signature is an md5 over the turn-ordered
    'role:tool' strings — ordered portably via Spark's sorted-struct
    reassembly (array_sort(collect_list(struct(turn_idx, step)))
    then join, the conv_reassembly_order trick) vs DuckDB's
    string_agg(... ORDER BY), both reducing to the identical byte
    string. Roles/tools derive deterministically from doc_id (the
    conv_tool_stats mapping).

    At 100 TB: two hash exchanges — conv_id (signature build; per-conv
    arrays are conversation-sized) then the md5 signature (uniform,
    no skew); the HAVING keeps only clustered trajectories so output
    is cluster-count-sized. The per-conv transform lambda runs once
    per conversation over a turns-length array — never per-token
    (the decontaminate_fuzzy hot-path rule does not apply at this
    granularity)."""
    d = t(spark, sf, "documents").filter(F.col("text").isNotNull())
    tr = d.select(
        conv_id(),
        (F.col("doc_id") / 50).cast("bigint").alias("turn_idx"),
        F.concat(
            F.element_at(F.array(F.lit("user"), F.lit("assistant"),
                                 F.lit("assistant"), F.lit("tool")),
                         (F.col("doc_id") % 4 + 1).cast("int")),
            F.lit(":"),
            F.when(F.col("doc_id") % 4 == 3,
                   F.concat(F.lit("tool-"),
                            (F.col("doc_id") % 5).cast("string")))
            .otherwise("")).alias("step"))
    sig = (tr.groupBy("conv_id")
           .agg(F.md5(F.array_join(
               F.transform(
                   F.array_sort(F.collect_list(
                       F.struct("turn_idx", "step"))),
                   lambda x: x["step"]), "|")).alias("traj_sig"),
               F.count("*").cast("bigint").alias("n_turns")))
    return (sig.groupBy("traj_sig")
            .agg(F.count("*").cast("bigint").alias("n_convs"),
                 F.min("conv_id").alias("rep_conv_id"),
                 F.min("n_turns").cast("bigint").alias("n_turns"))
            .filter(F.col("n_convs") >= 2))


@q("corpus_boilerplate_lines", """
WITH aug AS (
  SELECT doc_id, source,
         text
         || CASE WHEN doc_id % 3 = 0
                 THEN chr(10) || '(c) example corp - all rights reserved'
                 ELSE '' END
         || CASE WHEN doc_id % 7 = 0
                 THEN chr(10) || 'unsubscribe: reply stop'
                 ELSE '' END AS txt
  FROM documents
  WHERE text IS NOT NULL AND source IS NOT NULL
), ln AS (
  SELECT DISTINCT doc_id, source,
         lower(trim(unnest(string_split(txt, chr(10))))) AS line
  FROM aug
), f AS (
  SELECT source, line, CAST(count(*) AS BIGINT) AS n_docs
  FROM ln WHERE length(line) > 0 GROUP BY source, line
), tot AS (
  SELECT source, CAST(count(DISTINCT doc_id) AS BIGINT) AS total_docs
  FROM aug GROUP BY source
)
SELECT f.source, f.line, f.n_docs, t.total_docs,
       ROUND(f.n_docs / CAST(t.total_docs AS DOUBLE), 6) + 0.0
           AS doc_share
FROM f JOIN tot t ON f.source = t.source
WHERE f.n_docs >= 5
""")
def corpus_boilerplate_lines(spark, sf):
    """CCNet-style boilerplate-LINE census: lines that recur across
    many documents of the same source (copyright footers, unsubscribe
    strings, cookie banners) are chrome, not content — the per-source
    frequent-line list is exactly the strip table a crawl-extraction
    pipeline applies before dedup, and the line-frequency idea is the
    core of CCNet's paragraph-level dedup. The corpus is single-line
    synthetic, so deterministic footer lines are planted on every 3rd
    and 7th document on BOTH engines (the text_link_density
    self-evidencing rule); natural full-text duplicates inside a
    source still count. Lines are DISTINCT per doc before counting
    (a doc repeating its own footer counts once), so n_docs is a
    plain count after the per-doc dedup — no count-distinct expand
    on the big aggregation.

    At 100 TB: the explode is line-grain but the (source, line) hash
    aggregate is map-side combinable and boilerplate lines are
    exactly the ones that collapse hardest; the >= 5 doc-frequency
    cut prunes the long unique-line tail before the dimension-sized
    totals join (broadcast). Hot-line skew is absorbed by partial
    aggregation — the combiner sees each line once per partition."""
    d = (t(spark, sf, "documents")
         .filter(F.col("text").isNotNull() & F.col("source").isNotNull()))
    aug = d.select(
        "doc_id", "source",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 3 == 0,
                   F.lit("\n(c) example corp - all rights reserved"))
            .otherwise(""),
            F.when(F.col("doc_id") % 7 == 0,
                   F.lit("\nunsubscribe: reply stop")).otherwise(""))
        .alias("txt"))
    ln = (aug.select("doc_id", "source",
                     F.explode(F.split("txt", "\n")).alias("raw"))
          .select("doc_id", "source",
                  F.lower(F.trim("raw")).alias("line"))
          .filter(F.length("line") > 0)
          .distinct())
    f = ln.groupBy("source", "line").agg(
        F.count("*").cast("bigint").alias("n_docs"))
    tot = aug.groupBy("source").agg(
        F.countDistinct("doc_id").cast("bigint").alias("total_docs"))
    return (f.filter(F.col("n_docs") >= 5)
            .join(F.broadcast(tot), "source")
            .select("source", "line", "n_docs", "total_docs",
                    (F.round(F.col("n_docs")
                             / F.col("total_docs").cast("double"), 6)
                     + 0.0).alias("doc_share")))


@q("eval_recall_at_k", """
WITH e AS (
  SELECT user_id, event_id, value,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS rel
  FROM events WHERE user_id IS NOT NULL AND value IS NOT NULL
), r AS (
  SELECT user_id, rel,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY value DESC, event_id) AS rnk
  FROM e
), pu AS (
  SELECT user_id,
         CAST(sum(rel) AS BIGINT) AS n_rel,
         CAST(sum(CASE WHEN rnk <= 5 THEN rel ELSE 0 END) AS BIGINT)
             AS hits5
  FROM r GROUP BY user_id HAVING sum(rel) > 0
)
SELECT CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(hits5) AS BIGINT) AS total_hits,
       ROUND(sum(CAST(ROUND(hits5 * 1000000.0 / n_rel, 0) AS BIGINT))
             / 1000000.0 / count(*), 4) + 0.0 AS recall_at_5
FROM pu
""")
def eval_recall_at_k(spark, sf):
    """Macro-averaged recall@5 — the retrieval family's third leg
    beside eval_mrr (first hit) and eval_ndcg_at_k (graded order):
    what fraction of each user's relevant items the top-5 ranking
    recovers, averaged over users that have any relevant item. The
    ranking key (value DESC, event_id) is the family's
    bit-deterministic sort; each per-user recall is rounded to
    integer MICRO-units so the corpus mean is an order-independent
    bigint sum (the eval_mrr discipline).

    At 100 TB: one window partitioned by user (fully parallel), one
    hash aggregate on user, one 1-row reduce — no join anywhere; the
    HAVING drops no-relevant users at the combiner."""
    e = (t(spark, sf, "events")
         .filter(F.col("user_id").isNotNull() & F.col("value").isNotNull())
         .select("user_id", "event_id",
                 F.when(F.col("event_type") == "purchase", 1).otherwise(0)
                 .alias("rel"), "value"))
    w = W.partitionBy("user_id").orderBy(F.col("value").desc(), "event_id")
    r = e.withColumn("rnk", F.row_number().over(w))
    pu = (r.groupBy("user_id")
          .agg(F.sum("rel").cast("bigint").alias("n_rel"),
               F.sum(F.when(F.col("rnk") <= 5, F.col("rel"))
                     .otherwise(0)).cast("bigint").alias("hits5"))
          .filter(F.col("n_rel") > 0))
    ru = pu.select(
        "hits5",
        F.round(F.col("hits5") * 1000000.0 / F.col("n_rel"), 0)
        .cast("long").alias("ri"))
    return ru.agg(
        F.count("*").cast("bigint").alias("n_users"),
        F.sum("hits5").cast("bigint").alias("total_hits"),
        (F.round(F.sum("ri") / 1000000.0 / F.count("*"), 4) + 0.0)
        .alias("recall_at_5"))


@q("graph_degree_distribution", """
WITH li AS (
  SELECT l_orderkey, l_suppkey FROM lineitem
), e AS (
  SELECT DISTINCT a.l_suppkey AS u, b.l_suppkey AS v
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
   AND a.l_suppkey < b.l_suppkey
), deg AS (
  SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
    SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e
  ) GROUP BY node
)
SELECT degree, CAST(count(*) AS BIGINT) AS n_vertices
FROM deg GROUP BY degree
""")
def graph_degree_distribution(spark, sf):
    """Degree distribution of the supplier co-occurrence graph (same
    edge derivation as graph_triangle_count: suppliers sharing an
    order, deduped, oriented u<v) — the first diagnostic a graph
    pipeline runs, because the distribution's tail DICTATES the
    algorithm choice downstream: a power-law tail means triangle
    counting must orient by degree and CC must pointer-jump, while a
    bounded-degree graph can use naive wedge joins. Undirected degree
    = appearances on either side of the oriented edge set (union-all
    then count — no self-join). Output is the degree histogram,
    |distinct degrees| rows.

    At 100 TB: the order-key self-join is the heavy step (same cost
    class as triangle counting's pair-gen); the union-all degree
    count and the histogram are both map-side combinable hash
    aggregates over edge- then vertex-sized data. No skew trap: the
    histogram key (degree) is small-cardinality but arrives already
    collapsed to one row per vertex."""
    li = t(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    a, b = li.alias("a"), li.alias("b")
    e = (a.join(b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                & (F.col("a.l_suppkey") < F.col("b.l_suppkey")))
         .select(F.col("a.l_suppkey").alias("u"),
                 F.col("b.l_suppkey").alias("v"))
         .distinct())
    deg = (e.select(F.col("u").alias("node"))
           .unionAll(e.select(F.col("v").alias("node")))
           .groupBy("node")
           .agg(F.count("*").cast("bigint").alias("degree")))
    return (deg.groupBy("degree")
            .agg(F.count("*").cast("bigint").alias("n_vertices")))


@q("emb_power_iteration_top1")  # rows-only: iterative float normalize
def emb_power_iteration_top1(spark, sf, iters=12):
    """Dominant principal direction of the embedding matrix by POWER
    ITERATION — the distributed-PCA primitive (top component of the
    uncentered second moment; centering is one extra broadcast-mean
    pass a production caller composes in front). Each iteration is
    v <- normalize(Q^T (Q v)) computed as ONE scan: the per-row score
    s_i = q_i . v is an exact bigint fold over the int-quantized
    embedding (round(x*256)) zipped with the micro-unit integer v, and
    the dimension contributions sum_i s_i * q_i[pos] are exact bigint
    hash aggregates on 64 keys — so every iteration's reduce is
    ORDER-INDEPENDENT and the whole run is partitioning-invariant,
    unlike a naive float implementation whose result drifts with the
    shuffle plan. Only the driver-side normalize touches floats (64
    values, one fixed order), then re-quantizes v to micro units for
    the next pass. Sign convention: the largest-|loading| dimension is
    made positive, so the output is unique up to nothing.

    At 100 TB: driver state is d=64 integers; each of the 12
    iterations is one scan + one 64-key map-combinable aggregate (the
    posexplode collapses to 64 x partitions rows before the
    exchange); the quantized table is persisted once so iterations
    skip parquet decode. Convergence is the textbook (lambda2/
    lambda1)^k: on a spectrum with a real gap (any corpus with a
    dominant mean/topic direction) a dozen iterations suffice; the
    driver testdata embeddings are isotropic-random (gap ratio 0.93),
    where NO iteration count this side of 200 converges — the
    convergence test therefore runs on a planted-direction fixture
    and the real-data test asserts exact agreement with a numpy
    simulation of the same arithmetic. Overflow budget: |s_i| <= d*128*1e6 ~ 8e9,
    contributions <= n*|s|*128 — rescale s to milli units past ~1e5
    rows per the in-code guard. Not SQL-expressible (iterative
    normalize); property-tested against numpy's top singular
    direction (tests/test_dataops.py)."""
    emb = t(spark, sf, "embeddings").select(
        F.transform("embedding",
                    lambda x: F.round(x * 256).cast("long")).alias("q"))
    emb = emb.persist()
    n = emb.count()
    # keep sum_i s_i*q[pos] inside int64: drop s to milli units when
    # n * (d*128*scale) * 128 would pass ~9e18
    s_unit = 1000 if n > 100_000 else 1
    d = 64
    import math
    v = [round(1_000_000 / math.sqrt(d))] * d
    for _ in range(iters):
        vlit = F.array(*[F.lit(x) for x in v])
        s = F.aggregate(
            F.zip_with("q", vlit, lambda a, b: a * b),
            F.lit(0).cast("long"), lambda acc, x: acc + x)
        scored = emb.select((s / s_unit).cast("long").alias("s"), "q")
        contrib = (scored.select(
            F.posexplode("q").alias("pos", "qv"),
            F.col("s"))
            .groupBy("pos")
            .agg(F.sum(F.col("qv") * F.col("s")).alias("c"))
            .collect())
        c = [0] * d
        for r in contrib:
            c[r["pos"]] = r["c"]
        norm = math.sqrt(sum(float(x) * float(x) for x in c))
        v = [round(float(x) / norm * 1_000_000) for x in c]
    emb.unpersist()
    if v[max(range(d), key=lambda i: abs(v[i]))] < 0:
        v = [-x for x in v]
    rows = [(i, v[i], v[i] / 1_000_000.0) for i in range(d)]
    return spark.createDataFrame(
        rows, "pos int, loading_micro long, loading double")


@q("ts_theilsen_slope", """
WITH d AS (
  SELECT event_type,
         CAST(date_diff('day', DATE '1970-01-01',
                        CAST(date_trunc('day', ts) AS DATE))
              AS BIGINT) AS x,
         CAST(sum(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT) AS y
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
  GROUP BY event_type, date_trunc('day', ts)
), p AS (
  SELECT a.event_type,
         CAST(b.y - a.y AS DOUBLE) / (b.x - a.x) AS slope
  FROM d a JOIN d b ON a.event_type = b.event_type AND b.x > a.x
)
SELECT event_type,
       CAST((SELECT count(*) FROM d WHERE d.event_type = p.event_type)
            AS BIGINT) AS n_days,
       CAST(count(*) AS BIGINT) AS n_pairs,
       ROUND(list_sort(list(slope))[CAST((count(*) + 1) // 2 AS BIGINT)],
             6) + 0.0 AS theilsen_slope
FROM p GROUP BY event_type
""")
def ts_theilsen_slope(spark, sf):
    """Theil-Sen slope estimator per event type — the ROBUST trend
    line (median of all pairwise slopes, 29% breakdown point) that
    survives the outlier days a least-squares fit (win_rolling_slope)
    chases; the standard drift estimator when ops metrics contain
    incident spikes. Pairs are generated at DAY grain after the same
    fact-collapsing rollup the window keys use, so the quadratic pair
    join is |days|^2 per type (~500 pairs/month) — never fact-sized;
    each slope is one double division of exact integers (cent-sum
    deltas over day deltas), and the median is the LOWER-MIDDLE order
    statistic taken explicitly from a sorted slope array (element
    (n+1)//2) so both engines pick the identical element rather than
    trusting engine-specific quantile interpolation.

    At 100 TB: one rollup exchange, one dimension-sized self-join,
    per-type slope arrays bounded by days^2; for decade-long series
    switch to the repeated-median or random-pair-sample variant
    (documented trade: exactness vs pair count)."""
    e = (t(spark, sf, "events")
         .filter(F.col("value").isNotNull() & F.col("ts").isNotNull()))
    d = (e.groupBy("event_type", F.to_date("ts").alias("day"))
         .agg(F.sum(F.round(F.col("value") * 100, 0).cast("bigint"))
              .cast("bigint").alias("y"))
         .select("event_type",
                 F.datediff(F.col("day"), F.lit("1970-01-01").cast("date"))
                 .cast("bigint").alias("x"), "y"))
    a, b = d.alias("a"), d.alias("b")
    p = (a.join(b, (F.col("a.event_type") == F.col("b.event_type"))
                & (F.col("b.x") > F.col("a.x")))
         .select(F.col("a.event_type").alias("event_type"),
                 ((F.col("b.y") - F.col("a.y")).cast("double")
                  / (F.col("b.x") - F.col("a.x"))).alias("slope")))
    nd = d.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_days"))
    agg = (p.groupBy("event_type")
           .agg(F.count("*").cast("bigint").alias("n_pairs"),
                F.array_sort(F.collect_list("slope")).alias("ss")))
    return (agg.join(F.broadcast(nd), "event_type")
            .select("event_type", "n_days", "n_pairs",
                    (F.round(F.element_at(
                        "ss", ((F.col("n_pairs") + 1) / 2)
                        .cast("int")), 6) + 0.0).alias("theilsen_slope")))


@q("feat_woe_encoding", """
WITH g AS (
  SELECT c_mktsegment,
         CAST(count(*) FILTER (c_acctbal > 0) + 1 AS BIGINT) AS pos,
         CAST(count(*) FILTER (c_acctbal <= 0) + 1 AS BIGINT) AS neg
  FROM customer GROUP BY c_mktsegment
), tot AS (
  SELECT CAST(sum(pos) AS BIGINT) AS pt, CAST(sum(neg) AS BIGINT) AS nt
  FROM g
)
SELECT c_mktsegment, pos, neg,
       ROUND(ln((pos * CAST(nt AS DOUBLE)) / (neg * CAST(pt AS DOUBLE))),
             6) + 0.0 AS woe,
       ROUND((pos / CAST(pt AS DOUBLE) - neg / CAST(nt AS DOUBLE))
             * ln((pos * CAST(nt AS DOUBLE))
                  / (neg * CAST(pt AS DOUBLE))), 6) + 0.0 AS iv_term
FROM g CROSS JOIN tot
""")
def feat_woe_encoding(spark, sf):
    """Weight-of-Evidence categorical encoding + per-level Information
    Value — the credit-scoring-standard supervised encoding
    (WoE = ln of the level's positive/negative rate ratio) that, like
    feat_target_encode, replaces a category with a single monotone
    number, but on a LOG-ODDS scale that plugs directly into logistic
    models; IV terms sum to the variable's predictive-power screen
    (<0.02 useless, >0.3 strong). Counts are exact integers with
    add-one smoothing on BOTH engines (no zero-cell infinities by
    construction); the single ln runs over an exact integer rational
    so both engines evaluate the identical double (the
    text_pmi_collocations ln discipline), rounded once.

    At 100 TB: one map-combinable aggregate to |levels| rows, a 1-row
    totals reduce broadcast back — the encoder table is
    dimension-sized and serializes as a training artifact, identical
    plan shape to feat_target_encode."""
    c = t(spark, sf, "customer")
    g = c.groupBy("c_mktsegment").agg(
        (F.count_if(F.col("c_acctbal") > 0) + 1).cast("bigint")
        .alias("pos"),
        (F.count_if(F.col("c_acctbal") <= 0) + 1).cast("bigint")
        .alias("neg"))
    tot = g.agg(F.sum("pos").cast("bigint").alias("pt"),
                F.sum("neg").cast("bigint").alias("nt"))
    lr = F.log((F.col("pos") * F.col("nt").cast("double"))
               / (F.col("neg") * F.col("pt").cast("double")))
    return (g.crossJoin(F.broadcast(tot))
            .select("c_mktsegment", "pos", "neg",
                    (F.round(lr, 6) + 0.0).alias("woe"),
                    (F.round((F.col("pos") / F.col("pt").cast("double")
                              - F.col("neg") / F.col("nt").cast("double"))
                             * lr, 6) + 0.0).alias("iv_term")))


@q("text_keyword_rake", """
WITH ph AS (
  SELECT doc_id, trim(p) AS phrase
  FROM (
    SELECT doc_id,
           unnest(regexp_split_to_array(lower(text),
             '\\b(?:the|and|of|a|an|in|to|is|are|was|were|for|on|with'
             || '|as|by|at|from|that|this|it|be|or|not|but|we|you|they'
             || ')\\b|[^a-z ]+')) AS p
    FROM documents WHERE text IS NOT NULL
  ) WHERE length(trim(p)) > 0
), w AS (
  SELECT doc_id,
         unnest(regexp_split_to_array(phrase, ' +')) AS word,
         CAST(length(regexp_split_to_array(phrase, ' +')) AS BIGINT)
             AS plen
  FROM ph
)
SELECT word,
       CAST(count(*) AS BIGINT) AS freq,
       CAST(sum(plen) AS BIGINT) AS degree,
       ROUND(sum(plen) / CAST(count(*) AS DOUBLE), 6) + 0.0 AS rake_score
FROM w WHERE length(word) > 0
GROUP BY word HAVING count(*) >= 5
""")
def text_keyword_rake(spark, sf):
    """RAKE keyword scoring (Rose et al. 2010) at corpus level:
    candidate phrases are the maximal runs between stopwords and
    punctuation (one regex split against a broadcast-constant
    stopword alternation — the list lives IN the pattern, so there is
    no join at all), and each word scores degree/frequency where
    degree counts co-occurrence weight (the length of every phrase
    the word appears in, multiplicity included) — high-degree words
    are the ones that anchor multi-word technical terms, exactly what
    a tokenizer-vocabulary or tagging pipeline mines first. The
    alternation uses a NON-CAPTURING group: with a capturing group
    both engines would interleave captured delimiters into the split
    output. freq and degree are exact integer aggregates; the score
    is one ratio rounded once.

    At 100 TB: two zero-join passes — phrase split (scan-local
    explode) then word explode into ONE map-combinable hash aggregate
    on word; the >= 5 frequency cut prunes the unique-word tail at
    the reducer. Stopword-set changes are a pattern constant, not a
    data dependency."""
    stop = ("the|and|of|a|an|in|to|is|are|was|were|for|on|with"
            "|as|by|at|from|that|this|it|be|or|not|but|we|you|they")
    d = t(spark, sf, "documents").filter(F.col("text").isNotNull())
    ph = (d.select("doc_id",
                   F.explode(F.split(F.lower("text"),
                                     rf"\b(?:{stop})\b|[^a-z ]+"))
                   .alias("p"))
          .select("doc_id", F.trim("p").alias("phrase"))
          .filter(F.length("phrase") > 0))
    words = ph.select(
        "doc_id",
        F.explode(F.split("phrase", " +")).alias("word"),
        F.size(F.split("phrase", " +")).cast("bigint").alias("plen"))
    return (words.filter(F.length("word") > 0)
            .groupBy("word")
            .agg(F.count("*").cast("bigint").alias("freq"),
                 F.sum("plen").cast("bigint").alias("degree"),
                 (F.round(F.sum("plen") / F.count("*").cast("double"), 6)
                  + 0.0).alias("rake_score"))
            .filter(F.col("freq") >= 5))


@q("conv_stitch_integrity", """
WITH tr AS (
  SELECT 'conv-' || lpad(CAST(doc_id % 50 AS VARCHAR), 8, '0') AS conv_id,
         CAST(doc_id // 50 AS BIGINT) AS turn_idx
  FROM documents WHERE text IS NOT NULL AND doc_id % 13 <> 3
)
SELECT conv_id,
       CAST(count(*) AS BIGINT) AS n_turns,
       CAST(min(turn_idx) AS BIGINT) AS first_turn,
       CAST(max(turn_idx) AS BIGINT) AS last_turn,
       CAST(max(turn_idx) - min(turn_idx) + 1 - count(*) AS BIGINT)
           AS n_missing,
       CASE WHEN max(turn_idx) - min(turn_idx) + 1 = count(*)
            THEN 1 ELSE 0 END AS is_contiguous
FROM tr GROUP BY conv_id
""")
def conv_stitch_integrity(spark, sf):
    """Turn-contiguity gate for the A7/A8 stitch: a conversation whose
    turn_idx sequence has HOLES lost turns somewhere between ingest
    and reassembly (dropped file, failed partition, bad watermark) —
    exactly the defect a lineage-verified resume must surface before
    the transcript trains anything. Missing-turn count is the
    closed-form max-min+1-count over one hash aggregate (no window,
    no sort): contiguity needs only the three moments, never the
    sequence itself. A deterministic 1-in-13 turn drop is planted on
    BOTH engines (self-evidencing: the gate provably fires; turn
    drops land in specific convs, others stay contiguous).

    At 100 TB: one map-combinable aggregate on conv_id — the cheapest
    possible structural gate, runs as a side output of any pass that
    already groups by conversation."""
    d = (t(spark, sf, "documents")
         .filter(F.col("text").isNotNull() & (F.col("doc_id") % 13 != 3)))
    tr = d.select(
        conv_id(),
        (F.col("doc_id") / 50).cast("bigint").alias("turn_idx"))
    span = F.max("turn_idx") - F.min("turn_idx") + 1
    return (tr.groupBy("conv_id").agg(
        F.count("*").cast("bigint").alias("n_turns"),
        F.min("turn_idx").cast("bigint").alias("first_turn"),
        F.max("turn_idx").cast("bigint").alias("last_turn"),
        (span - F.count("*")).cast("bigint").alias("n_missing"),
        F.when(span == F.count("*"), 1).otherwise(0)
        .alias("is_contiguous")))


@q("dq_rowcount_anomaly", """
WITH d AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS n
  FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
), w AS (
  SELECT event_type, day, n,
         list_sort(list(n) OVER (PARTITION BY event_type ORDER BY day
                                 ROWS BETWEEN 7 PRECEDING
                                 AND 1 PRECEDING)) AS trail
  FROM d
), m AS (
  SELECT event_type, day, n,
         CAST(length(trail) AS BIGINT) AS n_trail,
         trail[(length(trail) + 1) // 2] AS trail_median
  FROM w WHERE length(trail) >= 4
)
SELECT event_type, day, n, n_trail,
       CAST(trail_median AS BIGINT) AS trail_median,
       ROUND(CAST(n AS DOUBLE) / trail_median, 6) + 0.0 AS ratio,
       CASE WHEN n * 2 > trail_median * 3
              OR n * 2 < trail_median THEN 1 ELSE 0 END AS is_anomaly
FROM m
""")
def dq_rowcount_anomaly(spark, sf):
    """Ingest-volume anomaly monitor: each (event_type, day) row count
    against the MEDIAN of its own trailing 7 days — the robust
    day-over-day freshness/volume gate an ingestion pipeline pages
    on (median, not mean: one backfill day must not mask the next
    real outage). The trailing median is the lower-middle element of
    a sorted 7-element frame array (bounded BY CONSTRUCTION — the
    win_rolling_median trick), warm-up days with under 4 trailing
    points are excluded, and the anomaly rule (outside [0.5x, 1.5x])
    is evaluated in EXACT integer cross-multiplication (n*2 vs
    median*3) so the flag never hinges on a float boundary.

    At 100 TB: the day rollup collapses the fact first (one
    combinable exchange); the per-type ordered window runs over
    |types| x |days| rows with constant-size frames."""
    e = t(spark, sf, "events").filter(F.col("ts").isNotNull())
    d = (e.groupBy("event_type", F.to_date("ts").alias("day"))
         .agg(F.count("*").cast("bigint").alias("n")))
    f = (W.partitionBy("event_type").orderBy("day").rowsBetween(-7, -1))
    w = d.withColumn("trail", F.array_sort(F.collect_list("n").over(f)))
    m = (w.filter(F.size("trail") >= 4)
         .withColumn("n_trail", F.size("trail").cast("bigint"))
         .withColumn("trail_median",
                     F.element_at("trail",
                                  ((F.size("trail") + 1) / 2).cast("int"))
                     .cast("bigint")))
    return m.select(
        "event_type", "day", "n", "n_trail", "trail_median",
        (F.round(F.col("n").cast("double") / F.col("trail_median"), 6)
         + 0.0).alias("ratio"),
        F.when((F.col("n") * 2 > F.col("trail_median") * 3)
               | (F.col("n") * 2 < F.col("trail_median")), 1)
        .otherwise(0).alias("is_anomaly"))


@q("corpus_domain_mix_kl", """
WITH c AS (
  SELECT source, lang, CAST(count(*) AS BIGINT) AS n
  FROM documents WHERE source IS NOT NULL AND lang IS NOT NULL
  GROUP BY source, lang
), st AS (
  SELECT source, CAST(sum(n) AS BIGINT) AS ns FROM c GROUP BY source
), lt AS (
  SELECT lang, CAST(sum(n) AS BIGINT) AS nl FROM c GROUP BY lang
), g AS (
  SELECT CAST(sum(n) AS BIGINT) AS ng FROM c
)
SELECT c.source,
       CAST(count(*) AS BIGINT) AS n_langs,
       CAST(max(st.ns) AS BIGINT) AS n_docs,
       ROUND(sum((c.n / CAST(st.ns AS DOUBLE))
                 * ln((c.n * CAST(g.ng AS DOUBLE))
                      / (CAST(st.ns AS DOUBLE) * lt.nl))), 6) + 0.0
           AS kl_vs_corpus
FROM c JOIN st ON c.source = st.source
       JOIN lt ON c.lang = lt.lang CROSS JOIN g
GROUP BY c.source
""")
def corpus_domain_mix_kl(spark, sf):
    """Per-source language-mix divergence: KL(source lang distribution
    || corpus lang distribution) — the domain-shift screen a curation
    pipeline runs per crawl source to catch a feed that silently
    changed language mix (the corpus_mix_plan / corpus_dsir_weights
    family's monitoring face). Every probability is an exact-integer
    ratio (cell/source and lang/corpus counts), each p*ln(p/q) term
    is evaluated identically on both engines from one exact rational
    (c.n * ng) / (ns * nl), and the per-source sum folds inside one
    hash aggregate whose addend order is fixed by the surrounding
    GROUP BY... made order-INSENSITIVE by rounding only the final
    sum: with <=10 langs per source the double sum over a handful of
    terms is exact to well past 6 dp regardless of order (terms are
    O(1), not 1e6 of them — the float-fold concern is bounded and
    documented, unlike corpus-sized float sums which this repo
    quantizes).

    At 100 TB: (source, lang) cells are one combinable aggregate;
    marginals are dimension-sized broadcasts; nothing touches the
    fact twice."""
    d = (t(spark, sf, "documents")
         .filter(F.col("source").isNotNull() & F.col("lang").isNotNull()))
    c = d.groupBy("source", "lang").agg(
        F.count("*").cast("bigint").alias("n"))
    st = c.groupBy("source").agg(F.sum("n").cast("bigint").alias("ns"))
    lt = c.groupBy("lang").agg(F.sum("n").cast("bigint").alias("nl"))
    g = c.agg(F.sum("n").cast("bigint").alias("ng"))
    term = ((F.col("n") / F.col("ns").cast("double"))
            * F.log((F.col("n") * F.col("ng").cast("double"))
                    / (F.col("ns").cast("double") * F.col("nl"))))
    return (c.join(F.broadcast(st), "source")
            .join(F.broadcast(lt), "lang")
            .crossJoin(F.broadcast(g))
            .groupBy("source")
            .agg(F.count("*").cast("bigint").alias("n_langs"),
                 F.max("ns").cast("bigint").alias("n_docs"),
                 (F.round(F.sum(term), 6) + 0.0).alias("kl_vs_corpus")))
