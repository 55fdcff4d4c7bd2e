"""Byte-pair-encoding tokenizer: distributed training + Arrow apply.

The training-data pipeline's tokenizer stage (the piece that turns a
curated corpus into model-ready token counts) done Spark-first:

- **Training** makes exactly ONE pass over the corpus — a hash
  aggregate collapsing 100 TB of text to its word-frequency table.
  The merge loop then runs on that collapsed table, which Heaps' law
  bounds at ~|corpus|^0.5 entries (millions, not billions) — the same
  collect-the-counts design SentencePiece/HF tokenizers use, because
  a per-iteration distributed pair-count would pay `num_merges`
  shuffles to optimize a dimension-sized problem.
- **Apply** broadcasts the merge ranks once per executor and
  tokenizes inside `mapInPandas` (Arrow batches, per-word memo cache
  so repeated words — Zipf says almost all of them — segment once
  per batch, not once per occurrence).

Semantics are the classic Sennrich et al. (2016) word-internal BPE:
words end with a `</w>` marker, each training round merges ALL
occurrences of the most frequent symbol pair (ties broken by
lexicographically smallest pair, so training is deterministic), and
the applier replays merges in rank order — the applier's segmentation
of any training word equals the trainer's final symbol sequence for
it (property-tested in tests/test_bpe.py).
"""

from __future__ import annotations

from collections import Counter

import pandas as pd

from pyspark.sql import functions as F, types as T

from .queries import q, t, words

WORD_END = "</w>"
MAX_WORD_CHARS = 24  # bounds the per-word merge loop; longer tokens
                     # (urls, base64 runs) are noise for a tokenizer


def _word_symbols(word: str) -> tuple[str, ...]:
    return tuple(word) + (WORD_END,)


def _merge_in_word(sym: tuple[str, ...], pair: tuple[str, str],
                   merged: str) -> tuple[str, ...]:
    """Replace every non-overlapping occurrence of `pair`, left to
    right — the order every BPE implementation uses, and the one that
    makes trainer and applier agree on runs like 'aaa'."""
    out, i, n = [], 0, len(sym)
    while i < n:
        if i + 1 < n and sym[i] == pair[0] and sym[i + 1] == pair[1]:
            out.append(merged)
            i += 2
        else:
            out.append(sym[i])
            i += 1
    return tuple(out)


def train_merges_from_counts(word_counts: dict[str, int],
                             num_merges: int) -> list[tuple[str, str]]:
    """The merge loop over the collapsed word-frequency table.

    Deterministic: each round picks (max pair count, then smallest
    pair lexicographically). Runs driver-side by design — see module
    docstring for why that IS the scale-correct layout.
    """
    vocab: dict[tuple[str, ...], int] = {
        _word_symbols(w): c for w, c in word_counts.items() if w}
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        pairs: Counter = Counter()
        for sym, cnt in vocab.items():
            for a, b in zip(sym, sym[1:]):
                pairs[(a, b)] += cnt
        if not pairs:
            break
        best = min(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merged = best[0] + best[1]
        vocab = {_merge_in_word(sym, best, merged): cnt
                 for sym, cnt in vocab.items()}
        merges.append(best)
    return merges


def segment_word(word: str, ranks: dict[tuple[str, str], int]
                 ) -> tuple[str, ...]:
    """Apply learned merges to one word: repeatedly merge the
    LOWEST-rank pair present (all its occurrences), exactly replaying
    training order — so training-corpus words reproduce the trainer's
    final symbols."""
    sym = _word_symbols(word)
    while len(sym) > 1:
        best_rank, best_pair = None, None
        for a, b in zip(sym, sym[1:]):
            r = ranks.get((a, b))
            if r is not None and (best_rank is None or r < best_rank):
                best_rank, best_pair = r, (a, b)
        if best_pair is None:
            break
        sym = _merge_in_word(sym, best_pair, best_pair[0] + best_pair[1])
    return sym


def _corpus_word_counts(spark, sf, num_words_cap: int | None = None):
    """ONE distributed pass: documents → lowercased whitespace words →
    hash-agg counts (map-side combinable). Returns the collected
    frequency table."""
    d = t(spark, sf, "documents").filter(F.col("text").isNotNull())
    wc = (d.select(F.explode(words(lower=True)).alias("w"))
          .filter((F.col("w") != "") &
                  (F.length("w") <= MAX_WORD_CHARS))
          .groupBy("w").agg(F.count("*").alias("n")))
    rows = wc.collect()
    return {r["w"]: r["n"] for r in rows}


def train_bpe(spark, sf, num_merges: int = 40) -> list[tuple[str, str]]:
    return train_merges_from_counts(_corpus_word_counts(spark, sf),
                                    num_merges)


@q("bpe_train_merges")  # rows-only: iterative trainer, not SQL-expressible
def bpe_train_merges(spark, sf):
    """BPE TRAINING as a queries() key: the learned merge table
    (rank, left, right, merged) for 40 merges over the documents
    corpus. Deterministic by construction (tie-break above), so the
    test gate is repeated-run equality plus the hand-derived Sennrich
    fixture — an oracle SQL cannot express the iterative
    merge-and-recount."""
    merges = train_bpe(spark, sf, num_merges=40)
    rows = [(i, a, b, a + b) for i, (a, b) in enumerate(merges)]
    return spark.createDataFrame(
        rows, "rank INT, left STRING, right STRING, merged STRING")


@q("text_bpe_tokens")  # rows-only: depends on the trained merge table
def text_bpe_tokens(spark, sf):
    """Tokenizer APPLY at corpus scale: broadcast the 40-merge ranks,
    tokenize every document inside mapInPandas (Arrow batches, memo
    per distinct word), and report per-language fertility — docs,
    words, BPE tokens, and tokens-per-word (the number tokenizer
    comparisons are scored on).

    Scale notes: ranks are a tiny broadcast; the apply is
    embarrassingly parallel (no shuffle before the |langs|-row
    aggregate); the per-batch word memo turns Zipf repetition into
    cache hits so the Python kernel cost tracks DISTINCT words per
    batch, not corpus length."""
    merges = train_bpe(spark, sf, num_merges=40)
    ranks = {p: i for i, p in enumerate(merges)}
    bc = spark.sparkContext.broadcast(ranks)

    out_schema = T.StructType([
        T.StructField("lang", T.StringType()),
        T.StructField("n_words", T.LongType()),
        T.StructField("n_tokens", T.LongType()),
    ])

    def tok(batches):
        rk = bc.value
        memo: dict[str, int] = {}
        for pdf in batches:
            langs, nw, nt = [], [], []
            for lang, text in zip(pdf["lang"], pdf["text"]):
                words = [w for w in str(text).lower().split()
                         if w and len(w) <= MAX_WORD_CHARS]
                tot = 0
                for w in words:
                    c = memo.get(w)
                    if c is None:
                        c = len(segment_word(w, rk))
                        memo[w] = c
                    tot += c
                langs.append(lang)
                nw.append(len(words))
                nt.append(tot)
            yield pd.DataFrame(
                {"lang": langs, "n_words": nw, "n_tokens": nt})

    d = (t(spark, sf, "documents")
         .filter(F.col("text").isNotNull())
         .select("lang", "text"))
    per_doc = d.mapInPandas(tok, schema=out_schema)
    return (per_doc.groupBy("lang")
            .agg(F.count("*").cast("bigint").alias("n_docs"),
                 F.sum("n_words").cast("bigint").alias("n_words"),
                 F.sum("n_tokens").cast("bigint").alias("n_tokens"),
                 F.round(F.sum("n_tokens").cast("double")
                         / F.sum("n_words"), 4)
                 .alias("tokens_per_word")))
