"""Behavioral tests for the training-data ops (planted fixtures)."""

import itertools
import os
import re
import string
import tempfile

import pytest
from pyspark.sql import functions as F

import ocrflow.dataops as D

SF_DIR = os.environ.get("OCRFLOW_TEST_SF_DIR", "/root/testdata/sf0.001")


def test_minhash_lsh_finds_planted_near_dup(spark, tmp_path):
    src = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    one = src.filter("doc_id = 7").first()
    words = one["text"].split()
    words[3] = "REPLACED"
    planted = spark.createDataFrame(
        [(99991, " ".join(words), one["lang"], one["source"],
          len(one["text"]))], src.schema)
    tmp = str(tmp_path)
    src.unionByName(planted).write.parquet(os.path.join(tmp, "documents.parquet"))
    pairs = {(r["doc_a"], r["doc_b"])
             for r in D.dedup_minhash_lsh(spark, tmp).collect()}
    assert (7, 99991) in pairs


def test_exact_dedup_finds_planted_copy(spark, tmp_path):
    src = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    one = src.filter("doc_id = 3").first()
    planted = spark.createDataFrame(
        [(88888, one["text"], one["lang"], one["source"], one["n_chars"])],
        src.schema)
    tmp = str(tmp_path)
    src.unionByName(planted).write.parquet(os.path.join(tmp, "documents.parquet"))
    dups = {r["keep_id"]: r["n_dups"]
            for r in D.dedup_exact(spark, tmp).collect()}
    assert dups[3] == 2  # original kept (min doc_id), copy counted


def test_ann_lsh_recall_vs_bruteforce(spark):
    bf = {(r["query_id"], r["neighbor_id"])
          for r in D.ann_bruteforce_cosine(spark, SF_DIR).collect()}
    lsh = {(r["query_id"], r["neighbor_id"])
           for r in D.ann_lsh_bucketed(spark, SF_DIR).collect()}
    assert bf
    assert len(bf & lsh) / len(bf) >= 0.6


def test_simhash_near_dup_same_bucket(spark):
    # a doc and its 1-word variant land in the same 16-bit prefix
    # bucket — computed by the JVM-side kernel itself (no Python twin)
    from ocrflow.dataops import simhash_df

    base = ("the quick brown fox jumps over the lazy dog " * 5).strip()
    w = base.split()
    w[4] = "leaps"  # one token changed out of 45
    variant = " ".join(w)
    df = spark.createDataFrame([(1, base), (2, variant), (3, "zq xj vv kk")],
                               "doc_id long, text string")
    rows = {r["doc_id"]: (r["simhash"], r["bucket"])
            for r in simhash_df(df).collect()}
    assert rows[1][1] == rows[2][1]          # near-dups share the bucket
    assert rows[3][0] != rows[1][0]          # unrelated text differs


def test_connected_components_chain_and_convergence(spark):
    # two chains + a singleton edge: min label must propagate 4 hops
    from ocrflow.dataops import connected_components
    edges = spark.createDataFrame(
        [(10, 11), (11, 12), (12, 13), (13, 14),   # chain → comp 10
         (50, 51),                                  # pair  → comp 50
         (7, 8), (8, 9)],                           # chain → comp 7
        "src long, dst long")
    comp = {r["id"]: r["comp"] for r in connected_components(edges).collect()}
    assert {comp[v] for v in (10, 11, 12, 13, 14)} == {10}
    assert {comp[v] for v in (50, 51)} == {50}
    assert {comp[v] for v in (7, 8, 9)} == {7}


def test_dedup_materialize_seeded_corpus(spark, tmp_path):
    # plant exact copies; the materialized corpus keeps only min-id
    # winners and every non-dup row
    src = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    one = src.filter("doc_id = 3").first()
    copies = spark.createDataFrame(
        [(90001, one["text"], one["lang"], one["source"], one["n_chars"]),
         (90002, one["text"], one["lang"], one["source"], one["n_chars"])],
        src.schema)
    tmp = str(tmp_path)
    src.unionByName(copies).write.parquet(os.path.join(tmp, "documents.parquet"))
    kept = {r["doc_id"] for r in D.QUERIES["dedup_materialize"](spark, tmp).collect()}
    assert 3 in kept and 90001 not in kept and 90002 not in kept
    # winners only: no two kept docs share a fingerprint
    from ocrflow.dataops import _doc_fingerprints
    fp = {r["doc_id"]: r["fingerprint"]
          for r in _doc_fingerprints(spark, tmp).collect()}
    kept_fps = [fp[d] for d in kept]
    assert len(kept_fps) == len(set(kept_fps))
    # completeness: every fingerprint group is represented by exactly one doc
    assert len(kept) == len(set(fp.values()))


def test_lsh_hot_bucket_cap_bounds_candidates(spark):
    # degenerate corpus: 200 identical docs → one hot bucket per band.
    # Uncapped, the self-join yields ~200²/2 pairs; the cap drops the
    # hot buckets so candidate output stays bounded (here: zero).
    from ocrflow.dataops import minhash_lsh_pairs
    docs = spark.createDataFrame(
        [(i, ["alpha", "beta", "gamma", "delta", "epsilon"]) for i in range(200)],
        "doc_id long, w array<string>")
    capped = minhash_lsh_pairs(docs, max_bucket=64).count()
    assert capped == 0
    uncapped = minhash_lsh_pairs(docs, max_bucket=None).count()
    assert uncapped == 200 * 199 // 2


def test_lsh_cap_acts_before_gather(spark):
    # The scale contract: hot-bucket rows are dropped BEFORE
    # collect_list, so a mega-bucket buffers in the window's SPILLABLE
    # row buffer, never in one aggregation buffer. In the printed plan
    # (top-down, output→scan) the bsz Filter must therefore appear
    # BELOW (after) the collect_list aggregate, and the window must not
    # add a second exchange over the gather's.
    from ocrflow.dataops import minhash_lsh_pairs
    docs = spark.createDataFrame(
        [(i, ["w%d" % (i % 7), "x", "y", "z", "q"]) for i in range(100)],
        "doc_id long, w array<string>")
    plan = minhash_lsh_pairs(docs)._jdf.queryExecution().executedPlan().toString()
    gather = plan.index("collect_list")
    cap = plan.index("bsz")
    assert cap > gather                   # filter is a child of the gather
    assert "Window" in plan
    assert "Join" not in plan


def test_embedding_lsh_cap_bounds_dense_cluster(spark, tmp_path):
    # degenerate embedding corpus: one dense cluster (identical unit
    # vectors) of 300 + 20 distinct vectors. Uncapped this gathers a
    # 300-id array per table and emits ~300²/2 pairs; capped, the hot
    # buckets are dropped before the gather and output stays bounded.
    dim = 8
    base = [1.0] + [0.0] * (dim - 1)
    rows = [(i, base) for i in range(300)]
    rows += [(1000 + i, [0.0] * i + [1.0] + [0.0] * (dim - 1 - i))
             for i in range(1, min(20, dim))]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    tmp = str(tmp_path)
    df.write.parquet(os.path.join(tmp, "embeddings.parquet"))
    capped = D.dedup_embedding_lsh(spark, tmp).count()
    assert capped == 0                     # hot cluster dropped entirely
    uncapped = D.dedup_embedding_lsh(spark, tmp, max_bucket=None).count()
    assert uncapped == 300 * 299 // 2      # cluster pairs, cos = 1.0


def test_connected_components_random_graphs_vs_union_find(spark):
    """Property: CC labels equal a plain union-find oracle on random
    graphs (deterministic seeds; chains, stars, cycles arise freely)."""
    import random
    from ocrflow.dataops import connected_components

    for seed in (1, 2, 3):
        rng = random.Random(seed)
        n, m = 60, 45
        edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        edges = [(a, b) for a, b in edges if a != b]

        parent = list(range(n))
        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x
        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        # union-by-min keeps the smaller root, so find(v) IS the
        # component's minimum vertex id
        expected = {v: find(v) for v in {v for e in edges for v in e}}

        df = spark.createDataFrame(edges, "src long, dst long")
        got = {r["id"]: r["comp"]
               for r in connected_components(df).collect()}
        assert got == expected, f"seed {seed}"


def test_dedup_materialize_lsh_end_to_end(spark, tmp_path):
    # plant two near-identical copies of doc 7; the production path
    # keeps the original and drops both variants
    src = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    one = src.filter("doc_id = 7").first()
    w1 = one["text"].split(); w1[2] = "VARIANTA"
    w2 = one["text"].split(); w2[5] = "VARIANTB"
    planted = spark.createDataFrame(
        [(99996, " ".join(w1), one["lang"], one["source"], one["n_chars"]),
         (99997, " ".join(w2), one["lang"], one["source"], one["n_chars"])],
        src.schema)
    tmp = str(tmp_path)
    src.unionByName(planted).write.parquet(os.path.join(tmp, "documents.parquet"))
    kept = {r["doc_id"]
            for r in D.QUERIES["dedup_materialize_lsh"](spark, tmp).collect()}
    assert 7 in kept and 99996 not in kept and 99997 not in kept
    # exact expectation: union-find over the verified pair list (the
    # corpus has organic near-dups too — min of each component is kept)
    pairs = [(r["doc_a"], r["doc_b"])
             for r in D.QUERIES["dedup_lsh_verified"](spark, tmp).collect()]
    all_ids = {r["doc_id"] for r in spark.read.parquet(
        os.path.join(tmp, "documents.parquet"))
        .filter("text IS NOT NULL AND n_chars < 300").collect()}
    parent = {v: v for v in all_ids}
    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x
    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {v for v in all_ids if find(v) == v}
    assert kept == expected


def test_lsh_verified_finds_planted_near_dup(spark, tmp_path):
    src = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    one = src.filter("doc_id = 7").first()
    words = one["text"].split()
    words[3] = "REPLACED"
    planted = spark.createDataFrame(
        [(99995, " ".join(words), one["lang"], one["source"],
          len(one["text"]))], src.schema)
    tmp = str(tmp_path)
    src.unionByName(planted).write.parquet(os.path.join(tmp, "documents.parquet"))
    rows = D.QUERIES["dedup_lsh_verified"](spark, tmp).collect()
    hits = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in rows}
    assert (7, 99995) in hits and hits[(7, 99995)] >= 0.5


@pytest.mark.parametrize("key", ["dedup_embedding_cosine",
                                 "dedup_embedding_lsh"])
def test_embedding_dedup_finds_planted_duplicate(spark, key, tmp_path):
    # an exact copy of vec 2 (same label) is the only pair at cosine ≥ τ:
    # the label-blocked verifier finds it, and the LSH scanner must land
    # it in identical buckets in every table and keep it on the re-check
    src = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    one = src.filter("vec_id = 2").first()
    planted = spark.createDataFrame([(99990, one["embedding"], one["label"])],
                                    src.schema)
    src.unionByName(planted).write.parquet(str(tmp_path / "embeddings.parquet"))
    rows = D.QUERIES[key](spark, str(tmp_path)).collect()
    assert [(r["vec_a"], r["vec_b"]) for r in rows] == [(2, 99990)]
    if key == "dedup_embedding_lsh":
        assert rows[0]["cosine"] >= 0.9999


def test_text_analysis_sanity(spark):
    q = D.QUERIES
    lang = {r["doc_id"]: r["lang_pred"]
            for r in q["text_lang_id"](spark, SF_DIR).collect()}
    assert set(lang.values()) <= {"cjk", "latin", "other"}
    qual = q["text_quality_score"](spark, SF_DIR).collect()
    assert all(0 <= r["stopword_ratio"] <= 1.0 for r in qual)
    assert all(r["n_word"] > 0 for r in qual)
    fp = q["text_fingerprint"](spark, SF_DIR).collect()
    assert all(len(r["fingerprint"]) == 32 for r in fp)


def test_multimodal_plumbing(spark):
    import ocrflow.multimodal as M
    meta = M.mm_metadata(spark, SF_DIR).collect()
    assert meta and all(len(r["content_md5"]) == 32 for r in meta)
    imgs = [r for r in meta if r["kind"] == "image"]
    assert imgs and all(r["decoded_units"] > 0 for r in imgs)

    rz = M.mm_resize(spark, SF_DIR).collect()
    assert rz and all(r["thumb_px"] == 256 for r in rz)

    fs = M.mm_frame_sample(spark, SF_DIR)
    rows = fs.collect()
    assert rows and all(r["frame_idx"] % 5 == 0 for r in rows)
    # row expansion: more frame rows than video assets
    n_videos = M.make_assets(spark, SF_DIR).filter("kind = 'video'").count()
    assert len(rows) >= n_videos


def test_python_datasource_matches_gen_rows(spark):
    # the custom DataSource yields exactly the rows the reference
    # generator produces for the same (turns, seed) — per-partition
    # slice generation loses/duplicates nothing
    from ocrflow.sources import register
    from ocrflow.synth import gen_rows
    register(spark)
    df = (spark.read.format("ocrflow_synth")
          .option("turns", 500).option("seed", 42)
          .option("partitions", 4).load())
    got = {(r["conv_id"], r["turn_idx"]): (r["role"], r["text"], r["tool"])
           for r in df.collect()}
    exp = {(r["conv_id"], r["turn_idx"]): (r["role"], r["text"], r["tool"])
           for r in gen_rows(500, seed=42, monster_every=1000)}
    assert got == exp


def test_mm_phash_dedup_planted_copy(spark, tmp_path):
    # two docs with identical text → identical image payloads → one
    # phash group of size ≥ 2 keeping the min asset id
    import ocrflow.multimodal as M
    src = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    one = src.filter("doc_id = 9").first()  # 9 % 3 == 0 → image kind
    # 96009 = 9 + 192*500: same doc_id mod 3 (kind), mod 64 (width) and
    # mod 48 (height), so the identical payload decodes identically
    planted = spark.createDataFrame(
        [(96009, one["text"], one["lang"], one["source"], one["n_chars"])],
        src.schema)
    tmp = str(tmp_path)
    src.unionByName(planted).write.parquet(os.path.join(tmp, "documents.parquet"))
    groups = {r["keep_id"]: r["n_dups"]
              for r in M.mm_dedup_phash(spark, tmp).collect()}
    assert groups.get(9, 0) >= 2  # original kept, copy counted


def test_iter_pagerank_converges(spark):
    import ocrflow.dataops as D
    rows = D.QUERIES["iter_pagerank"](spark, SF_DIR).collect()
    assert 0 < len(rows) <= 20
    ranks = [r["rank"] for r in rows]
    assert ranks == sorted(ranks, reverse=True)
    assert all(r > 0 for r in ranks)
    # rank mass conservation-ish: top ranks exceed the teleport floor
    assert ranks[0] > 0.15


def test_ann_ivf_recall_vs_bruteforce(spark):
    # IVF with nprobe=3 of 8 cells must recover most of the exact
    # top-k (0.95 measured on testdata; bound leaves seed slack)
    bf = {(r["query_id"], r["neighbor_id"])
          for r in D.ann_bruteforce_cosine(spark, SF_DIR).collect()}
    ivf = {(r["query_id"], r["neighbor_id"])
           for r in D.ann_ivf_coarse(spark, SF_DIR).collect()}
    assert bf
    assert len(bf & ivf) / len(bf) >= 0.6


def test_ann_ivf_probes_fraction_of_corpus(spark):
    # the IVF contract: candidates per query ≤ the probed cells' share
    # of the corpus (here 3 of 8 cells) plus cluster skew — far below
    # the brute-force N-per-query
    from ocrflow.dataops import ANN_QUERIES, ann_ivf_coarse
    n_corpus = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").count()
    out = ann_ivf_coarse(spark, SF_DIR)
    # rank column exists for every query → each query produced a top-k
    per_q = {r["query_id"] for r in out.collect()}
    assert per_q == set(range(ANN_QUERIES))
    assert n_corpus >= 100  # the fraction claim is meaningful


def test_pack_sequences_invariants(spark):
    """Next-fit packing invariants on sf0.001: every pack fits the
    budget unless it holds a single oversized doc; offsets are the
    running sum within each pack; bin ids are dense from 1 per
    source."""
    from ocrflow.dataops import _PACK_BUDGET
    from ocrflow.queries import QUERIES

    rows = QUERIES["pack_sequences_nextfit"](
        spark, "/root/testdata/sf0.001").collect()
    assert rows
    from collections import defaultdict
    packs = defaultdict(list)
    for r in rows:
        packs[(r["source"], r["bin_id"])].append(r)
    for (src, bid), members in packs.items():
        members.sort(key=lambda r: r["doc_id"])
        total = sum(r["n_tokens"] for r in members)
        if total > _PACK_BUDGET:
            assert len(members) == 1  # oversized doc packs alone
        off = 0
        for r in members:
            assert r["offset_in_bin"] == off
            off += r["n_tokens"]
    by_src = defaultdict(set)
    for r in rows:
        by_src[r["source"]].add(r["bin_id"])
    for src, bids in by_src.items():
        assert bids == set(range(1, max(bids) + 1))


def test_nextfit_pack_property():
    """Hypothesis: for random size sequences and budgets, next-fit
    packing satisfies — every multi-doc pack fits the budget; packs
    are contiguous runs with dense ids from 1; offsets are running
    sums; a doc is NEVER split across packs; and next-fit never opens
    a new pack while the current one still fits the doc."""
    from hypothesis import given, strategies as st

    from ocrflow.dataops import nextfit_pack

    @given(st.lists(st.integers(min_value=1, max_value=400), max_size=200),
           st.integers(min_value=1, max_value=300))
    def check(ns, budget):
        bins, offs = nextfit_pack(ns, budget)
        assert len(bins) == len(offs) == len(ns)
        if not ns:
            return
        assert bins[0] == 1 and offs[0] == 0
        for i in range(1, len(ns)):
            assert bins[i] in (bins[i - 1], bins[i - 1] + 1)  # dense runs
            if bins[i] == bins[i - 1]:
                assert offs[i] == offs[i - 1] + ns[i - 1]     # running sum
                assert offs[i] + ns[i] <= budget              # fits
            else:
                assert offs[i] == 0
                # greedy: only opened because the doc did NOT fit
                assert offs[i - 1] + ns[i - 1] + ns[i] > budget
        # oversized docs pack alone
        for i, n in enumerate(ns):
            if n > budget:
                same = [j for j in range(len(ns)) if bins[j] == bins[i]]
                assert same == [i]

    check()


def test_tfidf_df_cap_bounds_hot_term_fanout(spark, tmp_path):
    # degenerate corpus: 300 identical short docs → every term has
    # df=300. Uncapped, the inverted-index self-join emits 300²/2
    # cosine-1.0 pairs; with the df cap the hot terms are dropped
    # BEFORE the self-join, so candidate work stays bounded (here:
    # zero — no term survives).
    from ocrflow.dataops import tfidf_cosine_pairs
    docs = spark.createDataFrame(
        [(i, "alpha beta gamma", 17) for i in range(300)],
        "doc_id long, text string, n_chars int")
    tmp = str(tmp_path)
    docs.write.parquet(os.path.join(tmp, "documents.parquet"))
    assert tfidf_cosine_pairs(spark, tmp).count() == 0
    assert tfidf_cosine_pairs(spark, tmp, df_cap=None).count() == 300 * 299 // 2


def test_containment_scanner_cap_bounds_hot_tokens(spark):
    # degenerate corpus: 300 identical docs → every token's posting
    # bucket holds 300 rows. Capped, the hot buckets drop before the
    # gather (0 candidates); uncapped, every ordered pair survives the
    # exact verify (containment 1.0 both directions).
    from ocrflow.dataops import containment_candidates
    docs = spark.createDataFrame(
        [(i, ["alpha", "beta", "gamma"]) for i in range(300)],
        "doc_id long, tk array<string>")
    assert containment_candidates(docs).count() == 0
    assert containment_candidates(docs, max_bucket=None).count() \
        == 300 * 299          # ordered (contained, container) pairs


def test_containment_candidates_join_free_and_cap_pre_gather(spark):
    # scale contract: candidate generation has NO join (gather-and-
    # expand, like the LSH scanners) and the bsz cap filter sits BELOW
    # the collect_list aggregate in the printed (top-down) plan, so a
    # mega-bucket buffers in WindowExec's spillable buffer, never in
    # one aggregation buffer.
    from ocrflow.dataops import containment_candidates
    docs = spark.createDataFrame(
        [(i, ["w%d" % (i % 7), "x%d" % i, "y%d" % i]) for i in range(50)],
        "doc_id long, tk array<string>")
    plan = containment_candidates(docs)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Join" not in plan
    assert plan.index("bsz") > plan.index("collect_list")


def test_containment_scanner_agrees_with_allpairs_verifier(spark):
    # no-false-negatives proof at corpus scale: the two-stage scanner
    # reproduces the exact all-pairs verifier row-for-row on sf0.01.
    from ocrflow.dataops import dedup_containment, dedup_containment_scanner
    exact = sorted(map(tuple, dedup_containment(spark, SF_DIR).collect()))
    scan = sorted(map(tuple, dedup_containment_scanner(spark, SF_DIR).collect()))
    assert scan == exact and len(exact) > 0


def test_percentile_approx_rank_error_bounded(spark):
    # GK sketch contract: at accuracy=1000 the returned value's true
    # rank is within n/1000 of the target rank, per group.
    from ocrflow.dataops import agg_percentile_approx
    rows = {r["l_returnflag"]: r for r in
            agg_percentile_approx(spark, SF_DIR).collect()}
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    for flag, r in rows.items():
        vals = sorted(x["l_extendedprice"] for x in
                      li.filter(li.l_returnflag == flag).collect())
        n = len(vals)
        for q, got in ((0.5, r["approx_p50"]), (0.99, r["approx_p99"])):
            import bisect
            lo = bisect.bisect_left(vals, got)
            hi = bisect.bisect_right(vals, got)
            target = q * n
            slack = max(n / 1000.0, 1.0) + 1
            assert lo - slack <= target <= hi + slack, \
                (flag, q, got, lo, hi, target, n)


def test_observation_metrics_collected_with_plan(spark):
    # df.observe() metrics must match independent aggregates, and they
    # arrive as a side effect of the action (no second scan).
    from pyspark.sql import Observation
    from pyspark.sql import functions as F
    d = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .filter(F.col("text").isNotNull())
    obs = Observation("gate_t")
    gated = (d.observe(obs, F.count(F.lit(1)).alias("rows_seen"),
                       F.sum("n_chars").alias("chars_seen"))
             .filter(F.col("n_chars").between(20, 5000)))
    kept = gated.count()                      # the action that fires obs
    got = obs.get
    want_rows = d.count()
    want_chars = d.agg(F.sum("n_chars")).first()[0]
    assert got["rows_seen"] == want_rows
    assert got["chars_seen"] == want_chars
    assert 0 < kept <= want_rows


def test_incremental_scan_recall_and_precision(spark):
    # The minhash-probe scanner must agree with the exact twin on the
    # decisions it makes (precision 1.0 after exact verify: every dup
    # it flags is a true dup with the identical best match) and recall
    # most true dups (LSH banding can miss borderline pairs).
    from ocrflow.dataops import dedup_incremental_exact, dedup_incremental_scan
    exact = {r["doc_id"]: (r["dup_of"], r["best_jaccard"])
             for r in dedup_incremental_exact(spark, SF_DIR).collect()}
    scan = {r["doc_id"]: (r["dup_of"], r["best_jaccard"])
            for r in dedup_incremental_scan(spark, SF_DIR).collect()}
    assert set(scan) == set(exact)          # one decision row per new doc
    true_dups = {d for d, (b, _) in exact.items() if b is not None}
    flagged = {d for d, (b, _) in scan.items() if b is not None}
    assert flagged <= true_dups             # precision 1.0
    for d in flagged:                        # jaccard values are exact
        assert scan[d][1] <= exact[d][1] + 1e-9
    # recall stratified by similarity: 4x4 banding catches nearly all
    # high-sim dups (P(collide) = 1-(1-j^4)^4: j=0.8 -> 0.88) and is
    # expectedly lossy near the 0.5 threshold (j=0.5 -> 0.23)
    high = {d for d in true_dups if exact[d][1] >= 0.8}
    if high:
        recall_high = len(flagged & high) / len(high)
        assert recall_high >= 0.6, (recall_high, len(flagged), len(high))


def test_python_stream_source_equals_batch(spark):
    """The streaming face of the Python DataSource drains to exactly
    the batch read — same rows, same bytes, across micro-batch waves
    (and the key's aggregate is consistent with it)."""
    import __spark_entry__ as E
    from ocrflow.sources import register

    Q = E.queries()
    agg = {r["role"]: r["n_turns"]
           for r in Q["source_python_datasource_stream"](spark, "").collect()}
    assert sum(agg.values()) == 2000

    register(spark)
    batch = (spark.read.format("ocrflow_synth")
             .option("turns", 2000).option("seed", 42)
             .option("partitions", 8).load())
    want = sorted(map(tuple, batch.collect()))
    got = sorted(map(tuple, spark.table("pyds_stream_out")
                 .select(*batch.columns).collect()))
    assert got == want


def test_python_stream_source_leaves_no_checkpoint_dir(spark):
    """The streaming DataSource key removes its checkpointLocation once
    the drained query has stopped, and its frame still reads."""
    import glob

    pattern = os.path.join(tempfile.gettempdir(), "ocrflow_*")
    before = set(glob.glob(pattern))
    df = D.QUERIES["source_python_datasource_stream"](spark, "")
    assert set(glob.glob(pattern)) - before == set()
    assert sum(r["n_turns"] for r in df.collect()) == 2000


def test_hll_sketch_estimates_within_bound(spark):
    rows = D.agg_hll_sketch_merge(spark, SF_DIR).collect()
    assert len(rows) >= 2  # at least one event_type plus the ALL row
    got_all = False
    for r in rows:
        assert r["exact"] > 0
        rel = abs(r["est"] - r["exact"]) / r["exact"]
        assert rel < 0.05, (r["event_type"], r["est"], r["exact"])
        if r["event_type"] == "ALL":
            got_all = True
    assert got_all


def test_ewma_blocked_unbounded_history(spark, tmp_path):
    # 20,000 rows on ONE key — 3x past the closed form's rn~6,726
    # double-overflow ceiling. The blocked form must stay finite and
    # match pandas ewm(adjust=True) everywhere.
    import datetime
    import math
    import pandas as pd

    n = 20_000
    base = datetime.datetime(2024, 1, 1)
    vals = [float((i * 37 % 100) + 1) for i in range(n)]
    pdf = pd.DataFrame({
        "user_id": 1, "event_id": range(n),
        "value": vals,
        "ts": [base + datetime.timedelta(seconds=i) for i in range(n)],
    })
    sdf = spark.createDataFrame(pdf)
    tmp = str(tmp_path)
    sdf.write.parquet(os.path.join(tmp, "events.parquet"))
    out = (D.ts_ewma_blocked(spark, tmp)
           .orderBy("event_id").toPandas())
    assert len(out) == n
    assert not out["ewma"].isna().any()
    assert all(math.isfinite(v) for v in out["ewma"])
    expect = pd.Series(vals).ewm(alpha=0.1, adjust=True).mean()
    # alpha here is the DECAY ratio 0.9 => pandas alpha = 1 - 0.9 = 0.1
    diff = (out["ewma"].reset_index(drop=True)
            - expect.round(4).reset_index(drop=True)).abs()
    assert diff.max() < 2e-4, diff.max()  # 4dp rounding on our side only


def test_kgram_dedup_finds_planted_quote(spark, tmp_path):
    # doc B quotes a 6-token window from doc A verbatim inside
    # otherwise-unrelated text: whole-doc Jaccard is tiny, but the
    # exact-substring scanner must pair them.
    src = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    one = src.filter("doc_id = 11").first()
    quote = " ".join(one["text"].split()[:6])
    filler = " ".join(f"zz{i}q" for i in range(40))
    planted_text = f"{filler} {quote} {filler}"
    planted = spark.createDataFrame(
        [(97531, planted_text, one["lang"], one["source"],
          len(planted_text))], src.schema)
    tmp = str(tmp_path)
    src.unionByName(planted).write.parquet(
        os.path.join(tmp, "documents.parquet"))
    pairs = {(r["doc_a"], r["doc_b"])
             for r in D.dedup_kgram_exact(spark, tmp).collect()}
    assert (11, 97531) in pairs


def test_kgram_hot_gram_cap_bounds_boilerplate(spark, tmp_path):
    # 200 docs all sharing one boilerplate 6-gram: an uncapped scanner
    # emits 200*199/2 = 19,900 pairs from that gram alone; the 2..20
    # frequency band must drop it entirely.
    boiler = "standard legal disclaimer applies to everything"
    rows = [(i, f"{boiler} unique{i}a unique{i}b unique{i}c", "en", "x",
             60) for i in range(200)]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long")
    tmp = str(tmp_path)
    df.write.parquet(os.path.join(tmp, "documents.parquet"))
    assert D.dedup_kgram_exact(spark, tmp).count() == 0


def test_cdc_chunks_resync_after_prefix_edit(spark, tmp_path):
    # THE content-defined-chunking property: a prefix insertion shifts
    # every byte offset, but boundaries resync and all downstream
    # chunk hashes survive. Fixed-size chunking shares ~0 here.
    src = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    one = src.filter("n_chars > 400").first()
    base, edited = one["text"], "INSERTED PREFIX EDIT " + one["text"]
    df = spark.createDataFrame(
        [(1, base, "en", "x", len(base)), (2, edited, "en", "x", len(edited))],
        "doc_id long, text string, lang string, source string, n_chars long")
    tmp = str(tmp_path)
    df.write.parquet(os.path.join(tmp, "documents.parquet"))
    out = D.doc_cdc_chunks(spark, tmp).collect()
    h1 = [r["chunk_hash"] for r in out if r["doc_id"] == 1]
    h2 = [r["chunk_hash"] for r in out if r["doc_id"] == 2]
    shared = set(h1) & set(h2)
    # all but the first few chunks of each doc must be identical
    assert len(shared) >= max(1, len(h1) - 3), (len(shared), len(h1))
    # and the shared run is the TAIL: the last chunks agree exactly
    assert h1[-3:] == h2[-3:]


def test_cdc_chunks_deterministic_across_partitioning(spark, tmp_path):
    # same corpus written as 1 file vs 8 files: different scan
    # partitioning and Arrow batch boundaries, identical chunk rows.
    src = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
           .filter(F.col("text").isNotNull()))
    t1 = str(tmp_path / "cdc1")
    t8 = str(tmp_path / "cdc8")
    src.coalesce(1).write.parquet(os.path.join(t1, "documents.parquet"))
    src.repartition(8).write.parquet(os.path.join(t8, "documents.parquet"))
    a = sorted(map(tuple, D.doc_cdc_chunks(spark, t1).collect()))
    b = sorted(map(tuple, D.doc_cdc_chunks(spark, t8).collect()))
    assert a == b and a


def test_cdc_chunk_size_bounds(spark):
    rows = D.doc_cdc_chunks(spark, SF_DIR).collect()
    assert rows
    last_idx = {}
    for r in rows:
        last_idx[r["doc_id"]] = max(last_idx.get(r["doc_id"], -1),
                                    r["chunk_idx"])
    for r in rows:
        assert r["length"] <= 256
        if r["chunk_idx"] < last_idx[r["doc_id"]]:
            assert r["length"] >= 32, (r["doc_id"], r["chunk_idx"])


def test_ann_pq_adc_recall_vs_bruteforce(spark):
    # PQ+ADC with exact re-rank of the ADC pool: the pool only has to
    # CONTAIN the true neighbors; the re-rank restores exact order.
    truth = {}
    for r in D.ann_bruteforce_cosine(spark, SF_DIR).collect():
        truth.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    got = {}
    for r in D.ann_pq_adc(spark, SF_DIR).collect():
        got.setdefault(r["query_id"], set()).add(r["neighbor_id"])
    assert set(got) == set(truth)
    hits = sum(len(truth[q] & got[q]) for q in truth)
    total = sum(len(truth[q]) for q in truth)
    recall = hits / total
    assert recall >= 0.6, recall


def test_edit_candidates_cap_bounds_hot_grams(spark):
    # degenerate corpus: 300 identical 26-char docs → every 4-gram's
    # posting bucket holds 300 rows. Capped, hot buckets drop before
    # the gather (0 candidates); uncapped, every unordered pair
    # surfaces (lev 0 ≤ 4).
    from ocrflow.dataops import edit_candidates
    txt = "abcdefghijklmnopqrstuvwxyz"  # 26 chars: past the sentinel range
    docs = spark.createDataFrame(
        [(i, txt, len(txt)) for i in range(300)],
        "doc_id long, text string, ln int")
    assert edit_candidates(docs).count() == 0
    assert edit_candidates(docs, max_bucket=None).count() == 300 * 299 // 2


def test_edit_candidates_sentinel_covers_tiny_docs(spark):
    # two 8-char docs, 2 substitutions spaced so they share ZERO
    # 4-grams — the q-gram pigeonhole fails below d*q+q = 20 chars, so
    # only the sentinel bucket can surface the pair (lev = 2 ≤ 4).
    from ocrflow.dataops import edit_candidates
    docs = spark.createDataFrame(
        [(1, "abcdefgh", 8), (2, "abXdeYgh", 8)],
        "doc_id long, text string, ln int")
    assert [(r["doc_a"], r["doc_b"])
            for r in edit_candidates(docs).collect()] == [(1, 2)]


def test_edit_candidates_join_free_and_cap_pre_gather(spark):
    # scale contract: the GRAM path has no join (gather-and-expand,
    # same shape as the LSH and containment scanners) with the bsz cap
    # filter BELOW the collect_list aggregate in the printed (top-down)
    # plan; the ONLY join is the round-5 sentinel equi-join on the
    # tiny-doc length key, which streams the inherently-quadratic
    # tiny-pair output instead of materializing per-bucket pair arrays
    # in one aggregation buffer.
    from ocrflow.dataops import edit_candidates
    docs = spark.createDataFrame(
        [(i, "doc %03d body text" % (i % 7), 17) for i in range(50)],
        "doc_id long, text string, ln int")
    plan = edit_candidates(docs)._jdf.queryExecution() \
        .executedPlan().toString()
    join_lines = [l for l in plan.splitlines() if "Join" in l]
    assert len(join_lines) == 1, join_lines
    assert "k#" in join_lines[0], join_lines[0]  # sentinel length key
    assert plan.index("bsz") > plan.index("collect_list")


def test_edit_scanner_agrees_with_allpairs(spark):
    # no-false-negatives proof: the two-stage scanner reproduces the
    # exact all-pairs answer row-for-row on the real corpus.
    from ocrflow.dataops import EDIT_D, dedup_edit_scanner
    d = (spark.read.parquet(f"{SF_DIR}/documents.parquet")
         .filter(F.col("text").isNotNull() & (F.col("n_chars") < 200))
         .select("doc_id", "text", F.char_length("text").alias("ln")))
    a = d.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("ta"),
                 F.col("ln").alias("la"))
    b = d.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("tb"),
                 F.col("ln").alias("lb"))
    exact = sorted(map(tuple, (
        a.join(b, F.col("doc_a") < F.col("doc_b"))
        .filter(F.abs(F.col("la") - F.col("lb")) <= EDIT_D)
        .filter(F.levenshtein("ta", "tb") <= EDIT_D)
        .select("doc_a", "doc_b",
                F.levenshtein("ta", "tb").alias("edit_dist"))).collect()))
    scan = sorted(map(tuple, dedup_edit_scanner(spark, SF_DIR).collect()))
    assert scan == exact and len(exact) > 0


# -------------------------------------------------------------------
# round-4 session-8: sorted-neighborhood ER, CUSUM drift, freshness,
# JL projection
# -------------------------------------------------------------------

def test_snm_pairs_bounded_and_cross_partition(spark):
    """Candidate count ≤ n·(w-1); pairs that straddle range-partition
    boundaries are still emitted (the rank equi-join, not a
    within-partition window, generates them)."""
    rows = D.er_sorted_neighborhood(spark, SF_DIR, partitions=8).collect()
    n = spark.read.parquet(f"{SF_DIR}/documents.parquet").count()
    assert 0 < len(rows) <= n * 3
    # with 8 range partitions over 500 docs, ~7 boundary rows exist;
    # run again with 1 partition — the pair set must be identical,
    # proving no boundary pair is lost to partitioning
    one = {(r["a_id"], r["b_id"]) for r in
           D.er_sorted_neighborhood(spark, SF_DIR, partitions=1).collect()}
    eight = {(r["a_id"], r["b_id"]) for r in rows}
    assert one == eight


def test_snm_global_rank_has_no_single_partition_window(spark):
    """The data-sized window partitions by pid; the only
    unpartitioned window runs over |partitions| offset rows.

    global_rank is a prefix count over global_prefix_sums, which lazily
    checkpoints its running-sum frame (one compute for its offsets +
    join consumers), so the rank window lives in the checkpointed
    lineage — the window/bucket shape is asserted on the
    pre-checkpoint builder (_pps_local) over the same input and the
    same column of ones global_rank counts, and the end-to-end plan is
    still pinned free of sampled range exchanges."""
    from pyspark.sql import functions as F
    from ocrflow.queries import t
    d = (t(spark, SF_DIR, "documents")
         .filter(F.col("lang").isNotNull() & F.col("n_chars").isNotNull())
         .select("doc_id", "lang", "n_chars"))
    lplan = D._pps_local(d.withColumn(D._ONES, F.lit(1)),
                         ["lang", "n_chars", "doc_id"], [D._ONES], 8)._jdf \
        .queryExecution().executedPlan().toString()
    assert "partitionBy" not in lplan  # sanity: physical plan text
    wins = [l for l in lplan.splitlines()
            if "Window" in l and "row_number" in l]
    assert wins, lplan
    for w in wins:
        assert "pid" in w, w
    assert "width_bucket" in lplan, lplan
    # r05 invariant pin: the bucket id is a deterministic width_bucket
    # of the leading sort key, NEVER spark_partition_id() after a
    # SAMPLED range exchange — a split of that exchange (e.g. under
    # AQE, where ReuseExchange does not fire) silently corrupted the
    # old form. If a rangepartitioning exchange reappears (in the
    # builder OR anywhere in the full op), the hazard is back.
    assert "rangepartitioning" not in lplan.lower(), lplan
    plan = D.er_sorted_neighborhood(spark, SF_DIR)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "rangepartitioning" not in plan.lower(), plan


def test_cusum_flags_planted_level_shift(spark, tmp_path):
    import datetime
    import os as _os
    base = datetime.datetime(2024, 1, 1)
    rows = []
    eid = 0
    for day in range(30):
        # 5/day for 20 days, then a sustained shift to 15/day
        n = 5 if day < 20 else 15
        for i in range(n):
            rows.append((eid, base + datetime.timedelta(days=day, minutes=i),
                         1, "click", 1.0, "{}"))
            eid += 1
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, "
              "event_type string, value double, props string")
    tmp = str(tmp_path)
    df.write.parquet(_os.path.join(tmp, "events.parquet"))
    out = {r["day"].isoformat(): r["breach"]
           for r in D.ts_cusum_drift(spark, tmp).collect()}
    assert not any(v for d, v in out.items() if d < "2024-01-21")
    assert any(v for d, v in out.items() if d >= "2024-01-22")


def test_freshness_sla_flags_stale_source(spark):
    out = {r["event_type"]: r for r in
           D.dq_freshness_sla(spark, SF_DIR).collect()}
    assert all(r["lag_hours"] >= 0 for r in out.values())
    # the freshest source defines the watermark → lag 0, never stale
    freshest = min(out.values(), key=lambda r: r["lag_hours"])
    assert freshest["lag_hours"] == 0 and not freshest["is_stale"]


def test_jl_projection_preserves_norms_in_expectation(spark):
    """The actual JL guarantee at k=4: E[||Px||^2] = ||x||^2 with
    per-vector variance 2/k, so the MEAN squared-norm ratio over the
    500-vector corpus concentrates hard around 1 (se ~ 0.03). A pair-
    distance correlation test would be vacuous here — i.i.d. 64-dim
    embeddings concentrate all pairwise distances, leaving k=4
    projections pure noise on that axis."""
    import numpy as np
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").collect()
    proj = D.emb_jl_projection(spark, SF_DIR, k=4).collect()
    pv = {}
    for r in proj:
        pv.setdefault(r["vec_id"], {})[r["j"]] = r["p"]
    ratios = []
    for r in emb:
        x = np.array(r["embedding"], dtype=float)
        p = np.array([pv[r["vec_id"]][j] for j in sorted(pv[r["vec_id"]])])
        n2 = float(np.sum(x * x))
        if n2 > 0:
            ratios.append(float(np.sum(p * p)) / n2)
    m = float(np.mean(ratios))
    assert 0.8 < m < 1.2, m


def test_l_diversity_flags_homogeneous_group(spark, tmp_path):
    import os as _os
    src = spark.read.parquet(f"{SF_DIR}/customer.parquet")
    # plant a QI group of 6 customers who ALL share one balance bucket:
    # k-anonymous (n >= 5) yet l-risky (diversity 1)
    rows = [(900000 + i, f"Customer#9{i}", 98, 1000.0 + i, "SEG_X")
            for i in range(6)]
    planted = spark.createDataFrame(rows, src.schema)
    tmp = str(tmp_path)
    src.unionByName(planted).write.parquet(
        _os.path.join(tmp, "customer.parquet"))
    import ocrflow.dataops as DD
    out = DD.l_diversity_check(spark, tmp).first()
    assert out["min_diversity"] == 1
    assert out["n_risky_rows"] >= 6


def test_weighted_median_matches_numpy_definition(spark):
    import numpy as np
    li = (spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
          .select("l_returnflag", "l_extendedprice", "l_quantity",
                  "l_orderkey", "l_linenumber").collect())
    got = {r["l_returnflag"]: r["weighted_median"]
           for r in D.QUERIES["agg_weighted_median"](spark, SF_DIR).collect()}
    for flag in got:
        rows = sorted((float(r["l_extendedprice"]), r["l_orderkey"],
                       r["l_linenumber"], float(r["l_quantity"]))
                      for r in li if r["l_returnflag"] == flag)
        w = np.array([r[3] for r in rows]); v = [r[0] for r in rows]
        cw = np.cumsum(w)
        idx = int(np.searchsorted(cw, cw[-1] / 2.0))
        assert abs(got[flag] - round(v[idx], 2)) < 0.011, flag


def test_haversine_grid_sound_and_complete(spark):
    """SOUND: every emitted pair is within 25 km by an independent
    Python haversine. COMPLETE: brute-force over all ~125k point
    pairs finds no within-radius pair the grid missed (the cell
    sizing proof — both cell axes >= the radius — made executable)."""
    import math

    def hav(alat, alon, blat, blon):
        return 12742.0 * math.asin(math.sqrt(
            math.sin(math.radians(blat - alat) / 2) ** 2
            + math.cos(math.radians(alat)) * math.cos(math.radians(blat))
            * math.sin(math.radians(blon - alon) / 2) ** 2))

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").collect()
    pts = {r["vec_id"]: (40.0 + round(float(r["embedding"][0]), 4) * 4.0,
                         -74.0 + round(float(r["embedding"][1]), 4) * 4.0)
           for r in emb}
    out = {(r["a_id"], r["b_id"]): r["dist_km"]
           for r in D.QUERIES["join_geo_haversine"](spark, SF_DIR).collect()}
    assert out, "corpus yields at least one nearby pair"
    for (a, b), dist in out.items():
        km = hav(*pts[a], *pts[b])
        assert km <= 25.0 + 1e-6
        assert abs(km - dist) < 1e-4
    ids = sorted(pts)
    brute = {(a, b) for i, a in enumerate(ids) for b in ids[i + 1:]
             if hav(*pts[a], *pts[b]) <= 24.999999}
    assert brute - set(out) == set(), "grid missed within-radius pairs"


def test_hopping_window_covers_each_event_exactly_four_times(spark):
    """A 24h/6h hopping spec assigns every event to exactly 4 windows:
    total n_events across all windows == 4x the table count."""
    out = D.QUERIES["agg_hopping_window_batch"](spark, SF_DIR)
    total = out.agg(F.sum("n_events")).first()[0]
    n = spark.read.parquet(f"{SF_DIR}/events.parquet").count()
    assert total == 4 * n


def test_aqp_estimate_error_within_ci(spark):
    """The 5% sample's estimate lands inside its own 95% CI of the
    exact total (a deterministic sample of this corpus; the CI is the
    key's published honesty bound)."""
    r = D.QUERIES["aqp_sample_estimate"](spark, SF_DIR).first()
    assert r["n_sampled"] > 0
    assert abs(r["est_total"] - r["exact_total"]) <= r["ci_halfwidth"]
    assert r["err_pct"] < 15.0


def test_auc_roc_hand_computed_with_ties(spark, tmp_path):
    """AUC via the Mann-Whitney identity on a hand-worked fixture with
    a tie straddling the classes: pos scores {3, 2}, neg {2, 1}.
    Pairwise: (3>2)=1, (3>1)=1, (2=2)=0.5, (2>1)=1 → U1=3.5,
    AUC = 3.5/(2*2) = 0.875."""
    import datetime as _dt
    import pandas as pd
    pdf = pd.DataFrame({
        "event_id": [1, 2, 3, 4],
        "user_id": [1, 2, 3, 4],
        "ts": [_dt.datetime(2024, 1, 1)] * 4,
        "event_type": ["purchase", "purchase", "view", "view"],
        "value": [3.0, 2.0, 2.0, 1.0],
        "props": [""] * 4,
    })
    tmp = str(tmp_path)
    spark.createDataFrame(pdf).write.parquet(
        os.path.join(tmp, "events.parquet"))
    row = D.eval_auc_roc(spark, tmp).collect()[0]
    assert row.n_pos == 2 and row.n_neg == 2
    assert row.auc == 0.875


def test_mannwhitney_hand_computed(spark, tmp_path):
    """Same fixture: 2*U1 must be 7 (U1 = 3.5 with the midrank tie)."""
    import datetime as _dt
    import pandas as pd
    pdf = pd.DataFrame({
        "event_id": [1, 2, 3, 4],
        "user_id": [1, 2, 3, 4],
        "ts": [_dt.datetime(2024, 1, 1)] * 4,
        "event_type": ["click", "click", "view", "view"],
        "value": [3.0, 2.0, 2.0, 1.0],
        "props": [""] * 4,
    })
    tmp = str(tmp_path)
    spark.createDataFrame(pdf).write.parquet(
        os.path.join(tmp, "events.parquet"))
    row = D.stat_mannwhitney_u(spark, tmp).collect()[0]
    assert (row.n1, row.n2, row.two_u1) == (2, 2, 7)


def test_chi_square_hand_computed_2x2(spark, tmp_path):
    """2x2 with counts [[30,10],[10,30]] (types a/b × hours 0/1):
    N=80, all marginals 40, every expected cell 20, every term
    (obs-20)²/20 = 5 → chi2 = 20, dof = 1."""
    import datetime as _dt
    import pandas as pd
    rows = ([("a", 0)] * 30 + [("a", 1)] * 10
            + [("b", 0)] * 10 + [("b", 1)] * 30)
    pdf = pd.DataFrame({
        "event_id": range(len(rows)),
        "user_id": 1,
        "ts": [_dt.datetime(2024, 1, 1, h) for _, h in rows],
        "event_type": [t_ for t_, _ in rows],
        "value": 1.0,
        "props": "",
    })
    tmp = str(tmp_path)
    spark.createDataFrame(pdf).write.parquet(
        os.path.join(tmp, "events.parquet"))
    row = D.stat_chi_square(spark, tmp).collect()[0]
    assert (row.n_cells, row.dof, row.chi2) == (4, 1, 20.0)


def test_ndcg_perfect_ranking_is_one(spark, tmp_path):
    """When predicted score order equals relevance order for every
    user, DCG == IDCG and mean NDCG@5 is exactly 1.0."""
    import datetime as _dt
    import pandas as pd
    rows = []
    for u in range(5):
        # purchase > signup > click with strictly descending scores
        for i, et in enumerate(["purchase", "signup", "click", "error"]):
            rows.append((u * 10 + i, u, et, 100.0 - i))
    pdf = pd.DataFrame({
        "event_id": [r[0] for r in rows],
        "user_id": [r[1] for r in rows],
        "ts": [_dt.datetime(2024, 1, 1)] * len(rows),
        "event_type": [r[2] for r in rows],
        "value": [r[3] for r in rows],
        "props": "",
    })
    tmp = str(tmp_path)
    spark.createDataFrame(pdf).write.parquet(
        os.path.join(tmp, "events.parquet"))
    row = D.eval_ndcg_at_k(spark, tmp).collect()[0]
    assert row.n_users == 5
    assert row.mean_ndcg5 == 1.0


def test_ks_hand_computed(spark, tmp_path):
    """click values {1,2}, view values {3,4}: ECDFs never overlap
    below 2 vs above — D = 1.0 (F1(2)=1, F2(2)=0)."""
    import datetime as _dt
    import pandas as pd
    pdf = pd.DataFrame({
        "event_id": [1, 2, 3, 4],
        "user_id": [1, 2, 3, 4],
        "ts": [_dt.datetime(2024, 1, 1)] * 4,
        "event_type": ["click", "click", "view", "view"],
        "value": [1.0, 2.0, 3.0, 4.0],
        "props": [""] * 4,
    })
    tmp = str(tmp_path)
    spark.createDataFrame(pdf).write.parquet(
        os.path.join(tmp, "events.parquet"))
    row = D.stat_ks_two_sample(spark, tmp).collect()[0]
    assert (row.n1, row.n2, row.d_stat) == (2, 2, 1.0)


def test_spearman_rho_monotone_and_hand_case(spark, tmp_path):
    """Perfectly monotone value-vs-user_id → rho = 1.0 exactly;
    reversing user_id → −1.0 (midranks cancel the doubling)."""
    import datetime as _dt
    import pandas as pd

    def events(uids):
        return pd.DataFrame({
            "event_id": range(6),
            "user_id": uids,
            "ts": [_dt.datetime(2024, 1, 1)] * 6,
            "event_type": "click",
            "value": [10.0, 20.0, 30.0, 40.0, 50.0, 60.0],
            "props": "",
        })
    for uids, want in ([[1, 2, 3, 4, 5, 6], 1.0],
                       [[6, 5, 4, 3, 2, 1], -1.0]):
        tmp = str(tmp_path / f"rho{want}")
        spark.createDataFrame(events(uids)).write.parquet(
            os.path.join(tmp, "events.parquet"))
        row = D.stat_spearman_rho(spark, tmp).collect()[0]
        assert (row.n, row.rho) == (6, want)


def test_welch_identical_samples_t_zero(spark, tmp_path):
    """Identical click/view samples → t = 0 exactly, and the
    Welch–Satterthwaite df collapses to 2(n−1) = 4."""
    import datetime as _dt
    import pandas as pd
    pdf = pd.DataFrame({
        "event_id": range(6),
        "user_id": range(6),
        "ts": [_dt.datetime(2024, 1, 1)] * 6,
        "event_type": ["click"] * 3 + ["view"] * 3,
        "value": [1.0, 2.0, 3.0, 1.0, 2.0, 3.0],
        "props": "",
    })
    tmp = str(tmp_path)
    spark.createDataFrame(pdf).write.parquet(
        os.path.join(tmp, "events.parquet"))
    row = D.stat_welch_ttest(spark, tmp).collect()[0]
    assert (row.n1, row.n2, row.t_stat, row.df) == (3, 3, 0.0, 4.0)


def test_ffd_packs_no_worse_than_nextfit_and_respects_budget(spark):
    """First-fit-decreasing must (a) never exceed the token budget in
    any pack except a single oversized doc's own pack, and (b) use no
    MORE packs than next-fit in any source group (FFD is 11/9 OPT + 1
    vs next-fit's 2 OPT — equality is possible, regression is not)."""
    from pyspark.sql import functions as F
    import ocrflow.dataops as D
    ffd = D.QUERIES["pack_sequences_ffd"](spark, SF_DIR)
    nf = D.QUERIES["pack_sequences_nextfit"](spark, SF_DIR)
    per_bin = (ffd.groupBy("source", "bin_id")
               .agg(F.sum("n_tokens").alias("load"),
                    F.count("*").alias("n_docs")))
    over = per_bin.filter((F.col("load") > 256) & (F.col("n_docs") > 1))
    assert over.count() == 0
    a = {r["source"]: r["nb"] for r in
         ffd.groupBy("source").agg(F.max("bin_id").alias("nb")).collect()}
    b = {r["source"]: r["nb"] for r in
         nf.groupBy("source").agg(F.max("bin_id").alias("nb")).collect()}
    assert set(a) == set(b)
    assert all(a[s_] <= b[s_] for s_ in a), (a, b)


def test_decontaminate_fuzzy_finds_planted_benchmark_copy(spark, tmp_path):
    """A corpus doc that IS a benchmark doc (doc_id % 11 == 0 side)
    must surface with jaccard 1.0; an unrelated doc must not pair."""
    src = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    bench_doc = src.filter("doc_id % 11 = 0 AND text IS NOT NULL").first()
    copy_id = 77779  # 77779 % 11 != 0 → corpus side
    assert copy_id % 11 != 0
    planted = spark.createDataFrame(
        [(copy_id, bench_doc["text"], bench_doc["lang"],
          bench_doc["source"], bench_doc["n_chars"])], src.schema)
    tmp = str(tmp_path)
    src.unionByName(planted).write.parquet(
        os.path.join(tmp, "documents.parquet"))
    hits = {(r["doc_id"], r["bench_id"]): r["jaccard"]
            for r in D.QUERIES["decontaminate_fuzzy"](spark, tmp).collect()}
    assert hits.get((copy_id, bench_doc["doc_id"])) == 1.0


def test_pii_redact_is_idempotent_and_counts_injections(spark):
    """Redacting already-redacted text changes nothing (the
    replacement tokens contain no PII-shaped substrings), and the
    deterministic injections are detected exactly: every 7th doc has
    >= 1 email, every 13th >= 1 phone, docs in neither class have 0."""
    from ocrflow.dataops import _PII_EMAIL, _PII_PHONE
    rows = D.QUERIES["text_pii_redact"](spark, SF_DIR).collect()
    assert rows
    for r in rows:
        did = r["doc_id"]
        if did % 7 == 0:
            assert r["n_emails"] >= 1, did
        if did % 13 == 0:
            assert r["n_phones"] >= 1, did
        if did % 7 != 0 and did % 13 != 0:
            # the synthetic corpus itself carries no PII
            assert r["n_emails"] == 0 and r["n_phones"] == 0, did
    import re
    assert re.search(_PII_EMAIL, "<EMAIL>") is None
    assert re.search(_PII_PHONE, "<PHONE>") is None


def test_text_nb_classifier_separable_corpus_is_perfect(spark, tmp_path):
    """On a corpus where each lang has a DISJOINT vocabulary, the NB
    classifier must predict every probe doc's own lang (the synthetic
    sf tables share one vocab across langs, so corpus accuracy there
    is noise — this fixture is the real behavioral check), and the
    trained weights must be monotone in df: a token seen in more of a
    class's docs gets a strictly higher weight."""
    vocab = {"aa": ["aardvark", "apple", "anchor", "arrow"],
             "bb": ["banana", "bottle", "bridge", "button"],
             "cc": ["cactus", "candle", "copper", "circle"]}
    rows = []
    for li, (lang, toks) in enumerate(sorted(vocab.items())):
        for i in range(20):
            # rotate so token df varies within the class
            text = " ".join(toks[(i + j) % 4] for j in range(3))
            rows.append((li * 100 + i, text, lang, "synth", len(text)))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long")
    tmp = str(tmp_path)
    docs.write.parquet(os.path.join(tmp, "documents.parquet"))

    pred = {r["doc_id"]: r["pred_lang"]
            for r in D.QUERIES["text_nb_classify"](spark, tmp).collect()}
    truth = {r[0]: r[2] for r in rows}
    probes = [d for d in truth if d % 5 == 0]
    assert probes and set(pred) == set(probes)
    assert all(pred[d] == truth[d] for d in probes)

    model = D.QUERIES["text_nb_train"](spark, tmp).collect()
    by_lang = {}
    for r in model:
        by_lang.setdefault(r["lang"], {})[r["token"]] = (r["df"], r["w_micro"])
    for lang, toks in by_lang.items():
        pairs = sorted(toks.values())
        for (df1, w1), (df2, w2) in zip(pairs, pairs[1:]):
            if df2 > df1:
                assert w2 > w1, (lang, pairs)


def test_bh_step_up_rejects_below_crossing(spark, tmp_path):
    """The BH rule is STEP-UP: with m=3, alpha=0.1 the thresholds are
    (0.0333, 0.0667, 0.1); p = (0.05, 0.06, 0.5) has p_(1) ABOVE its
    own threshold but p_(2) below its — so k* = 2 and BOTH rank 1 and
    rank 2 are rejected. A naive per-row p <= rank*alpha/m filter
    would keep rank 1; this pins the difference. n_chars values are
    the modular inverses that make the op's deterministic p_milli
    land exactly on 50000/60000/500000."""
    import pandas as pd
    pdf = pd.DataFrame({
        "doc_id": [1, 2, 3],
        "text": ["a", "b", "c"],
        "lang": ["en", "de", "fr"],
        "source": ["s1", "s2", "s3"],
        "n_chars": [950000, 740000, 500000],  # p = .05, .06, .50
    })
    tmp = str(tmp_path)
    spark.createDataFrame(pdf).write.parquet(
        os.path.join(tmp, "documents.parquet"))
    rows = {(r.lang, r.source): r
            for r in D.stat_benjamini_hochberg(spark, tmp).collect()}
    assert rows[("en", "s1")].p_value == 0.05
    assert rows[("en", "s1")].rk == 1 and rows[("en", "s1")].rejected == 1
    assert rows[("de", "s2")].rk == 2 and rows[("de", "s2")].rejected == 1
    assert rows[("fr", "s3")].rejected == 0
    # rank 1 is NOT individually significant: p > 1*alpha/m
    assert rows[("en", "s1")].p_value > rows[("en", "s1")].bh_critical


def test_bootstrap_ci_brackets_mean_with_full_reps(spark):
    """Poisson-bootstrap sanity on the real sf0.001 events: every
    type runs all 32 replicates, the CI is a proper interval, and it
    brackets the full-sample mean (resampling the same data cannot
    systematically exclude its own mean at these sizes)."""
    out = D.stat_bootstrap_poisson_ci(spark, SF_DIR).collect()
    assert out, "no event types"
    for r in out:
        assert r.n_reps == 32, r
        assert r.ci_lo < r.ci_hi, r
        assert r.ci_lo <= r.mean_value <= r.ci_hi, r


def test_context_overflow_hand_case(spark, tmp_path):
    """One conv, four turns of 200 whitespace tokens each: cumsum
    200/400/600/800 against budget 512 -> overflow at turn_idx 2,
    two whole turns kept."""
    import pandas as pd
    text = " ".join(["tok"] * 200)
    pdf = pd.DataFrame({
        "doc_id": [0, 50, 100, 150],
        "text": [text] * 4,
        "lang": ["en"] * 4,
        "source": ["s"] * 4,
        "n_chars": [len(text)] * 4,
    })
    tmp = str(tmp_path)
    spark.createDataFrame(pdf).write.parquet(
        os.path.join(tmp, "documents.parquet"))
    row = D.conv_context_overflow(spark, tmp).collect()[0]
    assert (row.n_turns, row.total_tokens) == (4, 800)
    assert row.overflow_turn == 2 and row.kept_turns == 2


def test_power_iteration_matches_numpy_simulation(spark):
    """The distributed quantized power iteration must track the float
    simulation of the same update to 4+ decimals in cosine — pins the
    implementation (dot folds, contributions, normalize) without
    requiring spectral convergence on the isotropic test embeddings."""
    import numpy as np
    import pyarrow.parquet as pq
    out = D.emb_power_iteration_top1(spark, SF_DIR).collect()
    v_op = np.array([r.loading for r in sorted(out, key=lambda r: r.pos)])
    tb = pq.read_table(os.path.join(SF_DIR, "embeddings.parquet"))
    X = np.round(np.stack(tb.column("embedding").to_pylist()) * 256)
    v = np.ones(64) / 8.0
    for _ in range(12):
        v2 = X.T @ (X @ v)
        v = v2 / np.linalg.norm(v2)
    if v[np.argmax(np.abs(v))] < 0:
        v = -v
    cos = float(v_op @ v) / (np.linalg.norm(v_op) * np.linalg.norm(v))
    assert cos >= 0.9999, cos


def test_power_iteration_converges_on_planted_direction(spark, tmp_path):
    """A rank-1-dominant matrix (planted direction + small noise) has
    a wide spectral gap, so 12 iterations must recover the direction:
    |cos| >= 0.999 vs numpy's top eigenvector."""
    import numpy as np
    import pandas as pd
    rng = np.random.RandomState(7)
    u = rng.randn(64); u /= np.linalg.norm(u)
    a = rng.randn(400)
    X = np.outer(a, u) * 0.4 + rng.randn(400, 64) * 0.02
    pdf = pd.DataFrame({
        "vec_id": np.arange(400),
        "embedding": [row.astype("float32").tolist() for row in X],
        "label": np.zeros(400, dtype="int32"),
    })
    tmp = str(tmp_path)
    spark.createDataFrame(pdf).write.parquet(
        os.path.join(tmp, "embeddings.parquet"))
    out = D.emb_power_iteration_top1(spark, tmp).collect()
    v_op = np.array([r.loading for r in sorted(out, key=lambda r: r.pos)])
    Q = np.round(X * 256)
    w, V = np.linalg.eigh(Q.T @ Q)
    top = V[:, -1]
    cos = abs(float(v_op @ top)) / (np.linalg.norm(v_op)
                                    * np.linalg.norm(top))
    assert cos >= 0.999, cos


def test_connected_components_deep_chain_converges_fast(spark):
    # round-6 continuation: the chained s[s[s[s]]] pointer jump must
    # label a DEEP path graph well inside max_iter (depth/4 per round
    # -> a 120-node path needs ~4 label rounds, not 60)
    from ocrflow.dataops import connected_components
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1000, 1120)], "src long, dst long")
    comp = {r["id"]: r["comp"]
            for r in connected_components(edges).collect()}
    assert set(comp.values()) == {1000}
    assert len(comp) == 121


def test_connected_components_raises_without_fixpoint(spark):
    # one neighbor-min step cannot confirm a fixpoint on a 10-node path
    # (its labels are not final either): raise, never return them
    from ocrflow.dataops import connected_components
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "src long, dst long")
    with pytest.raises(RuntimeError, match="max_iter=1"):
        connected_components(edges, max_iter=1)


def test_connected_components_stops_at_first_unchanged_round(
        spark, monkeypatch):
    # chains of <= 5 nodes are final after one round (neighbor-min +
    # three jumps compose the parent map 4 times), so the loop runs 2
    # neighbor-min steps and 1 jump pass: 2 stepped tables and 1 jumped
    # table are the only checkpoints taken (round 1 starts from the
    # identity labels, so it checkpoints no initial label table)
    from pyspark.sql.classic.dataframe import DataFrame
    from ocrflow.dataops import connected_components

    real = DataFrame.localCheckpoint
    calls = []

    def counting(self, *args, **kwargs):
        calls.append(1)
        return real(self, *args, **kwargs)

    monkeypatch.setattr(DataFrame, "localCheckpoint", counting)
    chains = [(100, 2), (200, 3), (300, 4), (400, 5), (500, 5)]
    edges = spark.createDataFrame(
        [(s + k, s + k + 1) for s, n in chains for k in range(n - 1)],
        "src long, dst long")
    comp = {r["id"]: r["comp"]
            for r in connected_components(edges).collect()}
    assert comp == {s + k: s for s, n in chains for k in range(n)}
    assert len(calls) == 3


@pytest.mark.parametrize("edges_distinct", [False, True])
def test_connected_components_self_loops_duplicates_and_nulls(
        spark, edges_distinct):
    # outputs pinned on the implementation whose round 1 joined an
    # identity label table: a self-loop is its own component, duplicate
    # edges change nothing, and a NULL endpoint sends no label but is
    # returned as a vertex (id NULL) holding its smallest neighbor
    from ocrflow.dataops import connected_components
    cases = [
        ([(1, 1), (2, 2), (2, 3), (4, 4)],
         [(1, 1), (2, 2), (3, 2), (4, 4)]),
        ([(5, 6), (6, 5), (5, 6), (6, 7), (7, 6), (7, 6), (9, 8), (9, 8)],
         [(5, 5), (6, 5), (7, 5), (8, 8), (9, 8)]),
        ([(10, None), (None, 11), (11, 12), (None, None), (13, None),
          (14, 14)],
         [(None, 10), (10, 10), (11, 11), (12, 11), (13, 13), (14, 14)]),
        ([(None, 3), (3, 2), (2, 1), (1, None), (20, 21), (21, None)],
         [(None, 1), (1, 1), (2, 1), (3, 1), (20, 20), (21, 20)]),
        ([(None, None)], [(None, None)]),
        ([(1, 1), (1, 2), (2, 1), (1, 2), (2, None), (None, 5), (5, 6),
          (6, 6), (7, 8), (8, 7)],
         [(None, 1), (1, 1), (2, 1), (5, 5), (6, 5), (7, 7), (8, 7)]),
    ]
    for edges, want in cases:
        df = spark.createDataFrame(edges, "src long, dst long")
        got = sorted(((r["id"], r["comp"]) for r in connected_components(
            df, edges_distinct=edges_distinct).collect()),
            key=lambda r: (r[0] is not None, r[0] or 0))
        assert got == want, edges


#: edge inputs for the shared text features: empty, one token, fewer
#: tokens than n, space/tab/newline runs at either end, every ASCII
#: whitespace Java's \s knows, spaces it does not (NBSP, U+3000),
#: mixed case, CJK without spaces, underscores and digits
_TEXT_EDGES = [
    "", "word", "two words", "  lead and trail  ", "\ttab\tled\twords here",
    "lines\n\n\nof\ntext\n", "Mixed CASE The Words AND More",
    "日本語のテキストです", "日本語　テキスト and more", "a b c",
    " \t mixed \n whitespace\r\n runs \x0b\x0c here ",
    "the a an and or of to in is it x", "snake_case the_end 42 is A1b2",
    "one two three four five six seven",
]
_JAVA_WS = "[ \t\n\x0b\f\r]+"  # Java's \s is ASCII whitespace only
_STOP = {"the", "a", "an", "and", "or", "of", "to", "in", "is", "it"}


def _runs(s, inside):
    """Maximal runs of characters for which ``inside`` holds."""
    return ["".join(g) for k, g in itertools.groupby(s, inside) if k]


def _grams(spaced_text, n):
    """Every n consecutive non-empty fields of " " + text split on " "."""
    f = (" " + spaced_text).split(" ")
    return [" ".join(f[i:i + n]) for i in range(1, len(f) - n + 1)
            if all(f[i:i + n])]


def test_text_feature_helpers(spark):
    """words / spaced / word_ngrams / n_word / n_stop against a Python
    model of Spark's trim (strips U+0020 only) and Java's split, and
    against the inline expressions they replaced."""
    from ocrflow.queries import n_stop, n_word, spaced, word_ngrams, words

    ns = (2, 3, 4, 6)
    df = spark.createDataFrame(list(enumerate(_TEXT_EDGES)),
                               "id int, text string")
    inline = {
        "w": r"split(trim(text), '\\s+')",
        "wl": r"split(lower(trim(text)), '\\s+')",
        "sp": r"regexp_replace(trim(text), '\\s+', ' ')",
        "nw": r"size(regexp_extract_all(text, '[A-Za-z0-9]+', 0))",
        "nst": r"size(regexp_extract_all(lower(text),"
               r" '\\b(the|a|an|and|or|of|to|in|is|it)\\b', 0))",
    }
    for n in ns:
        rx = " ".join(["[^ ]+"] * n)
        inline[f"g{n}"] = (
            r"regexp_extract_all(concat(' ', regexp_replace(trim(text), "
            rf"'\\s+', ' ')), ' (?=({rx}))', 1)")
        inline[f"t{n}"] = (
            r"regexp_extract_all(concat(' ', concat_ws(' ', "
            rf"split(trim(text), '\\s+'))), ' (?=({rx}))', 1)")
    helper = {"w": words(), "wl": words(lower=True), "sp": spaced(),
              "nw": n_word(), "nst": n_stop()}
    for n in ns:
        helper[f"g{n}"] = word_ngrams(spaced(), n)
        helper[f"t{n}"] = word_ngrams(F.concat_ws(" ", words()), n)
    rows = df.select(
        "id", *[c.alias(k) for k, c in helper.items()],
        *[F.expr(e).alias("i_" + k) for k, e in inline.items()]).collect()
    assert len(rows) == len(_TEXT_EDGES)

    alnum = set(string.ascii_letters + string.digits)
    for r in rows:
        text = _TEXT_EDGES[r["id"]]
        trimmed = text.strip(" ")
        sp = re.sub(_JAVA_WS, " ", trimmed)
        want = {
            "w": re.split(_JAVA_WS, trimmed),
            "wl": re.split(_JAVA_WS, trimmed.lower()),
            "sp": sp,
            "nw": len(_runs(text, alnum.__contains__)),
            "nst": sum(w in _STOP for w in _runs(
                text.lower(), lambda c: c == "_" or c in alnum)),
        }
        for n in ns:
            want[f"g{n}"] = want[f"t{n}"] = _grams(sp, n)
        for k, v in want.items():
            assert r[k] == v, (text, k, r[k], v)
            assert r["i_" + k] == v, (text, "inline " + k, r["i_" + k], v)


def test_similarity_helpers(spark):
    """dot / l2norm / jaccard / expand_pairs / capped_gather against
    Python models: the folds bit-exact left to right, the pair expansion
    as itertools.combinations, the gather as a size filter."""
    import math

    vecs = [([], []), ([3.0], [-2.5]), ([0.1, 0.2, 0.3], [0.7, -0.11, 1e-3]),
            ([1e16, 1.0, -1e16], [1.0, 1.0, 1.0]),
            ([1e8, 1.0, 1e-8], [1e8, -3.0, 7.0])]
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(vecs)],
        "id int, a array<double>, b array<double>")
    got = df.select("id", D.dot("a", "b").alias("d"),
                    D.l2norm("a").alias("n")).orderBy("id").collect()
    for (a, b), r in zip(vecs, got):
        d = n = 0.0
        for x, y in zip(a, b):
            d = d + x * y
        for x in a:
            n = n + x * x
        assert (r["d"], r["n"]) == (d, math.sqrt(n)), (a, b)

    toks = [(["a", "b", "c"], ["a", "b", "c"]), (["a", "b"], ["c", "d"]),
            (["a", "b", "c"], ["b", "c", "d"]), (["x"], ["x", "y", "z", "w"])]
    df = spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(toks)],
        "id int, a array<string>, b array<string>")
    got = [r["j"] for r in df.select("id", D.jaccard("a", "b").alias("j"))
           .orderBy("id").collect()]
    assert got == [len(set(a) & set(b)) / len(set(a) | set(b))
                   for a, b in toks] == [1.0, 0.0, 0.5, 0.25]

    ids = [[], [4], [9, 2], [5, 3, 9, 1, 7]]
    grouped = spark.createDataFrame([(i,) for i in ids], "ids array<bigint>")
    got = sorted((r["p"]["a"], r["p"]["b"])
                 for r in D.expand_pairs(grouped).collect())
    want = sorted((min(x, y), max(x, y))
                  for i in ids for x, y in itertools.combinations(i, 2))
    assert got == want and len(want) == 1 + 10

    # bucket b holds b rows: 1 is a singleton, 4 is above the cap of 3
    rows = [(b, 10 * b + k) for b in (1, 2, 3, 4) for k in range(b)]
    df = spark.createDataFrame(rows, "bucket int, id int")

    def gathered(cap):
        return {r["bucket"]: sorted(r["ids"]) for r in
                D.capped_gather(df, ["bucket"], "id", cap).collect()}
    model = {b: [10 * b + k for k in range(b)] for b in (2, 3, 4)}
    assert gathered(3) == {b: model[b] for b in (2, 3)}
    assert gathered(None) == model
