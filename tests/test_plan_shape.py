"""Plan-shape golden tests (SURVEY.md §4): the physical plans Catalyst
produces must keep the properties the 100 TB design depends on —
predicate pushdown into the parquet scan, column pruning, broadcast
joins on dimension sides."""

import os

import ocrflow.dataops  # noqa: F401
from ocrflow.queries import QUERIES

SF_DIR = os.environ.get("OCRFLOW_TEST_SF_DIR", "/root/testdata/sf0.001")


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_scan_pruned_pushdown_and_pruning(spark):
    plan = _plan(QUERIES["scan_pruned"](spark, SF_DIR))
    assert "PushedFilters: [" in plan
    assert "IsNotNull(l_shipdate)" in plan or "GreaterThan" in plan
    # ReadSchema carries only the 3 needed columns, not all 11
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in read and "l_quantity" in read and "l_shipdate" in read
    assert "l_extendedprice" not in read and "l_partkey" not in read


def test_broadcast_join_is_broadcast(spark):
    plan = _plan(QUERIES["join_broadcast"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan


def test_tpch_q3_dimension_broadcasts(spark):
    plan = _plan(QUERIES["tpch_q3_shape"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    # dimension filters sit below the joins (pushed into the scans)
    assert plan.count("PushedFilters: [I") >= 1 or "PushedFilters" in plan


def test_left_anti_resume_shape(spark):
    plan = _plan(QUERIES["join_left_anti"](spark, SF_DIR))
    assert "LeftAnti" in plan


def test_extract_pipeline_single_exchange_and_pruned(spark, tmp_path):
    from ocrflow import synth
    from ocrflow.pipeline import extract_df
    rows = synth.gen_rows(50, seed=42, monster_every=0)
    path = str(tmp_path / "t")
    spark.createDataFrame(rows, schema=synth.TRANSCRIPTS_DDL).write.parquet(path)
    plan = _plan(extract_df(spark, spark.read.parquet(path), partitions=4))
    assert plan.count("Exchange") == 1          # the salted repartition only
    assert "MapInArrow" in plan or "PythonMapInArrow" in plan
    # column pruning reaches the parquet scan: 4 columns (role feeds the
    # A6 role prior), not 6
    read = plan.split("ReadSchema:")[1].splitlines()[0]
    assert ("conv_id" in read and "turn_idx" in read and "text" in read
            and "role" in read)
    assert "tool" not in read and "ts" not in read


def test_join_asof_union_merge_no_join_no_blowup(spark):
    """The as-of operator must be the union-merge shape: ONE exchange
    (the window partition on user_id), a Window, and NO join operator —
    the equi-join + rank composition it replaced materialized every
    (purchase, prior-click) pair before ranking (per-user quadratic at
    100 TB)."""
    plan = _plan(QUERIES["join_asof"](spark, SF_DIR))
    assert "Window" in plan
    assert "Join" not in plan                    # no pair materialization
    # union of the two tagged scans + single hash exchange on user_id
    assert plan.count("Exchange hashpartitioning") == 1


def test_minhash_lsh_single_scan_no_join(spark):
    """Candidate generation is one pass: per-bucket collect_list + JVM
    pair expansion. A regression to the bucket self-join doubles the
    shingle→minhash pipeline (2 FileScans) and adds a join shuffle."""
    plan = _plan(QUERIES["dedup_minhash_lsh"](spark, SF_DIR))
    assert plan.count("FileScan") == 1
    assert "Join" not in plan


def test_dedup_materialize_no_cartesian(spark):
    plan = _plan(QUERIES["dedup_materialize"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_limit_topn_take_ordered(spark):
    plan = _plan(QUERIES["limit_topn"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan      # no global sort for top-N


def test_bucketed_join_no_exchange(spark):
    df = QUERIES["join_bucketed_colocated"](spark, SF_DIR)
    plan = _plan(df)
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan  # co-located buckets: zero shuffles
    # and the result matches the shuffle-join twin
    a = sorted(map(tuple, df.collect()))
    b = sorted(map(tuple, QUERIES["join_inner_equi"](spark, SF_DIR).collect()))
    assert a == b


def test_doc_chunking_is_shuffle_free(spark):
    """Chunking is embarrassingly per-row: the plan must contain NO
    exchange at all — tokenize, sequence-explode, slice, hash, all in
    the scan stage (the property that makes it free at 100 TB)."""
    plan = _plan(QUERIES["doc_chunking"](spark, SF_DIR))
    assert "Exchange" not in plan
    assert plan.count("FileScan") == 1


def test_tfidf_broadcasts_df_table(spark):
    """The document-frequency table is vocabulary-sized: it must reach
    the tf join as a broadcast, never a shuffle of the corpus."""
    plan = _plan(QUERIES["tfidf_top_terms"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    # the big tf side shuffles only for its own aggregation + window
    assert "SortMergeJoin" not in plan


def test_sample_stratified_no_shuffle(spark):
    plan = _plan(QUERIES["sample_stratified"](spark, SF_DIR))
    assert "Exchange" not in plan           # pure filter over the scan


def test_asof_forward_union_merge_no_join(spark):
    """Forward as-of keeps the union-merge shape: one exchange, one
    window, no join operator (same scale contract as join_asof)."""
    plan = _plan(QUERIES["join_asof_forward"](spark, SF_DIR))
    assert "Window" in plan
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_skyline_single_window_no_join(spark):
    # the O(n log n) sweep: exactly one exchange (hash on event_type),
    # a Window, and NO join operator anywhere — the naive skyline is a
    # quadratic self-join, which must never appear in the plan
    plan = _plan(QUERIES["skyline_pareto"](spark, SF_DIR))
    assert "Window" in plan
    assert "Join" not in plan and "CartesianProduct" not in plan


def test_winsorized_bounds_broadcast(spark):
    # the per-group percentile bounds (|groups| rows) must come back to
    # the fact via a broadcast join — a shuffle join here would re-
    # exchange the whole fact table just to pick up 3 bound rows
    plan = _plan(QUERIES["agg_winsorized"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_ohlc_window_rides_groupby_exchange(spark):
    # window keys (user_id, bucket) == groupBy keys, so EnsureRequirements
    # plans ONE exchange for the fact (plus nothing else): the whole
    # rollup is a single shuffle
    plan = _plan(QUERIES["ts_ohlc"](spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 1


def test_decontaminate_bench_side_broadcasts(spark):
    # the eval-suite gram set is tiny; the corpus side must never
    # shuffle for the join — broadcast only
    plan = _plan(QUERIES["decontaminate_overlap"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_asof_nearest_union_merge_no_join(spark):
    # both directions come from ONE sorted union pass — no join operator
    # (the oracle's candidates+rank definition would be a quadratic join)
    plan = _plan(QUERIES["join_asof_nearest"](spark, SF_DIR))
    assert "Window" in plan
    assert "Join" not in plan and "CartesianProduct" not in plan


def test_point_in_time_dim_broadcasts(spark):
    # the collapsed SCD2 dimension must broadcast; the event log never
    # shuffles for a point-in-time lookup
    plan = _plan(QUERIES["join_point_in_time"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_runtime_bloom_filter_injected(spark):
    """With the size thresholds lowered to sandbox scale, Catalyst
    injects a bloom filter from the selective orders side into the
    lineitem scan side of join_runtime_bloom."""
    from ocrflow.dataops import join_runtime_bloom
    conf = spark.conf
    keys = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        # creationSideThreshold is a MAX (creation side must be small
        # enough to build from) — raise it; applicationSideScanSize is
        # a MIN (fact must be big enough to bother) — floor it; and the
        # rule skips broadcastable joins (a broadcast join needs no
        # bloom), so disable auto-broadcast for the sandbox-sized dim
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold":
            "1g",
        "spark.sql.optimizer.runtime.bloomFilter."
        "applicationSideScanSizeThreshold": "1",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {}
    for k, v in keys.items():
        try:
            old[k] = conf.get(k)
        except Exception:
            old[k] = None
        conf.set(k, v)
    try:
        plan = join_runtime_bloom(spark, SF_DIR) \
            ._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom" in plan.lower(), plan[:2000]
    finally:
        for k, v in old.items():
            if v is not None:
                conf.set(k, v)


def test_dynamic_partition_pruning_in_fact_scan(spark):
    """The day-partitioned fact scan must carry a dynamicpruning
    PartitionFilter derived from the dim side at runtime."""
    from ocrflow.dataops import join_partition_pruned
    df = join_partition_pruned(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    assert df.count() > 0


def test_cbo_reorders_join_tree(spark):
    # the key itself creates the analyzed cbo_* tables and turns CBO on
    df_on = QUERIES["join_cbo_reordered"](spark, SF_DIR)
    opt_on = df_on._jdf.queryExecution().optimizedPlan().toString()

    def join_lines(p):
        return [ln.strip() for ln in p.splitlines() if "Join Inner" in ln]

    on_joins = join_lines(opt_on)
    assert len(on_joins) == 2
    # with stats + CBO the INNER (first-executed) join is the selective
    # customer<100 x orders pair; the fact joins the small intermediate
    assert "c_custkey" in on_joins[1] and "o_custkey" in on_joins[1]
    assert "l_orderkey" in on_joins[0]

    # same text with CBO off keeps the written association: the
    # lineitem-orders join runs first and the reorder is genuinely
    # CBO's doing, not the parser's
    spark.conf.set("spark.sql.cbo.enabled", "false")
    try:
        off_joins = join_lines(
            spark.sql("""
                SELECT c.c_mktsegment, count(*) AS n
                FROM cbo_lineitem l
                JOIN cbo_customer c ON 1 = 1
                JOIN cbo_orders o ON l.l_orderkey = o.o_orderkey
                                AND c.c_custkey = o.o_custkey
                WHERE c.c_custkey < 100
                GROUP BY c.c_mktsegment
            """)._jdf.queryExecution().optimizedPlan().toString())
        assert off_joins != on_joins
        assert "l_orderkey" in off_joins[1]
    finally:
        spark.conf.set("spark.sql.cbo.enabled", "true")


def test_shuffle_hash_hint_takes_effect(spark):
    """The shuffle_hash hint must flip the strategy to
    ShuffledHashJoin (no per-side sorts); semantics are pinned by the
    key's shared oracle with the unhinted join."""
    plan = _plan(QUERIES["join_hint_shuffle_hash"](spark, SF_DIR))
    assert "ShuffledHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_bitmap_distinct_two_level_partial_agg(spark):
    """The bitmap distinct-count plan must be aggregates over bitmap
    buckets — no Expand node (count-DISTINCT's expand-based rewrite)
    in either branch."""
    plan = _plan(QUERIES["agg_bitmap_distinct"](spark, SF_DIR))
    assert "bitmapCount" in plan and "partial_bitmap_construct_agg" in plan
    assert "Expand" not in plan


def test_tpch_q4_semi_join_with_residual(spark):
    # EXISTS decorrelates to ONE left-semi join whose condition keeps
    # the non-equi shipdate residual; no DISTINCT node appears
    plan = _plan(QUERIES["tpch_q4_shape"](spark, SF_DIR))
    assert "LeftSemi" in plan
    assert "HashAggregate" in plan
    # the date range reaches the orders scan
    assert "o_orderdate" in plan.split("PushedFilters", 1)[1][:400]


def test_tpch_q7_both_nation_copies_broadcast(spark):
    # the two aliased nation dims land as two separate broadcasts and
    # the fact chain never sort-merge-joins at this scale
    plan = _plan(QUERIES["tpch_q7_shape"](spark, SF_DIR))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_tpch_q8_single_pass_conditional_agg(spark):
    # v and v1 come out of ONE grouped aggregate — the plan has no
    # self-join of two aggregates
    plan = _plan(QUERIES["tpch_q8_shape"](spark, SF_DIR))
    assert "SortMergeJoin" not in plan
    # two-level final: year/region rollup over the grouped CTE
    assert plan.count("HashAggregate") >= 2


def test_tpch_q9_part_filter_pushed_below_join(spark):
    plan = _plan(QUERIES["tpch_q9_shape"](spark, SF_DIR))
    # the LIKE prune reaches the part scan, not a post-join Filter
    idx = plan.find("FileScan parquet")
    assert idx != -1
    assert "StringContains(p_name,a)" in plan or "p_name" in plan.split(
        "PushedFilters", 2)[-1][:600]


def test_tpch_q17_single_lineitem_groupby_no_correlation(spark):
    # the correlated avg decorrelates: one aggregate over lineitem,
    # joined back — no nested-loop correlation survives
    plan = _plan(QUERIES["tpch_q17_shape"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_tpch_q21_semi_and_anti_legs(spark):
    plan = _plan(QUERIES["tpch_q21_shape"](spark, SF_DIR))
    assert "LeftSemi" in plan and "LeftAnti" in plan
    # top-20 with tiebreak compiles to TakeOrderedAndProject, not a
    # global sort
    assert "TakeOrderedAndProject" in plan


def test_tpch_q22_anti_join_on_pruned_orders(spark):
    plan = _plan(QUERIES["tpch_q22_shape"](spark, SF_DIR))
    assert "LeftAnti" in plan
    # the recent-orders slice is date-pruned at the scan
    assert "o_orderdate" in plan.split("PushedFilters", 1)[1][:800]


def test_tpch_q2_window_not_aggregate_joinback(spark):
    # the correlated min decorrelates to ONE window pass (rank over
    # partkey), not an aggregate + join-back — one shuffle fewer
    plan = _plan(QUERIES["tpch_q2_shape"](spark, SF_DIR))
    assert "Window" in plan
    assert "row_number" in plan


def test_tpch_q15_reuses_revenue_subplan(spark):
    # the sr view feeds both the max and the equality probe; Spark
    # must not recompute lineitem twice without reuse at scale — at
    # minimum the broadcast of the 1-row max appears
    plan = _plan(QUERIES["tpch_q15_shape"](spark, SF_DIR))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_tpch_q13_filter_inside_left_join(spark):
    # the priority exclusion rides the join condition: customers stay
    # left-preserved (no Inner join over orders first)
    plan = _plan(QUERIES["tpch_q13_shape"](spark, SF_DIR))
    assert "LeftOuter" in plan


def test_bm25_take_ordered_no_global_sort(spark):
    # the top-10 cut must be TakeOrderedAndProject (per-partition
    # top-k + merge), never a global Sort, and the corpus-stats /
    # df sides must broadcast — no sort-merge join anywhere
    plan = _plan(QUERIES["search_bm25_topk"](spark, SF_DIR))
    assert "TakeOrderedAndProject" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan


def test_phrase_match_equi_join_postings(spark):
    # adjacency join is an equi-join on (doc_id, pos) over term-filtered
    # postings — never a nested-loop/cartesian over full positions
    plan = _plan(QUERIES["search_phrase_match"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_ks_prefix_sum_bucket_partitioned(spark):
    # the ECDF cumulative must ride the deterministic width_bucket
    # two-phase prefix-sum: a hash exchange on the derived bucket id,
    # never a single-partition window over the data (the bucket id is
    # a pure function of the value — NOT spark_partition_id after a
    # sampled range exchange, which is only consistent across the
    # offsets/join branches when ReuseExchange happens to fire)
    # round 6: global_prefix_sums lazily checkpoints the cumsum frame
    # (one compute for its two consumers), so the bucket stage lives in
    # the checkpointed lineage — assert its shape on the pre-checkpoint
    # builder the op uses (_pps_local), same SF input
    from ocrflow.dataops import _pps_local
    from ocrflow.queries import t
    from pyspark.sql import functions as F
    ev = (t(spark, SF_DIR, "events")
          .filter(F.col("event_type").isin("click", "view"))
          .select("value", (F.col("event_type") == "click")
                  .cast("long").alias("is_a")))
    plan = _plan(_pps_local(ev, "value", ["is_a"], 8))
    assert "width_bucket" in plan
    assert "hashpartitioning(_pps_pid" in plan


def test_ndcg_windows_share_one_user_exchange(spark):
    # predicted and ideal row_numbers both partition by user_id: one
    # hash exchange on user_id feeds both windows
    plan = _plan(QUERIES["eval_ndcg_at_k"](spark, SF_DIR))
    import re
    user_exchanges = re.findall(r"Exchange hashpartitioning\(user_id", plan)
    assert len(user_exchanges) == 1, plan.count("Exchange")


def test_decontaminate_fuzzy_single_exchange_broadcast_bench(spark):
    # round-5 plan contract: per-doc gram sets dedupe INSIDE the row
    # (array_distinct) with sizes carried as columns, so the ONLY
    # exchange is the (doc, bench) intersection-count groupBy and the
    # bench side broadcasts — the original form paid 7 exchanges for
    # the same answer (re-deriving distinct postings and size lookups)
    plan = _plan(QUERIES["decontaminate_fuzzy"](spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan
    # map-parallelism guard: the test dir is a one-file scan, so the
    # round-robin repartition MUST be in the plan — without it the
    # whole gram explode serializes into one task (17.5 s vs 1.1 s at
    # sf0.1; see the operator docstring)
    assert "RoundRobinPartitioning" in plan, plan
    # gram construction must stay a regex, never an interpreted
    # higher-order lambda: InferFiltersFromGenerate inlines the gram
    # expression into scan-stage filters, so a ~0.8 ms/row lambda gets
    # re-evaluated 2-3x per row below the exchange
    assert "lambdafunction" not in plan, plan


def test_rlhf_pref_pairs_single_agg_no_join(spark):
    # chosen/rejected come from ONE map-side-combinable aggregate
    # (max/min over comparable structs): a single keyed exchange, no
    # window, no join — the two-window + broadcast-self-join form
    # paid two exchanges for the same answer
    plan = _plan(QUERIES["rlhf_pref_pairs"](spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Join" not in plan
    assert "Window" not in plan
    assert "partial_max" in plan or "partial_min" in plan or "HashAggregate" in plan


def test_conv_tool_stats_single_exchange(spark):
    # collect_set (bounded tool vocabulary) not countDistinct: the
    # distinct-aggregate rewrite would add an Expand + second exchange
    plan = _plan(QUERIES["conv_tool_stats"](spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "Expand" not in plan


def test_corpus_url_dedup_partial_agg_single_exchange(spark):
    # canonical-URL dedup: one exchange with map-side partial
    # aggregation (partial_count before the shuffle)
    plan = _plan(QUERIES["corpus_url_dedup"](spark, SF_DIR))
    assert plan.count("Exchange hashpartitioning") == 1, plan
    assert "partial_count" in plan or "partial count" in plan.lower()


def test_text_nb_classify_broadcasts_model_no_smj(spark):
    # the NB model is vocabulary x classes — broadcastable by
    # construction. The scoring join (probe tokens x model) and the
    # class-size/prior joins must all be broadcast: the only hash
    # exchanges are the counting aggregates and the per-doc score
    # groupBy, never a sort-merge join of the fact against anything
    plan = _plan(QUERIES["text_nb_classify"](spark, SF_DIR))
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_text_nb_train_single_count_agg_broadcast_sizes(spark):
    # training is ONE (class, token) counting aggregate plus a
    # broadcast join of the |classes|-row size table — no SMJ
    plan = _plan(QUERIES["text_nb_train"](spark, SF_DIR))
    assert "SortMergeJoin" not in plan, plan
    assert "BroadcastHashJoin" in plan, plan


def _subtrees(plan: str, needle: str) -> list[list[str]]:
    """Each plan line containing ``needle`` with the lines of its own
    subtree: the following lines whose node starts deeper."""
    lines = plan.splitlines()

    def depth(line):
        return len(line) - len(line.lstrip(" :+-"))

    out = []
    for i, line in enumerate(lines):
        if needle in line:
            d, sub = depth(line), [line]
            for below in lines[i + 1:]:
                if depth(below) <= d:
                    break
                sub.append(below)
            out.append(sub)
    return out


def test_subtrees_stop_at_sibling():
    plan = ("A\n"
            "+- Join\n"
            "   :- Exchange RoundRobinPartitioning(4)\n"
            "   :  +- Filter f\n"
            "   +- Filter g\n")
    (sub,) = _subtrees(plan, "RoundRobinPartitioning")
    assert sub[1:] == ["   :  +- Filter f"]


def test_widen_barriers_keep_heavy_exprs_above_rr_exchange(spark, monkeypatch):
    # pin() must keep regex/array-lambda work ABOVE widen()'s
    # round-robin exchange: predicate pushdown would otherwise
    # substitute the computed columns into filters below it, running
    # them per row at scan parallelism (one task on one-row-group
    # inputs). corpus_curation_e2e's survivor localCheckpoint hides
    # its exchanges behind a Scan ExistingRDD, so expose the full plan.
    import re
    from pyspark.sql.classic.dataframe import DataFrame as ClassicDF
    monkeypatch.setattr(ClassicDF, "localCheckpoint",
                        lambda self, *a, **k: self)
    for key, needle in (("corpus_curation_e2e", "regexp_extract_all"),
                        ("emb_quantize_int8", "lambdafunction"),
                        ("decontaminate_fuzzy", "regexp_extract_all")):
        subs = _subtrees(_plan(QUERIES[key](spark, SF_DIR)),
                         "RoundRobinPartitioning")
        assert subs, f"{key}: no round-robin exchange (widen no-op?)"
        for sub in subs:
            below = [l for l in sub[1:] if re.search(needle, l)
                     and ("Filter" in l or "DataFilters" in l)]
            assert not below, f"{key}: heavy expr below RR exchange: {below[:1]}"


def test_widen_decides_from_row_groups(spark, tmp_path):
    # widen() repartitions iff the scan's files hold fewer parquet row
    # groups than defaultParallelism (a scan task never reads less
    # than one row group)
    import pyarrow.parquet as pq
    from ocrflow import queries as Q
    par = spark.sparkContext.defaultParallelism
    rows = pq.read_table(f"{SF_DIR}/documents.parquet")
    assert rows.num_rows >= par
    step = -(-rows.num_rows // par)
    one = str(tmp_path / "one.parquet")
    pq.write_table(rows, one)
    many = str(tmp_path / "many.parquet")
    pq.write_table(rows, many, row_group_size=step)
    assert pq.ParquetFile(one).metadata.num_row_groups == 1
    assert pq.ParquetFile(many).metadata.num_row_groups >= par
    files = tmp_path / "files"
    files.mkdir()
    for i in range(par):
        pq.write_table(rows.slice(i * step, step), str(files / f"{i}.parquet"))

    def widened(path):
        out = Q.widen(spark, spark.read.parquet(path))
        return "RoundRobinPartitioning" in _plan(out)

    assert widened(one)
    assert not widened(many)
    assert not widened(str(files))
    # stock session: the decision must not depend on (or trip over) an
    # unset split-size conf
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.unset("spark.sql.files.maxPartitionBytes")
    try:
        assert widened(one)
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)


def _footer_cases(spark, tmp_path):
    """(dir, table name) for every testdata table at every scale next to
    SF_DIR, perfbench's tables, and Spark-written directories holding
    each type the footer conversion must get right (INT96 and micros
    timestamps, never-null columns and elements)."""
    import datetime
    import decimal
    import glob
    from perfbench import tables as perf_tables

    cases = []
    for sf in sorted({SF_DIR, *glob.glob(os.path.join(
            os.path.dirname(SF_DIR), "sf*"))}):
        cases += [(sf, os.path.basename(p)[:-len(".parquet")])
                  for p in sorted(glob.glob(f"{sf}/*.parquet"))]
    perf = str(tmp_path / "perf")
    perf_tables.write_tables(perf)
    cases += [(perf, n) for n in sorted(perf_tables.build_tables())]
    typed = spark.createDataFrame(
        [(datetime.datetime(2020, 1, 2, 3, 4, 5),
          datetime.datetime(2020, 1, 2, 3, 4, 5), decimal.Decimal("1.25"),
          [1, None], {"a": 2}, (1, "x"), datetime.date(2020, 1, 1),
          bytearray(b"ab"))],
        "ts timestamp, tsn timestamp_ntz, d decimal(10,2), arr array<int>, "
        "m map<string,int>, st struct<i:int,s:string>, dt date, b binary")
    never_null = spark.range(3).selectExpr(
        "id", "array(id) AS a", "named_struct('x', id) AS s",
        "map('k', id) AS m")
    prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    try:
        for fmt in ("INT96", "TIMESTAMP_MICROS"):
            spark.conf.set("spark.sql.parquet.outputTimestampType", fmt)
            typed.repartition(2).write.parquet(
                str(tmp_path / f"typed_{fmt}.parquet"))
            cases.append((str(tmp_path), f"typed_{fmt}"))
        never_null.write.parquet(str(tmp_path / "never_null.parquet"))
        cases.append((str(tmp_path), "never_null"))
    finally:
        spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
    return cases


def test_t_takes_spark_schema_from_footer_and_runs_no_job(
        spark, tmp_path, count_jobs):
    # t() reads the schema Spark would infer from one parquet footer on
    # the driver: equal to spark.read.parquet's, nullability included,
    # under either timestamp_ntz inference setting, with no Spark job
    from ocrflow.queries import t
    cases = _footer_cases(spark, tmp_path)
    assert len(cases) >= 10 + 10 + 3
    key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    prev = spark.conf.get(key)
    try:
        for ntz in ("true", "false"):
            spark.conf.set(key, ntz)
            for sf, name in cases:
                df, jobs = count_jobs(lambda: t(spark, sf, name))
                assert jobs == 0, (sf, name)
                want = spark.read.parquet(f"{sf}/{name}.parquet").schema
                assert df.schema == want, (ntz, sf, name)
    finally:
        spark.conf.set(key, prev)
