"""Relational operator corpus (SURVEY.md §2.B) + DuckDB oracle SQL.

Each entry is one `queries()` key in __spark_entry__.py, checked by the
driver against `oracle_sql()` via DuckDB at sf0.01 (row-count + schema +
order-insensitive value-hash). Conventions for oracle parity
(SURVEY.md §7 hard-part 4, FIXTURES.md gotchas):

- alias EVERY computed column identically on both sides;
- round float aggregates (ULP-stable across engines);
- cast integer sums explicitly (DuckDB sum(int) → HUGEINT);
- session timezone pinned to UTC (timestamps are naive micros);
- result orderings are irrelevant (driver sorts before hashing).

Scale notes are on each query: what Catalyst pushes down, where the
shuffles are, what changes at 100 TB.
"""

from __future__ import annotations

import os

import pyarrow.fs as pafs
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession, functions as F, types as T
from pyspark.sql import Window as W

from .icelite import read_parquet

QUERIES: dict = {}
ORACLE: dict = {}


def q(name: str, sql: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLE[name] = sql.strip()
        return fn
    return deco


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    return read_parquet(spark, f"{sf_dir}/{name}.parquet")


def widen(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Scan-parallelism guard for map-heavy stages (regex extraction,
    explode fanout, array lambdas, Python kernels) over a parquet scan.

    A scan task never reads less than one parquet row group, so a scan
    over fewer row groups than the cluster has slots keeps slots idle
    however small the split size: a single-row-group file runs every
    row on one core. When the row groups of ``df.inputFiles()`` number
    fewer than ``defaultParallelism``, a round-robin repartition of the
    raw rows spreads them over every slot for about the cost of
    shuffling the input once. At 100 TB the scan has thousands of row
    groups and the guard is a no-op, keeping the original plan.

    The count comes from the parquet footers, read on the driver and
    stopping as soon as it reaches ``defaultParallelism``; it compiles
    no RDD and caches nothing, so it is always current for the files
    the plan reads. Apply ONLY where per-row compute dominates the
    shuffle cost; never on plain column-pruned aggregation scans. Pair
    it with ``pin()`` on any computed column that a later filter could
    otherwise pull below the exchange."""
    par = spark.sparkContext.defaultParallelism
    groups = 0
    for uri in df.inputFiles():
        fs, path = pafs.FileSystem.from_uri(uri)
        with pq.ParquetFile(path, filesystem=fs) as f:
            groups += f.metadata.num_row_groups
        if groups >= par:
            return df
    return df.repartition(par)


def pin(expr: Column) -> Column:
    """Keep ``expr`` evaluated where it is projected: above ``widen()``'s
    round-robin exchange, once per row.

    Without it, predicate pushdown substitutes a computed column into
    any filter on it (written, or inferred by
    InferFiltersFromConstraints) and pushes that filter below the
    exchange, so a regex or array lambda runs at scan parallelism (one
    task on a one-row-group file) and again above. Wrapping the value
    in a ``when()`` on the never-negative
    ``monotonically_increasing_id()`` keeps the value (so a retry
    recomputes the same result), and the nondeterministic id stops
    Catalyst from moving the expression.

    This is optimizer-version-specific: it relies on Catalyst never
    pushing a predicate through a projection with a nondeterministic
    field. It also blocks every predicate pushdown through that
    projection, cheap ones included: ``decontaminate_fuzzy``'s
    ``doc_id % 11`` split stays above the exchange."""
    return F.when(F.monotonically_increasing_id() >= 0, expr)


# Recurring text features, each written once so that every operator
# tokenizes, counts and gates alike; the oracle SQL spells each the same
# way in DuckDB.

def words(*, lower: bool = False) -> Column:
    """Whitespace tokens of ``text``: ``split(trim(text), '\\s+')``,
    lowercased before the split with ``lower=True``. ``trim`` strips
    only U+0020, so text that starts with a tab or newline yields an
    empty first token."""
    trimmed = F.trim("text")
    return F.split(F.lower(trimmed) if lower else trimmed, r"\s+")


def conv_id() -> Column:
    """The transcript ``conv_id`` a documents row belongs to:
    ``'conv-'`` + ``doc_id % 50`` zero-padded to 8 digits. The corpus
    maps onto 50 conversations; a row's turn index is ``doc_id / 50``."""
    return F.concat(F.lit("conv-"),
                    F.lpad((F.col("doc_id") % 50).cast("string"), 8, "0")
                    ).alias("conv_id")


def spaced() -> Column:
    """``text`` trimmed with every whitespace run collapsed to one
    space: the string ``word_ngrams`` expects."""
    return F.regexp_replace(F.trim("text"), r"\s+", " ")


def word_ngrams(spaced_col: Column, n: int) -> Column:
    """Every overlapping word ``n``-gram of a single-space-separated
    string (``spaced()``, or ``concat_ws(" ", tokens)``), in order; a
    text of fewer than ``n`` words yields none, so callers need no size
    guard.

    A zero-width-lookahead ``regexp_extract_all`` and not a
    ``transform``/``slice`` lambda over the token array: it yields the
    same grams, but the lambda is interpreted (~0.8 ms/row, the regex
    is ~50x cheaper per row), and ``InferFiltersFromGenerate`` copied
    the whole lambda into inferred filters that pushdown moved below
    the exchange. A JVM regex leaves nothing interpreted to copy."""
    gram = " ".join(["[^ ]+"] * n)
    return F.regexp_extract_all(F.concat(F.lit(" "), spaced_col),
                                F.lit(f" (?=({gram}))"), 1)


def n_word() -> Column:
    """Quality count: ASCII alphanumeric runs in ``text``."""
    return F.size(F.regexp_extract_all("text", F.lit("[A-Za-z0-9]+"), 0))


def n_stop() -> Column:
    """Quality count: English stopwords in ``text``, case-folded.

    The word boundary is spelled out as ASCII ``[A-Za-z0-9_]``, which is
    what RE2's ``\\b`` in the DuckDB oracles means. Java's ``\\b`` also
    counts any Unicode letter as a word character: ``'the日本 and'``
    has 2 stopwords in DuckDB but 1 under Java's ``\\b``."""
    return F.size(F.regexp_extract_all(
        F.lower("text"),
        F.lit(r"(?<![A-Za-z0-9_])(the|a|an|and|or|of|to|in|is|it)"
              r"(?![A-Za-z0-9_])"), 0))


def quality_gate(df: DataFrame) -> DataFrame:
    """Keep rows with at least 5 words, 3-15 chars per word and, for
    English, at least one stopword; reads the ``n_word``/``n_stop``
    columns and ``n_chars``/``lang``."""
    cpw = F.col("n_chars").cast("double") / F.greatest("n_word", F.lit(1))
    return df.filter((F.col("n_word") >= 5) & cpw.between(3, 15)
                     & ((F.col("lang") != "en") | (F.col("n_stop") > 0)))


# =========================================================================
# Scans / sources
# =========================================================================

@q("scan_parquet", """
SELECT count(*) AS n_rows, count(l_orderkey) AS n_orderkey,
       CAST(sum(l_linenumber) AS BIGINT) AS sum_linenumber
FROM lineitem
""")
def scan_parquet(spark, sf):
    # full scan; aggregate pushes into a single stage with partial aggs
    return (t(spark, sf, "lineitem")
            .agg(F.count("*").alias("n_rows"),
                 F.count("l_orderkey").alias("n_orderkey"),
                 F.sum("l_linenumber").cast("long").alias("sum_linenumber")))


@q("scan_pruned", """
SELECT l_orderkey, l_quantity
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_quantity > 45
""")
def scan_pruned(spark, sf):
    # predicate + projection reach the parquet scan (PushedFilters/ReadSchema)
    return (t(spark, sf, "lineitem")
            .select("l_orderkey", "l_quantity", "l_shipdate")
            .filter((F.col("l_shipdate") >= "1995-01-01") & (F.col("l_quantity") > 45))
            .select("l_orderkey", "l_quantity"))


@q("source_json_props", """
SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k
FROM events WHERE props IS NOT NULL
""")
def source_json_props(spark, sf):
    # JSON string column → typed columns; at scale prefer from_json once
    # over repeated get_json_object (single parse per row)
    ev = t(spark, sf, "events").filter(F.col("props").isNotNull())
    parsed = F.from_json("props", "k bigint")
    return ev.select("event_id", parsed["k"].alias("k"))


# =========================================================================
# Projection / filter / predicates
# =========================================================================

@q("project_expr", """
SELECT l_orderkey, l_linenumber,
       l_extendedprice * (1 - l_discount) AS revenue,
       l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charged
FROM lineitem
""")
def project_expr(spark, sf):
    li = t(spark, sf, "lineitem")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.select("l_orderkey", "l_linenumber",
                     rev.alias("revenue"),
                     (rev * (1 + F.col("l_tax"))).alias("charged"))


@q("filter_conj", """
SELECT o_orderkey, o_totalprice
FROM orders
WHERE (o_orderstatus = 'O' AND o_totalprice BETWEEN 1000 AND 100000)
   OR (o_orderpriority IN ('1-URGENT', '2-HIGH') AND o_custkey IS NOT NULL
       AND o_totalprice > 150000)
""")
def filter_conj(spark, sf):
    o = t(spark, sf, "orders")
    return o.filter(
        ((F.col("o_orderstatus") == "O") & F.col("o_totalprice").between(1000, 100000))
        | (F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
           & F.col("o_custkey").isNotNull() & (F.col("o_totalprice") > 150000))
    ).select("o_orderkey", "o_totalprice")


@q("filter_like", """
SELECT p_partkey, p_name, p_type
FROM part
WHERE p_type LIKE '%ECO%' OR regexp_matches(p_name, '^(red|blue) ')
""")
def filter_like(spark, sf):
    # predicates tuned to the testdata domain (p_type ∈ {ECONOMY,...},
    # p_name 'red widget'-style) so the check exercises non-empty results
    p = t(spark, sf, "part")
    return (p.filter(F.col("p_type").like("%ECO%")
                     | F.col("p_name").rlike("^(red|blue) "))
            .select("p_partkey", "p_name", "p_type"))


@q("case_when", """
SELECT o_orderkey,
       CASE WHEN o_totalprice > 200000 THEN 'big'
            WHEN o_totalprice > 50000 THEN 'mid'
            ELSE 'small' END AS bucket
FROM orders
""")
def case_when(spark, sf):
    o = t(spark, sf, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") > 200000, "big")
         .when(F.col("o_totalprice") > 50000, "mid")
         .otherwise("small").alias("bucket"))


# =========================================================================
# Joins
# =========================================================================

@q("join_inner_equi", """
SELECT o.o_orderkey, c.c_name, o.o_totalprice
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
WHERE c.c_mktsegment = 'BUILDING'
""")
def join_inner_equi(spark, sf):
    # shuffle join on key; at 100 TB both sides hash-exchange on custkey —
    # AQE picks SMJ/SHJ; filter pushes below the join on the customer side
    o, c = t(spark, sf, "orders"), t(spark, sf, "customer")
    return (o.join(c, o.o_custkey == c.c_custkey, "inner")
            .filter(F.col("c_mktsegment") == "BUILDING")
            .select("o_orderkey", "c_name", "o_totalprice"))


@q("join_broadcast", """
SELECT l.l_orderkey, p.p_brand, l.l_quantity
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_size <= 10
""")
def join_broadcast(spark, sf):
    # dimension broadcast: no shuffle of the 100 TB fact side at all
    li, p = t(spark, sf, "lineitem"), t(spark, sf, "part")
    return (li.join(F.broadcast(p.filter(F.col("p_size") <= 10)),
                    li.l_partkey == p.p_partkey)
            .select("l_orderkey", "p_brand", "l_quantity"))


@q("join_left_outer", """
SELECT c.c_custkey, c.c_name, o.o_orderkey
FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
""")
def join_left_outer(spark, sf):
    c, o = t(spark, sf, "customer"), t(spark, sf, "orders")
    return (c.join(o, c.c_custkey == o.o_custkey, "left")
            .select("c_custkey", "c_name", "o_orderkey"))


@q("join_full_outer", """
SELECT n.n_nationkey, n.n_name, s.s_suppkey
FROM nation n FULL OUTER JOIN supplier s ON n.n_nationkey = s.s_nationkey
""")
def join_full_outer(spark, sf):
    n, s = t(spark, sf, "nation"), t(spark, sf, "supplier")
    return (n.join(s, n.n_nationkey == s.s_nationkey, "full")
            .select("n_nationkey", "n_name", "s_suppkey"))


@q("join_left_semi", """
SELECT c_custkey, c_name FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
""")
def join_left_semi(spark, sf):
    c, o = t(spark, sf, "customer"), t(spark, sf, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select("c_custkey", "c_name")


@q("join_left_anti", """
SELECT c_custkey, c_name FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_totalprice > 300000)
""")
def join_left_anti(spark, sf):
    # also the resume-delta operator (SURVEY.md §2.A A11). Anti-joins
    # against the filtered big-order subset so some customers qualify
    # (every customer has *an* order on this testdata → the unfiltered
    # variant was vacuously 0 rows).
    c, o = t(spark, sf, "customer"), t(spark, sf, "orders")
    big = o.filter(F.col("o_totalprice") > 300000)
    return (c.join(big, c.c_custkey == big.o_custkey, "left_anti")
            .select("c_custkey", "c_name"))


@q("join_cross_theta", """
SELECT r.r_name, n.n_name
FROM region r CROSS JOIN nation n
WHERE r.r_regionkey <> n.n_regionkey AND n.n_nationkey < 10
""")
def join_cross_theta(spark, sf):
    r, n = t(spark, sf, "region"), t(spark, sf, "nation")
    return (r.crossJoin(n.filter(F.col("n_nationkey") < 10))
            .filter(F.col("r_regionkey") != F.col("n_regionkey"))
            .select("r_name", "n_name"))


@q("join_range", """
SELECT o.o_orderkey, l.l_linenumber, l.l_shipdate
FROM orders o JOIN lineitem l
  ON o.o_orderkey = l.l_orderkey
 AND l.l_shipdate BETWEEN o.o_orderdate AND o.o_orderdate + INTERVAL 60 DAY
""")
def join_range(spark, sf):
    # equi-key narrows the shuffle; the range predicate evaluates post-join.
    # At 100 TB: bucketize the date to turn the band into an equi-join
    # prefix. orders↔lineitem share the date domain → non-empty result.
    o, li = t(spark, sf, "orders"), t(spark, sf, "lineitem")
    return (o.join(li, (o.o_orderkey == li.l_orderkey)
                   & li.l_shipdate.between(o.o_orderdate,
                                           o.o_orderdate + F.expr("INTERVAL 60 DAYS")))
            .select("o_orderkey", "l_linenumber", "l_shipdate"))


@q("join_range_bucketed", """
SELECT o.o_orderkey, l.l_linenumber, l.l_shipdate
FROM orders o JOIN lineitem l
  ON o.o_orderkey = l.l_orderkey
 AND l.l_shipdate BETWEEN o.o_orderdate AND o.o_orderdate + INTERVAL 60 DAY
""")
def join_range_bucketed(spark, sf):
    # the SCALE path for band joins (same semantics and oracle as
    # join_range — the driver proves the rewrite's equivalence): add a
    # coarse time bucket to the equi-key so the shuffle key becomes
    # (orderkey, 60d-bucket). Each probe row can match two buckets, so
    # the build side explodes to {bucket, bucket+1} — rows pair up only
    # within one bucket of each other instead of across the whole key
    # group, and the residual BETWEEN evaluates on that reduced set.
    # For keys with long histories (the skew case for plain join_range)
    # this bounds the per-key pair blowup by the bucket width.
    bucket_s = 60 * 86400
    o, li = t(spark, sf, "orders"), t(spark, sf, "lineitem")
    lb = li.withColumn("_b", F.floor(F.unix_timestamp("l_shipdate") / bucket_s))
    ob = (o.withColumn("_b0", F.floor(F.unix_timestamp("o_orderdate") / bucket_s))
          .withColumn("_b", F.explode(F.array(F.col("_b0"), F.col("_b0") + 1))))
    return (ob.join(lb, (ob.o_orderkey == lb.l_orderkey) & (ob._b == lb._b)
                    & lb.l_shipdate.between(
                        ob.o_orderdate,
                        ob.o_orderdate + F.expr("INTERVAL 60 DAYS")))
            .select("o_orderkey", "l_linenumber", "l_shipdate"))


@q("join_asof", """
SELECT event_id AS purchase_id, click_id AS last_click_id FROM (
  SELECT p.event_id, c.event_id AS click_id,
         row_number() OVER (PARTITION BY p.event_id
                            ORDER BY c.ts DESC, c.event_id DESC) AS rn
  FROM events p LEFT JOIN events c
    ON c.user_id = p.user_id AND c.ts <= p.ts AND c.event_type = 'click'
  WHERE p.event_type = 'purchase'
) WHERE rn = 1
""")
def join_asof(spark, sf):
    # as-of join (each purchase → latest prior click of the same user),
    # implemented as a tagged UNION-MERGE: one shuffle on user_id, one
    # ordered window pass, ZERO pair materialization. The naive
    # equi-join + rank composition (the oracle SQL above) materializes
    # every (purchase, prior-click) pair before ranking — per-user
    # quadratic at 100 TB; the union-merge is linear in rows and is the
    # scale-safe shape (same trick Flink/kdb use for as-of).
    e = t(spark, sf, "events")
    clicks = (e.filter(F.col("event_type") == "click")
              .select("user_id", "ts", "event_id",
                      F.lit(0).alias("side"),
                      F.col("event_id").alias("click_id")))
    purch = (e.filter(F.col("event_type") == "purchase")
             .select("user_id", "ts", "event_id",
                     F.lit(1).alias("side"),
                     F.lit(None).cast("long").alias("click_id")))
    # clicks sort BEFORE a purchase at the same ts (side 0 < 1) → `<=`
    # semantics; among same-ts clicks, last in event_id order = max id,
    # matching the oracle's ORDER BY c.ts DESC, c.event_id DESC tiebreak.
    u = clicks.unionByName(purch)
    w = (W.partitionBy("user_id").orderBy("ts", "side", "event_id")
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    return (u.withColumn("last_click_id",
                         F.last("click_id", ignorenulls=True).over(w))
            .filter(F.col("side") == 1)
            .select(F.col("event_id").alias("purchase_id"),
                    F.col("last_click_id")))


@q("join_asof_forward", """
SELECT event_id AS purchase_id, click_id AS next_click_id FROM (
  SELECT p.event_id, c.event_id AS click_id,
         row_number() OVER (PARTITION BY p.event_id
                            ORDER BY c.ts ASC, c.event_id ASC) AS rn
  FROM events p LEFT JOIN events c
    ON c.user_id = p.user_id AND c.ts >= p.ts AND c.event_type = 'click'
  WHERE p.event_type = 'purchase'
) WHERE rn = 1
""")
def join_asof_forward(spark, sf):
    # FORWARD as-of (kdb aj direction reversed / pandas
    # merge_asof(direction='forward')): each purchase → the EARLIEST
    # following click of the same user. Same union-merge shape as
    # join_asof — one shuffle, one window, no pair materialization —
    # with the frame flipped to (currentRow, unboundedFollowing) and
    # first() instead of last(). Purchases tag side=0 so a click at the
    # exact purchase ts is inside the frame (>= semantics); among
    # same-ts clicks the frame's (ts, side, event_id) order makes
    # first() pick min event_id, matching the oracle's ASC tiebreaks.
    e = t(spark, sf, "events")
    clicks = (e.filter(F.col("event_type") == "click")
              .select("user_id", "ts", "event_id",
                      F.lit(1).alias("side"),
                      F.col("event_id").alias("click_id")))
    purch = (e.filter(F.col("event_type") == "purchase")
             .select("user_id", "ts", "event_id",
                     F.lit(0).alias("side"),
                     F.lit(None).cast("long").alias("click_id")))
    u = clicks.unionByName(purch)
    w = (W.partitionBy("user_id").orderBy("ts", "side", "event_id")
         .rowsBetween(W.currentRow, W.unboundedFollowing))
    return (u.withColumn("next_click_id",
                         F.first("click_id", ignorenulls=True).over(w))
            .filter(F.col("side") == 0)
            .select(F.col("event_id").alias("purchase_id"),
                    F.col("next_click_id")))


def salted_join(big: DataFrame, small: DataFrame, big_key, small_key,
                salt_col: str, k: int) -> DataFrame:
    """Explicit skew-salted equi-join (A10): replicate the small side k
    ways, salt the big side with pmod(xxhash64(salt_col), k) so one hot
    key spreads over k tasks. Semantically identical to the plain join
    for any k ≥ 1 (the oracle proves it). Size k to the observed skew:
    k ≈ ceil(hottest-key rows / rows-per-task-budget) — at 100 TB read
    it from a cheap approx_count frequency sketch of the key column (or
    let AQE skew-join handle moderate skew; BENCH/skew_join.md measures
    explicit salt 3.8s vs AQE 5.4s vs naive 5.6s on a 20M-row hot key).
    """
    b = big.withColumn("_salt", F.pmod(F.xxhash64(salt_col), F.lit(k)))
    s = small.withColumn("_salt",
                         F.explode(F.array(*[F.lit(i) for i in range(k)])))
    return b.join(s, (b[big_key] == s[small_key])
                  & (b["_salt"] == s["_salt"])).drop("_salt")


@q("join_asof_tolerance", """
SELECT event_id AS purchase_id, click_id AS last_click_id FROM (
  SELECT p.event_id, c.event_id AS click_id,
         row_number() OVER (PARTITION BY p.event_id
                            ORDER BY c.ts DESC, c.event_id DESC) AS rn
  FROM events p LEFT JOIN events c
    ON c.user_id = p.user_id AND c.event_type = 'click'
   AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 1 HOUR
  WHERE p.event_type = 'purchase'
) WHERE rn = 1
""")
def join_asof_tolerance(spark, sf):
    # as-of with a tolerance bound (match only within the trailing
    # hour — kdb's `aj` tolerance / pandas merge_asof(tolerance=...)):
    # the same union-merge as join_asof, carrying the click ts so the
    # bound is a post-window filter that NULLs out stale matches.
    # Still one shuffle + one window; no pair materialization.
    e = t(spark, sf, "events")
    clicks = (e.filter(F.col("event_type") == "click")
              .select("user_id", "ts", "event_id",
                      F.lit(0).alias("side"),
                      F.col("event_id").alias("click_id"),
                      F.col("ts").alias("click_ts")))
    purch = (e.filter(F.col("event_type") == "purchase")
             .select("user_id", "ts", "event_id",
                     F.lit(1).alias("side"),
                     F.lit(None).cast("long").alias("click_id"),
                     F.lit(None).cast("timestamp").alias("click_ts")))
    u = clicks.unionByName(purch)
    w = (W.partitionBy("user_id").orderBy("ts", "side", "event_id")
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    # microsecond-exact bound: NTZ subtraction yields a day-time
    # interval compared exactly — the oracle's INTERVAL arithmetic.
    # unix_timestamp truncated to whole seconds and wrongly matched
    # clicks 3600..3601s stale at the boundary (and unix_micros
    # rejects TIMESTAMP_NTZ outright).
    within = (F.col("_ts").isNotNull()
              & ((F.col("ts") - F.col("_ts")) <= F.expr("INTERVAL 1 HOUR")))
    return (u.withColumn("_id", F.last("click_id", ignorenulls=True).over(w))
            .withColumn("_ts", F.last("click_ts", ignorenulls=True).over(w))
            .filter(F.col("side") == 1)
            .select(F.col("event_id").alias("purchase_id"),
                    F.when(within, F.col("_id")).alias("last_click_id")))


@q("join_salted_skew", """
SELECT e.user_id, count(*) AS n_events, CAST(sum(o.o_orderkey) AS BIGINT) AS sum_okey
FROM events e JOIN orders o ON e.user_id = o.o_custkey
GROUP BY e.user_id
""")
def join_salted_skew(spark, sf):
    # project to the join/agg columns BEFORE the salted exchange (guide
    # §2.3): the k-way replicated small side and the salted big side
    # were shuffling all 6 columns of each table; only 2 per side feed
    # the aggregate
    e = t(spark, sf, "events").select("user_id", "event_id")
    o = t(spark, sf, "orders").select("o_custkey", "o_orderkey")
    j = salted_join(e, o, "user_id", "o_custkey", "event_id", k=4)
    return (j.groupBy("user_id")
            .agg(F.count("*").alias("n_events"),
                 F.sum("o_orderkey").cast("long").alias("sum_okey")))


# =========================================================================
# Aggregations
# =========================================================================

@q("agg_hash", """
SELECT l_returnflag, l_linestatus,
       CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
       ROUND(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,8))) AS DOUBLE), 2)
           AS sum_base_price,
       ROUND(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                * CAST(1 - l_discount AS DECIMAL(12,6))) AS DOUBLE), 2)
           AS sum_disc_price,
       avg(l_quantity) AS avg_qty,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
""")
def agg_hash(spark, sf):
    # TPC-H Q1 shape: partial (map-side) + final agg, one shuffle on the
    # two low-cardinality keys — the canonical 100 TB-safe aggregation.
    # Internal sums stay DECIMAL (exact, order-independent); the FINAL
    # outputs cast to rounded DOUBLE — DECIMAL(38,*) outputs hashed
    # differently in the driver's comparator (round-1 hash_match=false
    # with row-identical values).
    li = t(spark, sf, "lineitem").filter(F.col("l_shipdate") <= "1998-09-02")
    return (li.groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum("l_quantity").alias("sum_qty"),
                 F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,8)"))
                         .cast("double"), 2).alias("sum_base_price"),
                 F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,6)")
                               * (F.lit(1) - F.col("l_discount")).cast("decimal(12,6)"))
                         .cast("double"), 2).alias("sum_disc_price"),
                 F.avg("l_quantity").alias("avg_qty"),
                 F.count("*").alias("count_order")))


@q("agg_distinct", """
SELECT c_mktsegment, count(DISTINCT c_nationkey) AS n_nations,
       count(*) AS n_customers
FROM customer GROUP BY c_mktsegment
""")
def agg_distinct(spark, sf):
    c = t(spark, sf, "customer")
    return (c.groupBy("c_mktsegment")
            .agg(F.countDistinct("c_nationkey").alias("n_nations"),
                 F.count("*").alias("n_customers")))


@q("agg_rollup", """
SELECT r_name, n_name, count(*) AS n
FROM nation JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
""")
def agg_rollup(spark, sf):
    n, r = t(spark, sf, "nation"), t(spark, sf, "region")
    j = n.join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
    return j.rollup("r_name", "n_name").agg(F.count("*").alias("n"))


@q("agg_cube", """
SELECT l_returnflag, l_linestatus, count(*) AS n,
       CAST(sum(l_quantity) AS DOUBLE) AS sum_qty
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
""")
def agg_cube(spark, sf):
    li = t(spark, sf, "lineitem")
    return (li.cube("l_returnflag", "l_linestatus")
            .agg(F.count("*").alias("n"),
                 F.sum("l_quantity").alias("sum_qty")))


@q("agg_grouping_sets", """
SELECT o_orderstatus, o_orderpriority, count(*) AS n
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
""")
def agg_grouping_sets(spark, sf):
    t(spark, sf, "orders").createOrReplaceTempView("orders_gs")
    return spark.sql("""
        SELECT o_orderstatus, o_orderpriority, count(*) AS n
        FROM orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """)


@q("agg_collect_sorted", """
SELECT user_id, string_agg(event_type, '|' ORDER BY ts, event_id) AS type_seq
FROM events GROUP BY user_id
""")
def agg_collect_sorted(spark, sf):
    # the A8 ordered-reassembly operator on the oracle tables: sorted
    # struct collection → array_join, all JVM-side
    e = t(spark, sf, "events")
    return (e.groupBy("user_id")
            .agg(F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type"))),
                    lambda s: s["event_type"]),
                "|").alias("type_seq")))


@q("agg_percentile", """
SELECT event_type,
       ROUND(quantile_cont(value, 0.95), 4) AS p95,
       ROUND(quantile_cont(value, 0.5), 4) AS median
FROM events GROUP BY event_type
""")
def agg_percentile(spark, sf):
    # exact interpolated percentile (matches quantile_cont); the approx
    # variant is benchmarked in agg_approx_distinct/rows-only space
    e = t(spark, sf, "events")
    return (e.groupBy("event_type")
            .agg(F.round(F.expr("percentile(value, 0.95)"), 4).alias("p95"),
                 F.round(F.expr("percentile(value, 0.5)"), 4).alias("median")))


@q("agg_approx_distinct")  # rows-only: HLL sketches differ across engines
def agg_approx_distinct(spark, sf):
    e = t(spark, sf, "events")
    return (e.groupBy("event_type")
            .agg(F.approx_count_distinct("user_id").alias("approx_users"),
                 F.countDistinct("user_id").alias("exact_users")))


# =========================================================================
# Window functions
# =========================================================================

@q("win_rank", """
SELECT o_custkey, o_orderkey,
       row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn,
       rank()       OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS rk,
       dense_rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS drk
FROM orders
""")
def win_rank(spark, sf):
    o = t(spark, sf, "orders")
    w1 = W.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    w2 = W.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc())
    return o.select("o_custkey", "o_orderkey",
                    F.row_number().over(w1).alias("rn"),
                    F.rank().over(w2).alias("rk"),
                    F.dense_rank().over(w2).alias("drk"))


@q("win_lag_lead", """
SELECT user_id, event_id,
       date_diff('second', lag(ts)  OVER (PARTITION BY user_id ORDER BY ts, event_id), ts) AS gap_s,
       lead(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS next_event
FROM events
""")
def win_lag_lead(spark, sf):
    e = t(spark, sf, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "user_id", "event_id",
        (F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))).alias("gap_s"),
        F.lead("event_id").over(w).alias("next_event"))


@q("win_running", """
SELECT o_custkey, o_orderkey,
       ROUND(CAST(sum(CAST(o_totalprice AS DECIMAL(18,8))) OVER (PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 2)
           AS running_rev
FROM orders
""")
def win_running(spark, sf):
    # running sum accumulates in DECIMAL (exact prefix sums, identical
    # on both engines); only the emitted column is a rounded DOUBLE —
    # DECIMAL(38,*) output broke the driver's value hash in round 1.
    o = t(spark, sf, "orders")
    w = (W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    return o.select("o_custkey", "o_orderkey",
                    F.round(F.sum(F.col("o_totalprice").cast("decimal(18,8)"))
                            .over(w).cast("double"), 2).alias("running_rev"))


@q("win_range_frame", """
SELECT user_id, event_id,
       ROUND(CAST(sum(CAST(value AS DECIMAL(18,8)))
             OVER (PARTITION BY user_id ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
             RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW) AS DOUBLE), 4)
           AS trailing_30d
FROM events
""")
def win_range_frame(spark, sf):
    # frame key is WHOLE SECONDS on both engines: Spark unix_timestamp
    # truncates to seconds, so the oracle floors epoch(ts) (DuckDB keeps
    # micros) — otherwise frame membership differs at boundaries. Output
    # rounded DOUBLE, not DECIMAL(38,*) (round-1 hash mismatch).
    e = t(spark, sf, "events")
    w = (W.partitionBy("user_id").orderBy(F.unix_timestamp("ts"))
         .rangeBetween(-30 * 86400, 0))
    return e.select("user_id", "event_id",
                    F.round(F.sum(F.col("value").cast("decimal(18,8)"))
                            .over(w).cast("double"), 4).alias("trailing_30d"))


@q("win_ntile_firstlast", """
SELECT o_orderkey, o_custkey,
       ntile(4) OVER (PARTITION BY o_custkey ORDER BY o_totalprice, o_orderkey) AS quartile,
       first_value(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_order,
       last_value(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_order
FROM orders
""")
def win_ntile_firstlast(spark, sf):
    o = t(spark, sf, "orders")
    wq = W.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    wf = (W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
          .rowsBetween(W.unboundedPreceding, W.unboundedFollowing))
    return o.select("o_orderkey", "o_custkey",
                    F.ntile(4).over(wq).alias("quartile"),
                    F.first("o_orderkey").over(wf).alias("first_order"),
                    F.last("o_orderkey").over(wf).alias("last_order"))


@q("win_sliding_rows", """
SELECT user_id, event_id,
       ROUND(CAST(sum(CAST(value AS DECIMAL(18,8)))
             OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS DOUBLE), 4)
           AS centered_5,
       CAST(count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS BIGINT) AS n_in_frame
FROM events
""")
def win_sliding_rows(spark, sf):
    # bounded sliding ROWS frame (centered 5-row smoothing window) —
    # the moving-average shape; frames clip at partition edges, which
    # n_in_frame makes observable (3..5)
    e = t(spark, sf, "events")
    w = (W.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(-2, 2))
    return e.select(
        "user_id", "event_id",
        F.round(F.sum(F.col("value").cast("decimal(18,8)")).over(w)
                .cast("double"), 4).alias("centered_5"),
        F.count("*").over(w).cast("long").alias("n_in_frame"))


@q("filter_correlated_agg", """
SELECT c_custkey, c_name FROM customer c
WHERE (SELECT ROUND(CAST(sum(CAST(o_totalprice AS DECIMAL(18,8)))
                    AS DOUBLE), 2)
       FROM orders o WHERE o.o_custkey = c.c_custkey) > 800000
""")
def filter_correlated_agg(spark, sf):
    # correlated scalar aggregate subquery in a filter — Catalyst
    # decorrelates it into an aggregate + join, which is exactly how
    # we declare it (the decorrelated form IS the scale plan: one
    # shuffle on custkey, then a semi-join)
    c, o = t(spark, sf, "customer"), t(spark, sf, "orders")
    spend = (o.groupBy("o_custkey")
             .agg(F.round(F.sum(F.col("o_totalprice").cast("decimal(18,8)"))
                          .cast("double"), 2).alias("spend"))
             .filter(F.col("spend") > 800000))
    return (c.join(spend, c.c_custkey == spend.o_custkey, "left_semi")
            .select("c_custkey", "c_name"))


@q("win_turn_order", """
SELECT user_id, event_id,
       row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS turn_rank
FROM events
""")
def win_turn_order(spark, sf):
    # the A8 stable-ordering window on the oracle tables
    e = t(spark, sf, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select("user_id", "event_id", F.row_number().over(w).alias("turn_rank"))


# =========================================================================
# Sorts / limits / top-k
# =========================================================================

@q("sort_multi", """
SELECT o_orderkey, o_totalprice, o_orderdate
FROM orders
ORDER BY o_totalprice DESC, o_orderdate ASC, o_orderkey
""")
def sort_multi(spark, sf):
    # global sort = range-partitioned exchange; at 100 TB reserve for
    # final presentation only (driver compare is order-insensitive)
    return (t(spark, sf, "orders")
            .select("o_orderkey", "o_totalprice", "o_orderdate")
            .orderBy(F.col("o_totalprice").desc(), F.col("o_orderdate").asc(),
                     "o_orderkey"))


@q("limit_topn", """
SELECT o_orderkey, o_totalprice FROM orders
ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
""")
def limit_topn(spark, sf):
    # TakeOrderedAndProject: per-partition top-N then driver merge —
    # no global sort even at 100 TB
    return (t(spark, sf, "orders").select("o_orderkey", "o_totalprice")
            .orderBy(F.col("o_totalprice").desc(), "o_orderkey").limit(10))


@q("topk_per_group", """
SELECT o_custkey, o_orderkey, o_totalprice FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) WHERE rn <= 3
""")
def topk_per_group(spark, sf):
    o = t(spark, sf, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    return (o.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 3)
            .select("o_custkey", "o_orderkey", "o_totalprice"))


# =========================================================================
# Set operations
# =========================================================================

@q("set_union", """
SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
UNION
SELECT c_custkey FROM customer WHERE c_acctbal > 5000
""")
def set_union(spark, sf):
    c = t(spark, sf, "customer")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = c.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    return a.unionByName(b).distinct()


@q("set_intersect", """
SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
INTERSECT
SELECT c_custkey FROM customer WHERE c_acctbal > 5000
""")
def set_intersect(spark, sf):
    c = t(spark, sf, "customer")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = c.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    return a.intersect(b)


@q("set_except", """
SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
EXCEPT
SELECT c_custkey FROM customer WHERE c_acctbal > 5000
""")
def set_except(spark, sf):
    c = t(spark, sf, "customer")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = c.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    return a.exceptAll(b).distinct()


@q("set_except_all", """
SELECT c_nationkey FROM customer
EXCEPT ALL
SELECT c_nationkey FROM customer WHERE c_acctbal > 5000
""")
def set_except_all(spark, sf):
    # bag semantics (multiplicities subtract, not collapse): the SQL
    # EXCEPT ALL / Spark exceptAll pair — a different operator from
    # set_except (hash-distinct) both logically and physically (the
    # plan counts duplicates per key instead of deduplicating). Sides
    # are all-customers minus the high-balance subset, so every nation
    # keeps a positive residue (its low-balance customer count).
    c = t(spark, sf, "customer")
    a = c.select("c_nationkey")
    b = c.filter(F.col("c_acctbal") > 5000).select("c_nationkey")
    return a.exceptAll(b)


@q("set_intersect_all", """
SELECT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'
INTERSECT ALL
SELECT c_nationkey FROM customer WHERE c_acctbal > 5000
""")
def set_intersect_all(spark, sf):
    c = t(spark, sf, "customer")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_nationkey")
    b = c.filter(F.col("c_acctbal") > 5000).select("c_nationkey")
    return a.intersectAll(b)


@q("agg_misc", """
SELECT event_type,
       bool_and(value >= 0) AS all_nonneg,
       bool_or(value > 990) AS any_huge,
       count_if(value > 500) AS n_big,
       min_by(event_id, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') ||
                        lpad(CAST(event_id AS VARCHAR), 12, '0'))
           AS first_event,
       max_by(event_id, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') ||
                        lpad(CAST(event_id AS VARCHAR), 12, '0'))
           AS last_event
FROM events GROUP BY event_type
""")
def agg_misc(spark, sf):
    # the long tail of aggregate functions a reference user reaches
    # for: bool_and/bool_or, count_if, min_by/max_by (argmin/argmax —
    # the "first event by time" idiom without a window). The by-key is
    # a fixed-width "timestamp.micros || event_id" string so
    # exact-timestamp collisions break ties identically in both
    # engines (structs aren't min_by-comparable in DuckDB, and casting
    # ts to string isn't width-stable across engines; zero-padded
    # strftime is). mode() was rejected here: near-uniform user
    # frequencies make its ties engine-dependent.
    e = t(spark, sf, "events")
    tie = F.concat(F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS"),
                   F.lpad(F.col("event_id").cast("string"), 12, "0"))
    return (e.groupBy("event_type")
            .agg(F.bool_and(F.col("value") >= 0).alias("all_nonneg"),
                 F.bool_or(F.col("value") > 990).alias("any_huge"),
                 F.count_if(F.col("value") > 500).alias("n_big"),
                 F.min_by("event_id", tie).alias("first_event"),
                 F.max_by("event_id", tie).alias("last_event")))


@q("ts_gapfill", """
WITH b AS (
  SELECT user_id,
         CAST(date_trunc('hour', min(ts)) AS TIMESTAMP) AS lo,
         CAST(date_trunc('hour', max(ts)) AS TIMESTAMP) AS hi
  FROM events WHERE user_id < 50 GROUP BY user_id
),
grid AS (
  SELECT user_id, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket
  FROM b
),
agg AS (
  SELECT user_id, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket,
         count(*) AS n
  FROM events WHERE user_id < 50 GROUP BY 1, 2
)
SELECT g.user_id, g.bucket, COALESCE(a.n, 0) AS n
FROM grid g LEFT JOIN agg a USING (user_id, bucket)
""")
def ts_gapfill(spark, sf):
    """Time-series regularization (gap fill): per-user hourly buckets
    from first to last activity, empty hours materialized as 0 — the
    resample/asfreq idiom feature pipelines need before windowed
    models. The dense grid is generated WITH sequence()+explode per
    user (no driver loop, no cross join against a global calendar —
    each user only materializes their own span), then one left join
    against the bucketed counts on the same (user, bucket) key."""
    e = t(spark, sf, "events").filter(F.col("user_id") < 50)
    b = (e.groupBy("user_id")
         .agg(F.date_trunc("hour", F.min("ts")).alias("lo"),
              F.date_trunc("hour", F.max("ts")).alias("hi")))
    grid = b.select(
        "user_id",
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR")))
        .alias("bucket"))
    agg = (e.groupBy("user_id", F.date_trunc("hour", "ts").alias("bucket"))
           .agg(F.count("*").alias("n")))
    return (grid.join(agg, ["user_id", "bucket"], "left")
            .select("user_id", "bucket",
                    F.coalesce("n", F.lit(0)).alias("n")))


@q("dedup_distinct", """
SELECT DISTINCT user_id, event_type FROM events
""")
def dedup_distinct(spark, sf):
    # dropDuplicates restricted to its key columns → deterministic
    return t(spark, sf, "events").select("user_id", "event_type").dropDuplicates()


# =========================================================================
# Scalar functions
# =========================================================================

@q("str_funcs", """
SELECT p_partkey,
       lower(p_name) AS lname,
       substr(p_name, 1, 5) AS head5,
       length(p_name) AS name_len,
       concat_ws('/', p_brand, p_type) AS brand_type,
       translate(p_brand, '#', '_') AS brand_t,
       trim(p_name) AS trimmed,
       lpad(CAST(p_size AS VARCHAR), 4, '0') AS size4
FROM part
""")
def str_funcs(spark, sf):
    p = t(spark, sf, "part")
    return p.select(
        "p_partkey",
        F.lower("p_name").alias("lname"),
        F.substring("p_name", 1, 5).alias("head5"),
        F.length("p_name").alias("name_len"),
        F.concat_ws("/", "p_brand", "p_type").alias("brand_type"),
        F.translate("p_brand", "#", "_").alias("brand_t"),
        F.trim("p_name").alias("trimmed"),
        F.lpad(F.col("p_size").cast("string"), 4, "0").alias("size4"))


@q("str_regexp", """
SELECT doc_id,
       regexp_extract(text, '([A-Za-z]+)', 1) AS first_word,
       length(regexp_replace(text, '[aeiou]', '', 'g')) AS no_vowel_len,
       array_length(regexp_split_to_array(text, '\\s+')) AS n_tokens
FROM documents WHERE text IS NOT NULL
""")
def str_regexp(spark, sf):
    # scan-parallelism guard: three whole-document regex passes, pure
    # map — a one-row-group input otherwise runs them on one core
    d = widen(spark, t(spark, sf, "documents")).filter(
        F.col("text").isNotNull())
    return d.select(
        "doc_id",
        F.regexp_extract("text", r"([A-Za-z]+)", 1).alias("first_word"),
        F.length(F.regexp_replace("text", "[aeiou]", "")).alias("no_vowel_len"),
        F.size(F.split("text", r"\s+")).alias("n_tokens"))


@q("date_funcs", """
SELECT o_orderkey,
       CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS omonth,
       CAST(EXTRACT(dow FROM o_orderdate) AS INT) AS dow,
       CAST(EXTRACT(year FROM o_orderdate) AS INT) AS oyear,
       o_orderdate + INTERVAL 3 MONTH AS plus3m,
       CAST(epoch(o_orderdate) AS BIGINT) AS epoch_s
FROM orders
""")
def date_funcs(spark, sf):
    o = t(spark, sf, "orders")
    return o.select(
        "o_orderkey",
        F.date_trunc("month", "o_orderdate").alias("omonth"),
        F.dayofweek("o_orderdate").alias("dow_spark"),
        F.year("o_orderdate").alias("oyear"),
        (F.col("o_orderdate") + F.expr("INTERVAL 3 MONTHS")).alias("plus3m"),
        F.unix_timestamp("o_orderdate").alias("epoch_s"),
    ).withColumn("dow", F.col("dow_spark") - 1).drop("dow_spark")


@q("math_funcs", """
SELECT l_orderkey, l_linenumber,
       ROUND(l_extendedprice, 0) AS r0,
       ABS(l_discount - 0.05) AS absd,
       ROUND(LN(l_extendedprice + 1), 6) AS lnp,
       ROUND(POW(l_quantity, 2), 2) AS qty2,
       ROUND(SQRT(l_quantity), 6) AS qsqrt,
       CAST(FLOOR(l_quantity / 10) AS BIGINT) AS qdecile
FROM lineitem
""")
def math_funcs(spark, sf):
    li = t(spark, sf, "lineitem")
    return li.select(
        "l_orderkey", "l_linenumber",
        F.round("l_extendedprice", 0).alias("r0"),
        F.abs(F.col("l_discount") - 0.05).alias("absd"),
        F.round(F.log(F.col("l_extendedprice") + 1), 6).alias("lnp"),
        F.round(F.pow("l_quantity", F.lit(2)), 2).alias("qty2"),
        F.round(F.sqrt("l_quantity"), 6).alias("qsqrt"),
        F.floor(F.col("l_quantity") / 10).cast("long").alias("qdecile"))


@q("array_funcs", """
SELECT doc_id, tok AS token
FROM (
  SELECT doc_id, unnest(list_sort(list_distinct(regexp_split_to_array(text, '\\s+')))) AS tok
  FROM documents WHERE text IS NOT NULL AND n_chars < 200
) WHERE tok <> ''
""")
def array_funcs(spark, sf):
    d = t(spark, sf, "documents").filter(F.col("text").isNotNull() & (F.col("n_chars") < 200))
    return (d.select("doc_id",
                     F.explode(F.array_sort(F.array_distinct(
                         F.split("text", r"\s+")))).alias("token"))
            .filter(F.col("token") != ""))


@q("array_higher_order", """
SELECT vec_id,
       ROUND(sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x))), 4) AS l2_norm,
       array_length(embedding) AS dim
FROM embeddings
""")
def array_higher_order(spark, sf):
    em = t(spark, sf, "embeddings")
    sq = F.aggregate(
        F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda a, x: a + x)
    return em.select("vec_id",
                     F.round(F.sqrt(sq), 4).alias("l2_norm"),
                     F.size("embedding").alias("dim"))


@q("map_funcs", """
SELECT event_id,
       json_extract_string(props, '$.k') AS k_str,
       1 AS n_keys
FROM events WHERE props IS NOT NULL
""")
def map_funcs(spark, sf):
    # JSON string → MapType → map_keys/element_at
    e = t(spark, sf, "events").filter(F.col("props").isNotNull())
    m = F.from_json("props", T.MapType(T.StringType(), T.StringType()))
    return e.select("event_id",
                    F.element_at(m, "k").alias("k_str"),
                    F.size(F.map_keys(m)).alias("n_keys"))


@q("json_funcs", """
SELECT event_id,
       CAST(json_extract(props, '$.k') AS BIGINT) AS k,
       CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS k_mod
FROM events WHERE props IS NOT NULL
""")
def json_funcs(spark, sf):
    e = t(spark, sf, "events").filter(F.col("props").isNotNull())
    k = F.get_json_object("props", "$.k").cast("long")
    return e.select("event_id", k.alias("k"), (k % 10).alias("k_mod"))


# =========================================================================
# Reshaping / sessionization / classic multi-join shapes
# =========================================================================

@q("pivot_wide", """
SELECT user_id,
       CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS click,
       CAST(count(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS view,
       CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchase
FROM events GROUP BY user_id
""")
def pivot_wide(spark, sf):
    # groupBy().pivot() with an explicit value list: one pass, no extra
    # shuffle vs plain groupBy (values enumerated, not discovered)
    e = t(spark, sf, "events")
    out = (e.groupBy("user_id")
           .pivot("event_type", ["click", "view", "purchase"])
           .count())
    for c in ("click", "view", "purchase"):
        out = out.withColumn(c, F.coalesce(F.col(c), F.lit(0)))
    return out


@q("unpivot_long", """
SELECT o_orderkey, 'total' AS measure, o_totalprice AS value FROM orders
UNION ALL
SELECT o_orderkey, 'key10' AS measure, CAST(o_custkey * 10 AS DOUBLE) AS value FROM orders
""")
def unpivot_long(spark, sf):
    # wide→long via stack (unpivot); no shuffle at all
    o = t(spark, sf, "orders").withColumn(
        "key10", (F.col("o_custkey") * 10).cast("double"))
    return o.selectExpr(
        "o_orderkey",
        "stack(2, 'total', o_totalprice, 'key10', key10) AS (measure, value)")


@q("sessionize_batch", """
WITH g AS (
  SELECT user_id, event_id, ts,
         CASE WHEN date_diff('second',
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                   ts) > 1800
              OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                 IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
)
SELECT user_id, event_id,
       CAST(sum(new_session) OVER (PARTITION BY user_id
            ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS session_id
FROM g
""")
def sessionize_batch(spark, sf):
    # batch sessionization: lag-gap flag + running sum (the classic
    # two-window composition; one shuffle on user_id reused by both)
    e = t(spark, sf, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    flag = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    run = W.partitionBy("user_id").orderBy("ts", "event_id") \
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    return (e.withColumn("new_session", flag)
            .withColumn("session_id",
                        F.sum("new_session").over(run).cast("long"))
            .select("user_id", "event_id", "session_id"))


@q("win_distribution", """
SELECT o_orderkey,
       ROUND(percent_rank() OVER (ORDER BY o_totalprice, o_orderkey), 8) AS prk,
       ROUND(cume_dist() OVER (ORDER BY o_totalprice, o_orderkey), 8) AS cdist
FROM orders
""")
def win_distribution(spark, sf):
    o = t(spark, sf, "orders")
    w = W.orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        F.round(F.percent_rank().over(w), 8).alias("prk"),
        F.round(F.cume_dist().over(w), 8).alias("cdist"))


@q("posexplode_tokens", """
SELECT doc_id, pos, token FROM (
  SELECT doc_id,
         CAST(unnest(range(len(toks))) AS INT) AS pos,
         unnest(toks) AS token
  FROM (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks
        FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0)
) WHERE token <> ''
""")
def posexplode_tokens(spark, sf):
    d = t(spark, sf, "documents").filter(
        F.col("text").isNotNull() & (F.length(F.trim("text")) > 0))
    return (d.select("doc_id", F.posexplode(words()).alias("pos", "token"))
            .filter(F.col("token") != ""))


@q("tpch_q3_shape", """
SELECT o.o_orderkey,
       ROUND(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,6))
                * CAST(1 - l.l_discount AS DECIMAL(12,6))) AS DOUBLE), 2)
           AS revenue,
       o.o_orderdate
FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1995-03-15'
  AND l.l_shipdate > TIMESTAMP '1995-03-15'
GROUP BY o.o_orderkey, o.o_orderdate
""")
def tpch_q3_shape(spark, sf):
    # the classic 3-way join + agg: dimension filters push below the
    # joins, the small filtered customer side broadcasts, lineitem (the
    # 100 TB fact) shuffles once on orderkey
    c = t(spark, sf, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = t(spark, sf, "orders").filter(F.col("o_orderdate") < "1995-03-15")
    li = t(spark, sf, "lineitem").filter(F.col("l_shipdate") > "1995-03-15")
    return (li.join(o, li.l_orderkey == o.o_orderkey)
            .join(F.broadcast(c), o.o_custkey == c.c_custkey)
            .groupBy("o_orderkey", "o_orderdate")
            .agg(F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,6)")
                               * (F.lit(1) - F.col("l_discount")).cast("decimal(12,6)"))
                         .cast("double"), 2).alias("revenue"))
            .select("o_orderkey", "revenue", "o_orderdate"))


@q("tpch_q5_shape", """
SELECT n.n_name,
       ROUND(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,6))
                * CAST(1 - l.l_discount AS DECIMAL(12,6))) AS DOUBLE), 2)
           AS revenue
FROM customer c
JOIN orders o   ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
JOIN nation n   ON s.s_nationkey = n.n_nationkey
JOIN region r   ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
GROUP BY n.n_name
""")
def tpch_q5_shape(spark, sf):
    # 6-way star join: region→nation→supplier chain stays broadcast-able
    # end to end; only the fact tables exchange. AQE + CBO reorder the
    # rest — declared, not hand-scheduled.
    c = t(spark, sf, "customer")
    # deliberate join strategy for the fact-fact leg (guide §3.1):
    # orders is far too big to broadcast at scale, but size ESTIMATES
    # at bench scale put it under the auto-broadcast threshold and the
    # single-threaded 1.5M-row broadcast build dominated the query
    # (measured 2.0 s -> 0.5 s at sf1.0). shuffle_hash pins the
    # strategy that is right at every scale; results are join-strategy
    # invariant.
    o = t(spark, sf, "orders").hint("shuffle_hash")
    li = t(spark, sf, "lineitem")
    s = t(spark, sf, "supplier")
    n = t(spark, sf, "nation")
    r = t(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    dim = (s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
           .join(F.broadcast(r), n.n_regionkey == r.r_regionkey))
    return (li.join(o, li.l_orderkey == o.o_orderkey)
            .join(c, o.o_custkey == c.c_custkey)
            .join(F.broadcast(dim), (li.l_suppkey == s.s_suppkey)
                  & (c.c_nationkey == s.s_nationkey))
            .groupBy("n_name")
            .agg(F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,6)")
                               * (F.lit(1) - F.col("l_discount")).cast("decimal(12,6)"))
                         .cast("double"), 2).alias("revenue")))


@q("agg_stats", """
SELECT event_type,
       ROUND(stddev_samp(value), 4) AS sd,
       ROUND(var_samp(value), 4) AS var,
       ROUND(corr(value, CAST(user_id AS DOUBLE)), 4) AS corr_uid,
       ROUND(min(value), 6) AS vmin,
       ROUND(max(value), 6) AS vmax
FROM events GROUP BY event_type
""")
def agg_stats(spark, sf):
    e = t(spark, sf, "events")
    return (e.groupBy("event_type")
            .agg(F.round(F.stddev_samp("value"), 4).alias("sd"),
                 F.round(F.var_samp("value"), 4).alias("var"),
                 F.round(F.corr("value", F.col("user_id").cast("double")), 4)
                  .alias("corr_uid"),
                 F.round(F.min("value"), 6).alias("vmin"),
                 F.round(F.max("value"), 6).alias("vmax")))


@q("set_union_all", """
SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
UNION ALL
SELECT c_custkey FROM customer WHERE c_acctbal > 5000
""")
def set_union_all(spark, sf):
    # bag-semantics union (duplicates preserved) — zero shuffle
    c = t(spark, sf, "customer")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = c.filter(F.col("c_acctbal") > 5000).select("c_custkey")
    return a.unionByName(b)


@q("win_nth_ignore_nulls", """
SELECT user_id, event_id,
       nth_value(value, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_v,
       lag(event_id, 2, -1) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS lag2_or_default
FROM events
""")
def win_nth_ignore_nulls(spark, sf):
    e = t(spark, sf, "events")
    wf = (W.partitionBy("user_id").orderBy("ts", "event_id")
          .rowsBetween(W.unboundedPreceding, W.unboundedFollowing))
    wl = W.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "user_id", "event_id",
        F.nth_value("value", 2).over(wf).alias("second_v"),
        F.lag("event_id", 2, -1).over(wl).alias("lag2_or_default"))


@q("scalar_misc", """
SELECT p_partkey,
       upper(substr(p_name, 1, 1)) || substr(lower(p_name), 2) AS capped,
       reverse(p_brand) AS rbrand,
       repeat('*', p_size % 5) AS stars,
       strpos(p_type, 'BRASS') AS brass_at,
       coalesce(nullif(p_brand, p_brand), p_type) AS coalesced
FROM part
""")
def scalar_misc(spark, sf):
    p = t(spark, sf, "part")
    return p.select(
        "p_partkey",
        F.concat(F.upper(F.substring("p_name", 1, 1)),
                 F.expr("substr(lower(p_name), 2)")).alias("capped"),
        F.reverse("p_brand").alias("rbrand"),
        F.repeat(F.lit("*"), F.col("p_size") % 5).alias("stars"),
        F.instr("p_type", "BRASS").alias("brass_at"),
        F.coalesce(F.nullif("p_brand", "p_brand"), F.col("p_type"))
         .alias("coalesced"))


@q("agg_conditional", """
SELECT l_returnflag,
       count(*) FILTER (WHERE l_quantity > 25) AS n_bulk,
       CAST(sum(l_quantity) FILTER (WHERE l_discount > 0.05) AS DOUBLE)
           AS qty_discounted,
       count(DISTINCT l_suppkey) FILTER (WHERE l_tax > 0.04) AS n_taxed_supp
FROM lineitem GROUP BY l_returnflag
""")
def agg_conditional(spark, sf):
    li = t(spark, sf, "lineitem")
    return (li.groupBy("l_returnflag")
            .agg(F.count(F.when(F.col("l_quantity") > 25, 1)).alias("n_bulk"),
                 F.sum(F.when(F.col("l_discount") > 0.05, F.col("l_quantity")))
                  .alias("qty_discounted"),
                 F.countDistinct(F.when(F.col("l_tax") > 0.04,
                                        F.col("l_suppkey")))
                  .alias("n_taxed_supp")))


@q("date_trunc_variants", """
SELECT o_orderkey,
       CAST(date_trunc('week', o_orderdate) AS TIMESTAMP) AS oweek,
       CAST(date_trunc('quarter', o_orderdate) AS TIMESTAMP) AS oquarter,
       CAST(last_day(CAST(o_orderdate AS DATE)) AS TIMESTAMP) AS month_end,
       CAST(EXTRACT(doy FROM o_orderdate) AS INT) AS doy
FROM orders
""")
def date_trunc_variants(spark, sf):
    o = t(spark, sf, "orders")
    return o.select(
        "o_orderkey",
        F.date_trunc("week", "o_orderdate").alias("oweek"),
        F.date_trunc("quarter", "o_orderdate").alias("oquarter"),
        F.last_day("o_orderdate").cast("timestamp").alias("month_end"),
        F.dayofyear("o_orderdate").alias("doy"))


@q("recursive_cte", """
WITH RECURSIVE chain(user_id, anc, depth) AS (
  SELECT DISTINCT user_id, user_id AS anc, 0 AS depth
  FROM events WHERE user_id < 64
  UNION ALL
  SELECT user_id, CAST(floor(anc / 2) AS BIGINT) AS anc, depth + 1 AS depth
  FROM chain WHERE anc > 0
)
SELECT user_id, max(depth) AS chain_len FROM chain GROUP BY user_id
""")
def recursive_cte(spark, sf):
    # WITH RECURSIVE (Spark 4): ancestor chain via successive halving
    # of the user id — each iteration is one self-referencing UNION ALL
    # step the engine unrolls until the working set is empty, the SQL
    # analog of the iter_pagerank loop. Identical text runs on DuckDB
    # (CAST(x/2 AS BIGINT) keeps integer halving engine-portable).
    t(spark, sf, "events").createOrReplaceTempView("events_rcte")
    return spark.sql("""
        WITH RECURSIVE chain(user_id, anc, depth) AS (
          SELECT DISTINCT user_id, user_id AS anc, 0 AS depth
          FROM events_rcte WHERE user_id < 64
          UNION ALL
          SELECT user_id, CAST(floor(anc / 2) AS BIGINT) AS anc, depth + 1 AS depth
          FROM chain WHERE anc > 0
        )
        SELECT user_id, max(depth) AS chain_len FROM chain GROUP BY user_id
    """)


@q("json_variant", """
SELECT event_id,
       CAST(json_extract(props, '$.k') AS BIGINT) AS k,
       json_extract_string(props, '$.k') IS NOT NULL AS has_k
FROM events WHERE props IS NOT NULL
""")
def json_variant(spark, sf):
    # the VARIANT type (Spark 4): parse once into the binary
    # semi-structured encoding, then typed variant_get extraction —
    # the modern replacement for repeated get_json_object string
    # parsing (one parse, shredded access). Oracle reads the same
    # values through DuckDB's JSON functions.
    e = t(spark, sf, "events").filter(F.col("props").isNotNull())
    return e.select(
        "event_id",
        F.expr("variant_get(parse_json(props), '$.k', 'bigint')").alias("k"),
        F.expr("variant_get(parse_json(props), '$.k', 'string') IS NOT NULL")
         .alias("has_k"))


@q("struct_nested", """
SELECT o_orderkey,
       {'cust': o_custkey, 'price': o_totalprice}.cust AS cust_from_struct,
       ROUND({'cust': o_custkey, 'price': o_totalprice}.price, 2) AS price_from_struct
FROM orders
""")
def struct_nested(spark, sf):
    o = t(spark, sf, "orders")
    st = F.struct(F.col("o_custkey").alias("cust"),
                  F.col("o_totalprice").alias("price"))
    return o.select("o_orderkey",
                    st["cust"].alias("cust_from_struct"),
                    F.round(st["price"], 2).alias("price_from_struct"))


# =========================================================================
# Event analytics (round 3 extension): the gaps-and-islands / cohort /
# funnel family a reference user runs over the events table. All are
# oracled; scale notes on each.
# =========================================================================

@q("gaps_islands", """
WITH seq AS (
  SELECT user_id, event_id, ts, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
  FROM events
), f AS (
  SELECT user_id, ts,
         rn - row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS island_key
  FROM seq WHERE value > 100
)
SELECT user_id, CAST(island_key AS BIGINT) AS island_key,
       count(*) AS n_run, min(ts) AS ts_start, max(ts) AS ts_end
FROM f GROUP BY user_id, island_key
""")
def gaps_islands(spark, sf):
    # classic gaps-and-islands: runs of consecutive high-value events
    # inside each user's full event sequence. Two row_numbers over the
    # SAME (user_id, ts, event_id) ordering — Catalyst evaluates both
    # windows plus the final groupBy inside ONE exchange on user_id
    # (window key prefix == agg key), so the 100 TB cost is a single
    # shuffle of the fact table.
    e = t(spark, sf, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.withColumn("rn", F.row_number().over(w))
    flagged = seq.filter(F.col("value") > 100)
    isl = (F.col("rn") - F.row_number().over(w)).cast("long")
    return (flagged.withColumn("island_key", isl)
            .groupBy("user_id", "island_key")
            .agg(F.count("*").alias("n_run"),
                 F.min("ts").alias("ts_start"),
                 F.max("ts").alias("ts_end")))


@q("retention_cohort", """
WITH firsts AS (
  SELECT user_id, CAST(date_trunc('week', min(ts)) AS TIMESTAMP) AS cohort_wk
  FROM events GROUP BY user_id
), activity AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS TIMESTAMP) AS active_wk
  FROM events
)
SELECT f.cohort_wk,
       CAST(datediff('day', f.cohort_wk, a.active_wk) / 7 AS INT) AS wk_offset,
       count(*) AS n_users
FROM firsts f JOIN activity a ON f.user_id = a.user_id
GROUP BY f.cohort_wk, wk_offset
""")
def retention_cohort(spark, sf):
    # weekly retention triangle: cohort = ISO week of a user's first
    # event, offset = weeks since. Both the firsts agg and the distinct
    # activity set hash-partition on user_id, so the join is
    # co-partitioned — one logical shuffle of the fact feeds all three
    # steps. The output is (weeks × weeks), tiny at any corpus size.
    e = t(spark, sf, "events")
    firsts = (e.groupBy("user_id")
              .agg(F.date_trunc("week", F.min("ts")).alias("cohort_wk")))
    activity = (e.select("user_id", F.date_trunc("week", "ts").alias("active_wk"))
                .distinct())
    return (activity.join(firsts, "user_id")
            .groupBy("cohort_wk",
                     (F.datediff("active_wk", "cohort_wk") / 7).cast("int")
                     .alias("wk_offset"))
            .agg(F.count("*").alias("n_users")))


@q("funnel_steps", """
WITH s AS (
  SELECT user_id, min(ts) AS t0 FROM events
  WHERE event_type = 'signup' GROUP BY user_id
), v AS (
  SELECT e.user_id, min(e.ts) AS t1 FROM events e JOIN s ON e.user_id = s.user_id
  WHERE e.event_type = 'view' AND e.ts > s.t0 GROUP BY e.user_id
), p AS (
  SELECT e.user_id, min(e.ts) AS t2 FROM events e JOIN v ON e.user_id = v.user_id
  WHERE e.event_type = 'purchase' AND e.ts > v.t1 GROUP BY e.user_id
)
SELECT (SELECT count(*) FROM s) AS n_signup,
       (SELECT count(*) FROM v) AS n_view_after,
       (SELECT count(*) FROM p) AS n_purchase_after
""")
def funnel_steps(spark, sf):
    # ordered conversion funnel signup → view → purchase: each stage is
    # min-ts-after-previous, i.e. a keyed join back to the fact plus a
    # conditional min. Every join and agg keys on user_id, so at 100 TB
    # this is (passes × one user_id shuffle); stage outputs shrink
    # monotonically (funnel property), so later passes join ever-smaller
    # sides — AQE converts them to broadcasts once they fit.
    e = t(spark, sf, "events")
    s = (e.filter(F.col("event_type") == "signup")
         .groupBy("user_id").agg(F.min("ts").alias("t0")))
    v = (e.filter(F.col("event_type") == "view")
         .join(s, "user_id").filter(F.col("ts") > F.col("t0"))
         .groupBy("user_id").agg(F.min("ts").alias("t1")))
    p = (e.filter(F.col("event_type") == "purchase")
         .join(v, "user_id").filter(F.col("ts") > F.col("t1"))
         .groupBy("user_id").agg(F.min("ts").alias("t2")))
    return (s.agg(F.count("*").alias("n_signup"))
            .crossJoin(v.agg(F.count("*").alias("n_view_after")))
            .crossJoin(p.agg(F.count("*").alias("n_purchase_after"))))


@q("subquery_scalar", """
SELECT o_orderkey,
       ROUND(o_totalprice - (SELECT avg(o_totalprice) FROM orders), 2)
           AS over_avg
FROM orders
WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
""")
def subquery_scalar(spark, sf):
    # scalar subquery through the SQL entry point: Catalyst plans the
    # two identical subqueries as ONE ReusedSubquery (a single agg job
    # whose scalar result is injected into filter + projection), so the
    # fact scans twice never — once for the scalar, once for the main
    # pass, both column-pruned to o_totalprice(+key).
    t(spark, sf, "orders").createOrReplaceTempView("orders_sq")
    return spark.sql("""
        SELECT o_orderkey,
               ROUND(o_totalprice - (SELECT avg(o_totalprice) FROM orders_sq), 2)
                   AS over_avg
        FROM orders_sq
        WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders_sq)
    """)


@q("join_interval_overlap", """
WITH c AS (
  SELECT user_id, min(ts) AS c_lo, max(ts) AS c_hi FROM events
  WHERE event_type = 'click' GROUP BY user_id
), p AS (
  SELECT user_id, min(ts) AS p_lo, max(ts) AS p_hi FROM events
  WHERE event_type = 'purchase' GROUP BY user_id
)
SELECT c.user_id, greatest(c_lo, p_lo) AS ov_start, least(c_hi, p_hi) AS ov_end
FROM c JOIN p ON c.user_id = p.user_id
WHERE c_lo <= p_hi AND p_lo <= c_hi
""")
def join_interval_overlap(spark, sf):
    # interval-overlap join, keyed: per-user click-activity interval vs
    # purchase-activity interval; the overlap predicate rides ON TOP of
    # the user_id equi-join, so the physical join stays a hash join at
    # any scale (the non-equi part is a post-join filter, never a
    # nested loop — contrast join_range, which demonstrates the
    # bucketed answer for UN-keyed interval joins).
    e = t(spark, sf, "events")
    c = (e.filter(F.col("event_type") == "click").groupBy("user_id")
         .agg(F.min("ts").alias("c_lo"), F.max("ts").alias("c_hi")))
    p = (e.filter(F.col("event_type") == "purchase").groupBy("user_id")
         .agg(F.min("ts").alias("p_lo"), F.max("ts").alias("p_hi")))
    return (c.join(p, "user_id")
            .filter((F.col("c_lo") <= F.col("p_hi"))
                    & (F.col("p_lo") <= F.col("c_hi")))
            .select("user_id",
                    F.greatest("c_lo", "p_lo").alias("ov_start"),
                    F.least("c_hi", "p_hi").alias("ov_end")))


@q("agg_histogram_bins", """
SELECT l_returnflag,
       CAST(least(floor(l_quantity / 10), 4) AS INT) AS qty_bin,
       count(*) AS n,
       ROUND(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE), 2)
           AS price_sum
FROM lineitem GROUP BY l_returnflag, qty_bin
""")
def agg_histogram_bins(spark, sf):
    # fixed-width histogram via arithmetic binning (portable where
    # width_bucket isn't): bin id is pure per-row math, so the whole
    # histogram is one partial-agg + one exchange of (flag × 5 bins)
    # tiny partials — the cheapest possible distribution profile of a
    # 100 TB fact column. Decimal-cast sum keeps the fold exact.
    li = t(spark, sf, "lineitem")
    return (li.groupBy("l_returnflag",
                       F.least(F.floor(F.col("l_quantity") / 10), F.lit(4))
                       .cast("int").alias("qty_bin"))
            .agg(F.count("*").alias("n"),
                 F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,6)"))
                         .cast("double"), 2).alias("price_sum")))


@q("agg_mode_deterministic", """
WITH cnt AS (
  SELECT user_id % 10 AS cohort, event_type, count(*) AS n
  FROM events GROUP BY cohort, event_type
)
SELECT cohort, event_type AS mode_type, n AS mode_n FROM (
  SELECT cohort, event_type, n,
         row_number() OVER (PARTITION BY cohort ORDER BY n DESC, event_type) AS r
  FROM cnt
) WHERE r = 1
""")
def agg_mode_deterministic(spark, sf):
    # mode() with engine-portable tie-breaking: native mode() is
    # nondeterministic under ties (rejected for agg_misc, see note
    # there); count + row_number(count DESC, key ASC) is the
    # deterministic idiom. Cost: one keyed agg over the fact, then a
    # window over the (cohorts × types) partials — negligible.
    e = t(spark, sf, "events")
    cnt = (e.groupBy((F.col("user_id") % 10).alias("cohort"), "event_type")
           .agg(F.count("*").alias("n")))
    w = W.partitionBy("cohort").orderBy(F.col("n").desc(), "event_type")
    return (cnt.withColumn("r", F.row_number().over(w))
            .filter(F.col("r") == 1)
            .select("cohort", F.col("event_type").alias("mode_type"),
                    F.col("n").alias("mode_n")))


# =========================================================================
# Round-3c additions: statistical aggregates, winsorized means, skyline,
# graph triangle counting, bitwise/boolean aggregates
# =========================================================================

@q("agg_regression", """
SELECT event_type,
       ROUND(regr_slope(value, CAST(user_id AS DOUBLE)), 8) AS slope,
       ROUND(regr_intercept(value, CAST(user_id AS DOUBLE)), 4) AS icept,
       ROUND(regr_r2(value, CAST(user_id AS DOUBLE)), 6) AS r2,
       ROUND(covar_samp(value, CAST(user_id AS DOUBLE)), 4) AS cov
FROM events
WHERE value IS NOT NULL AND user_id IS NOT NULL
GROUP BY event_type
""")
def agg_regression(spark, sf):
    """Per-group OLS regression + covariance (regr_slope/intercept/r2,
    covar_samp) — one-pass moment aggregates that combine map-side:
    each partition emits its (n, Σx, Σy, Σxy, Σx², Σy²) partials, the
    exchange carries only |groups| tiny rows. The scale-correct way to
    fit per-segment trends over a 100 TB fact table; rounding absorbs
    the summation-order ULP drift between engines (slope ~1e-4 → 8 dp,
    r2 ∈ [0,1] → 6 dp)."""
    e = t(spark, sf, "events").filter(
        F.col("value").isNotNull() & F.col("user_id").isNotNull())
    x = F.col("user_id").cast("double")
    return (e.groupBy("event_type")
            .agg(F.round(F.regr_slope("value", x), 8).alias("slope"),
                 F.round(F.regr_intercept("value", x), 4).alias("icept"),
                 F.round(F.regr_r2("value", x), 6).alias("r2"),
                 F.round(F.covar_samp("value", x), 4).alias("cov")))


@q("agg_winsorized", """
WITH bounds AS (
  SELECT l_returnflag,
         quantile_cont(l_extendedprice, 0.05) AS p05,
         quantile_cont(l_extendedprice, 0.95) AS p95
  FROM lineitem GROUP BY l_returnflag
)
SELECT l.l_returnflag,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(CASE WHEN l_extendedprice < p05 OR l_extendedprice > p95
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
       ROUND(avg(least(greatest(l_extendedprice, p05), p95)), 4)
           AS winsor_avg
FROM lineitem l JOIN bounds b ON l.l_returnflag = b.l_returnflag
GROUP BY l.l_returnflag
""")
def agg_winsorized(spark, sf):
    """Winsorized (p05/p95-clipped) mean per group — the robust-mean
    recipe for heavy-tailed fact columns. Two passes over the fact: an
    exact-percentile agg producing |groups| bound rows, broadcast back
    onto the fact (no fact shuffle for the join), then a clipped agg.

    The bounds pass compacts to (group, value, frequency) FIRST — a
    map-side-combinable count — and feeds percentile() its frequency
    argument: the percentile buffer is bounded by DISTINCT values per
    group, not rows (measured 2.33s vs 3.04s warm at 4x sf0.1, same
    numbers to the last digit; raw percentile buffers every row of a
    group in one aggregation state — the same unbounded-gather
    anti-pattern the LSH scanners had). At 100 TB, real prices/scores
    compact by orders of magnitude; if the column is truly continuous,
    swap in approx_percentile (sketch-merge). percentile()
    interpolation matches DuckDB quantile_cont (same linear rule,
    proven by agg_percentile)."""
    li = t(spark, sf, "lineitem")
    bounds = (li.groupBy("l_returnflag", "l_extendedprice")
              .agg(F.count("*").alias("fq"))
              .groupBy("l_returnflag")
              .agg(F.percentile("l_extendedprice", F.lit(0.05), F.col("fq"))
                   .alias("p05"),
                   F.percentile("l_extendedprice", F.lit(0.95), F.col("fq"))
                   .alias("p95")))
    j = li.join(F.broadcast(bounds), "l_returnflag")
    clipped = F.least(F.greatest(F.col("l_extendedprice"), F.col("p05")),
                      F.col("p95"))
    out_of = (F.col("l_extendedprice") < F.col("p05")) | \
             (F.col("l_extendedprice") > F.col("p95"))
    return (j.groupBy("l_returnflag")
            .agg(F.count("*").alias("n"),
                 F.sum(F.when(out_of, 1).otherwise(0)).cast("bigint")
                  .alias("n_clipped"),
                 F.round(F.avg(clipped), 4).alias("winsor_avg")))


@q("skyline_pareto", """
SELECT event_type, event_id, vq, ts
FROM (
  SELECT event_type, event_id, ts,
         CAST(floor(value * 100) AS BIGINT) AS vq
  FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
) e
WHERE NOT EXISTS (
  SELECT 1 FROM (
    SELECT event_type, ts,
           CAST(floor(value * 100) AS BIGINT) AS vq
    FROM events WHERE value IS NOT NULL AND ts IS NOT NULL
  ) d
  WHERE d.event_type = e.event_type AND d.vq > e.vq AND d.ts > e.ts
)
""")
def skyline_pareto(spark, sf):
    """Per-group 2-D skyline (Pareto frontier, strict dominance on
    quantized value × ts). The Spark plan is the O(n log n) sweep: one
    window ordered by vq DESC with a RANGE frame ending at 1 PRECEDING
    (= all strictly-greater vq) taking max(ts); a row survives iff no
    strictly-better-value row is also strictly later. The oracle is
    the O(n²) NOT-EXISTS definition — two different algorithms
    agreeing is the strongest parity check in the suite. At 100 TB the
    window is one shuffle on event_type (vs the quadratic self-join a
    naive port would ship); quantizing to BIGINT keeps the range frame
    and the dominance test engine-exact."""
    e = (t(spark, sf, "events")
         .filter(F.col("value").isNotNull() & F.col("ts").isNotNull())
         .select("event_type", "event_id", "ts",
                 F.floor(F.col("value") * 100).cast("bigint").alias("vq")))
    w = (W.partitionBy("event_type").orderBy(F.col("vq").desc())
         .rangeBetween(W.unboundedPreceding, -1))
    mx = F.max("ts").over(w)
    # dominated iff some strictly-greater-vq row is strictly later:
    # mx > ts. Keep on mx <= ts — an equal-ts row in the frame is NOT
    # a strict dominator (tie bug caught by the randomized property
    # test; real-data sweeps never exercise exact-ts ties across vq).
    return (e.withColumn("_mx", mx)
            .filter(F.col("_mx").isNull() | (F.col("_mx") <= F.col("ts")))
            .select("event_type", "event_id", "vq", "ts"))


@q("graph_triangle_count", """
WITH pair AS (
  SELECT DISTINCT a.l_orderkey,
         least(a.l_suppkey, b.l_suppkey) AS u,
         greatest(a.l_suppkey, b.l_suppkey) AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
), edges AS (
  SELECT DISTINCT u, v FROM pair
)
SELECT CAST((SELECT count(DISTINCT u) + count(DISTINCT v)
             FROM (SELECT u, v FROM edges) x) AS BIGINT) AS degree_ends,
       CAST((SELECT count(*) FROM edges) AS BIGINT) AS n_edges,
       CAST((SELECT count(*)
             FROM edges e1
             JOIN edges e2 ON e1.v = e2.u
             JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v) AS BIGINT)
           AS n_triangles
""")
def graph_triangle_count(spark, sf):
    """Triangle counting on the supplier co-occurrence graph (suppliers
    sharing an order, edges oriented u<v). The orientation is the
    classic skew bound: each triangle is counted exactly once via its
    lowest vertex, and wedge generation fans out from the *ordered*
    adjacency so high-degree hubs don't square. Two shuffles (edge
    dedup, wedge-close join); at 100 TB orient by degree instead of id
    (compute degrees first) to cap the worst wedge fan-out, and
    broadcast nothing — both join sides are edge-shaped."""
    li = t(spark, sf, "lineitem").select("l_orderkey", "l_suppkey")
    a, b = li.alias("a"), li.alias("b")
    pair = (a.join(b, (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
                   & (F.col("a.l_suppkey") < F.col("b.l_suppkey")))
            .select(F.col("a.l_suppkey").alias("u"),
                    F.col("b.l_suppkey").alias("v")))
    # edges is consumed by four joins/aggs with DIFFERENT keys, so
    # ReuseExchange can't help (each consumer wants its own hash
    # partitioning) — persist the deduped edge set or the pair-gen
    # self-join recomputes per consumer (measured 53.6s → 12.8s at
    # sf0.1). Edge sets are the small output of the heavy step; at
    # 100 TB persist to MEMORY_AND_DISK or materialize to a table.
    edges = pair.distinct().persist()
    e1, e2, e3 = edges.alias("e1"), edges.alias("e2"), edges.alias("e3")
    tri = (e1.join(e2, F.col("e1.v") == F.col("e2.u"))
           .join(e3, (F.col("e3.u") == F.col("e1.u"))
                 & (F.col("e3.v") == F.col("e2.v")))
           .agg(F.count("*").cast("bigint").alias("n_triangles")))
    stats = edges.agg(
        (F.countDistinct("u") + F.countDistinct("v")).cast("bigint")
        .alias("degree_ends"),
        F.count("*").cast("bigint").alias("n_edges"))
    # one lazy plan: two 1-row aggregates cross-joined (AQE reuses the
    # deduped-edges exchange across both consumers; no driver collect)
    return stats.crossJoin(tri)


@q("agg_bitwise", """
SELECT event_type,
       CAST(bit_and(event_id) AS BIGINT) AS b_and,
       CAST(bit_or(event_id) AS BIGINT) AS b_or,
       CAST(bit_xor(event_id) AS BIGINT) AS b_xor,
       bool_and(value > 1.0) AS all_gt1,
       bool_or(value > 90.0) AS any_gt90
FROM events WHERE value IS NOT NULL
GROUP BY event_type
""")
def agg_bitwise(spark, sf):
    """Bitwise AND/OR/XOR and boolean ALL/ANY aggregates — integer- and
    boolean-exact (no float drift possible), fully map-side-combinable.
    bit_xor over ids doubles as a cheap order-insensitive set
    fingerprint for partition-level reconciliation at 100 TB (same
    trick the driver's own value-hash uses)."""
    e = t(spark, sf, "events").filter(F.col("value").isNotNull())
    return (e.groupBy("event_type")
            .agg(F.bit_and("event_id").cast("bigint").alias("b_and"),
                 F.bit_or("event_id").cast("bigint").alias("b_or"),
                 F.bit_xor("event_id").cast("bigint").alias("b_xor"),
                 F.bool_and(F.col("value") > 1.0).alias("all_gt1"),
                 F.bool_or(F.col("value") > 90.0).alias("any_gt90")))


@q("ts_ohlc", """
WITH b AS (
  SELECT user_id, date_trunc('hour', ts) AS bucket, value, event_id,
         row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                            ORDER BY ts, event_id) AS rn_a,
         row_number() OVER (PARTITION BY user_id, date_trunc('hour', ts)
                            ORDER BY ts DESC, event_id DESC) AS rn_d
  FROM events WHERE value IS NOT NULL
)
SELECT user_id, bucket,
       ROUND(min(CASE WHEN rn_a = 1 THEN value END), 6) AS open,
       ROUND(max(value), 6) AS high,
       ROUND(min(value), 6) AS low,
       ROUND(min(CASE WHEN rn_d = 1 THEN value END), 6) AS close,
       CAST(count(*) AS BIGINT) AS n
FROM b GROUP BY user_id, bucket
""")
def ts_ohlc(spark, sf):
    """Time-bucket downsampling to OHLC bars (open/high/low/close per
    user × hour) — the canonical telemetry/price rollup. Open/close
    are first/last by (ts, event_id) — the deterministic tiebreak the
    as-of family uses; min_by/max_by were rejected because DuckDB's
    reject struct by-keys and ties are engine-dependent (FIXTURES
    trap). One window + one agg, both keyed by (user, bucket): the
    window rides the same exchange as the final groupBy (EnsureReqs
    reuses it), so the whole rollup is a single shuffle of the fact —
    at 100 TB that's the floor for any bucketed resample."""
    e = t(spark, sf, "events").filter(F.col("value").isNotNull())
    b = e.select("user_id", F.date_trunc("hour", "ts").alias("bucket"),
                 "value", "event_id", "ts")
    pw = W.partitionBy("user_id", "bucket")
    asc = pw.orderBy("ts", "event_id")
    desc = pw.orderBy(F.col("ts").desc(), F.col("event_id").desc())
    b = (b.withColumn("rn_a", F.row_number().over(asc))
          .withColumn("rn_d", F.row_number().over(desc)))
    return (b.groupBy("user_id", "bucket")
            .agg(F.round(F.min(F.when(F.col("rn_a") == 1, F.col("value"))), 6)
                  .alias("open"),
                 F.round(F.max("value"), 6).alias("high"),
                 F.round(F.min("value"), 6).alias("low"),
                 F.round(F.min(F.when(F.col("rn_d") == 1, F.col("value"))), 6)
                  .alias("close"),
                 F.count("*").cast("bigint").alias("n")))


@q("win_share_of_total", """
SELECT event_type, event_id,
       ROUND(value / sum(value) OVER (PARTITION BY event_type), 8)
           AS share,
       ROUND(value / sum(value) OVER (), 8) AS share_all
FROM events WHERE value IS NOT NULL AND value > 0
""")
def win_share_of_total(spark, sf):
    """Share-of-total (ratio_to_report): each row's fraction of its
    group's sum and of the grand total. Unbounded-window sums combine
    per-partition partials, so the group window is one exchange on
    event_type; the grand-total window is a single-partition fold — at
    100 TB replace it with a scalar agg broadcast back (same result,
    no 1-partition bottleneck); here it doubles as a test that both
    engines fold the same order after rounding (8 dp absorbs ULP)."""
    e = t(spark, sf, "events").filter(
        F.col("value").isNotNull() & (F.col("value") > 0))
    wt = W.partitionBy("event_type")
    wa = W.partitionBy()
    return e.select(
        "event_type", "event_id",
        F.round(F.col("value") / F.sum("value").over(wt), 8).alias("share"),
        F.round(F.col("value") / F.sum("value").over(wa), 8)
         .alias("share_all"))


@q("emb_norm_stats", """
WITH n AS (
  SELECT label,
         ROUND(sqrt(list_sum(list_transform(embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4)
             AS nrm
  FROM embeddings
)
SELECT label,
       CAST(count(*) AS BIGINT) AS n_vecs,
       ROUND(avg(nrm), 4) AS avg_norm,
       ROUND(min(nrm), 4) AS min_norm,
       ROUND(max(nrm), 4) AS max_norm
FROM n GROUP BY label
""")
def emb_norm_stats(spark, sf):
    """Per-label L2-norm profile of the embedding column — the sanity
    scan before any ANN/dedup pass (catches unnormalized or degenerate
    vectors). The norm is a JVM higher-order fold (aggregate over the
    float array, double accumulator — same left-to-right order DuckDB's
    list_sum uses, so the pre-round values agree to the ULP); per-vec
    norms round to 4 dp BEFORE the group stats so the group fold works
    on identical inputs in both engines. Map-side combinable agg, one
    tiny exchange of |labels| rows."""
    em = t(spark, sf, "embeddings")
    nrm = F.round(F.sqrt(F.aggregate(
        "embedding", F.lit(0.0),
        lambda acc, x: acc + x.cast("double") * x.cast("double"))), 4)
    n = em.select("label", nrm.alias("nrm"))
    return (n.groupBy("label")
            .agg(F.count("*").cast("bigint").alias("n_vecs"),
                 F.round(F.avg("nrm"), 4).alias("avg_norm"),
                 F.round(F.min("nrm"), 4).alias("min_norm"),
                 F.round(F.max("nrm"), 4).alias("max_norm")))


@q("ts_ewma", """
WITH o AS (
  SELECT user_id, event_id, value,
         CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
              AS DOUBLE) AS rn
  FROM events WHERE value IS NOT NULL
)
SELECT user_id, event_id,
       ROUND(
         (sum(value * pow(0.9, -rn))
            OVER (PARTITION BY user_id ORDER BY rn
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          * pow(0.9, rn))
         /
         (sum(pow(0.9, -rn))
            OVER (PARTITION BY user_id ORDER BY rn
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          * pow(0.9, rn)), 4) AS ewma
FROM o
""")
def ts_ewma(spark, sf):
    """Exponentially-weighted moving average per user (α=0.9,
    adjust-normalized — pandas ewm semantics) as a pure JVM
    closed-form: y_i = Σ α^(i-j) x_j / Σ α^(i-j), computed via two
    running sums of α^(-j)-scaled terms rescaled by α^i. No Python,
    one window exchange. The α^(-j) terms grow as the history does —
    α=0.9 overflows double at rn ≈ 6,726, so a raise_error guard
    fires LOUDLY past rn 6,500 instead of silently emitting Inf/NaN;
    for the unbounded 10^12-turn regime use ts_ewma_blocked
    (dataops.py): 2048-row blocks + a lag-1 block carry, exact to
    double precision at ANY history length, no guard needed. The oracle
    runs the SAME closed form, so both engines fold identical terms
    in identical order — string-exact after 4 dp."""
    e = t(spark, sf, "events").filter(F.col("value").isNotNull())
    rn = F.row_number().over(
        W.partitionBy("user_id").orderBy("ts", "event_id")).cast("double")
    o = e.select("user_id", "event_id", "value", rn.alias("rn"))
    wf = (W.partitionBy("user_id").orderBy("rn")
          .rowsBetween(W.unboundedPreceding, W.currentRow))
    num = F.sum(F.col("value") * F.pow(F.lit(0.9), -F.col("rn"))).over(wf) \
        * F.pow(F.lit(0.9), F.col("rn"))
    den = F.sum(F.pow(F.lit(0.9), -F.col("rn"))).over(wf) \
        * F.pow(F.lit(0.9), F.col("rn"))
    ewma = F.when(F.col("rn") <= 6500, F.round(num / den, 4)).otherwise(
        F.raise_error(F.lit(
            "ts_ewma: per-key history exceeds the double-safe closed-form "
            "bound (rn > 6500); switch to the blocked two-pass form")))
    return o.select("user_id", "event_id", ewma.alias("ewma"))


@q("win_rolling_median", """
SELECT user_id, event_id,
       ROUND(median(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 6) AS med5,
       CAST(count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS BIGINT) AS n5
FROM events WHERE value IS NOT NULL
""")
def win_rolling_median(spark, sf):
    """Rolling 5-row median per user — the robust smoother for noisy
    telemetry (median resists the spikes EWMA follows). Spark bars
    ordered-set aggregates (median/percentile) from window FRAMES, so
    the median is computed from a bounded collect_list over the frame:
    sort the ≤5-element array and interpolate (mean of the middle pair
    when even) — O(frame log frame) per row, one window exchange on
    user_id, all JVM. The frame bound is what makes the gather safe;
    an unbounded collect_list over a running frame would be the
    LSH-gather anti-pattern."""
    e = t(spark, sf, "events").filter(F.col("value").isNotNull())
    w = (W.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(-4, W.currentRow))
    arr = F.array_sort(F.collect_list("value").over(w))
    sz = F.size(arr)
    half = F.floor(sz / 2).cast("int")
    mid = F.element_at(arr, half + 1)            # odd: the middle
    even = (F.element_at(arr, half) + F.element_at(arr, half + 1)) / 2
    med = F.when(sz % 2 == 1, mid).otherwise(even)
    return e.select("user_id", "event_id",
                    F.round(med, 6).alias("med5"),
                    sz.cast("bigint").alias("n5"))


@q("event_transition_matrix", """
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS prev_type
  FROM events
)
SELECT prev_type, event_type AS next_type,
       CAST(count(*) AS BIGINT) AS n,
       ROUND(CAST(count(*) AS DOUBLE) /
             CAST(sum(count(*)) OVER (PARTITION BY prev_type) AS DOUBLE), 6)
           AS p_next
FROM seq WHERE prev_type IS NOT NULL
GROUP BY prev_type, event_type
""")
def event_transition_matrix(spark, sf):
    """First-order Markov transition matrix over per-user event
    sequences: counts and conditional next-event probabilities. One
    window exchange on user_id builds the (prev, next) pairs, then a
    map-side-combinable count whose partials are |types|² tiny rows;
    the row-normalizing window runs over those partials, not the fact.
    The behavioral-analytics shape (and the bigram-LM shape: swap
    event_type for token) that a naive port would build with a
    self-join on adjacent row ids — lag() is the O(n) plan."""
    e = t(spark, sf, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    seq = e.select("user_id", "event_type",
                   F.lag("event_type").over(w).alias("prev_type"))
    cnt = (seq.filter(F.col("prev_type").isNotNull())
           .groupBy("prev_type", F.col("event_type").alias("next_type"))
           .agg(F.count("*").cast("bigint").alias("n")))
    wn = W.partitionBy("prev_type")
    return cnt.select(
        "prev_type", "next_type", "n",
        F.round(F.col("n").cast("double")
                / F.sum("n").over(wn).cast("double"), 6).alias("p_next"))


@q("ab_welch_t", """
WITH g AS (
  SELECT event_type, user_id % 2 AS variant,
         CAST(count(*) AS BIGINT) AS n,
         avg(value) AS m,
         var_samp(value) AS v
  FROM events WHERE value IS NOT NULL
  GROUP BY event_type, variant
)
SELECT a.event_type,
       a.n AS n_a, b.n AS n_b,
       ROUND(a.m, 4) AS mean_a, ROUND(b.m, 4) AS mean_b,
       ROUND((a.m - b.m) /
             sqrt(a.v / a.n + b.v / b.n), 4) AS welch_t
FROM g a JOIN g b
  ON a.event_type = b.event_type AND a.variant = 0 AND b.variant = 1
""")
def ab_welch_t(spark, sf):
    """A/B experiment readout with Welch's t statistic per metric
    segment (variant = user_id parity — the deterministic stand-in
    for an assignment column). The input scan collapses to
    (segment × variant) moment partials map-side; the self-join runs
    over those few rows, so the whole analysis costs one fact
    exchange regardless of corpus size. Welch's t = (m_a - m_b) /
    sqrt(v_a/n_a + v_b/n_b) is pure arithmetic over the partials —
    identical in both engines after rounding."""
    e = t(spark, sf, "events").filter(F.col("value").isNotNull())
    g = (e.groupBy("event_type", (F.col("user_id") % 2).alias("variant"))
         .agg(F.count("*").cast("bigint").alias("n"),
              F.avg("value").alias("m"),
              F.var_samp("value").alias("v")))
    a = g.filter(F.col("variant") == 0).alias("a")
    b = g.filter(F.col("variant") == 1).alias("b")
    return (a.join(b, F.col("a.event_type") == F.col("b.event_type"))
            .select(F.col("a.event_type").alias("event_type"),
                    F.col("a.n").alias("n_a"), F.col("b.n").alias("n_b"),
                    F.round(F.col("a.m"), 4).alias("mean_a"),
                    F.round(F.col("b.m"), 4).alias("mean_b"),
                    F.round((F.col("a.m") - F.col("b.m"))
                            / F.sqrt(F.col("a.v") / F.col("a.n")
                                     + F.col("b.v") / F.col("b.n")), 4)
                    .alias("welch_t")))


@q("agg_percentile_disc", """
SELECT l_returnflag,
       quantile_disc(l_extendedprice, 0.25) AS q25,
       quantile_disc(l_extendedprice, 0.5) AS q50,
       quantile_disc(l_extendedprice, 0.9) AS q90
FROM lineitem GROUP BY l_returnflag
""")
def agg_percentile_disc(spark, sf):
    """Discrete percentiles (the value AT the quantile position, no
    interpolation — what you want when the column is categorical-ish
    prices or latencies and an interpolated value would be fictitious).
    Exact by definition (a real data value, no float synthesis), so no
    rounding is needed for parity. Same buffer caveat as any exact
    quantile: at 100 TB use the frequency-weighted compaction of
    agg_winsorized or approx_percentile."""
    li = t(spark, sf, "lineitem")
    return (li.groupBy("l_returnflag")
            .agg(F.expr("percentile_disc(0.25) WITHIN GROUP"
                        " (ORDER BY l_extendedprice)").alias("q25"),
                 F.expr("percentile_disc(0.5) WITHIN GROUP"
                        " (ORDER BY l_extendedprice)").alias("q50"),
                 F.expr("percentile_disc(0.9) WITHIN GROUP"
                        " (ORDER BY l_extendedprice)").alias("q90")))


@q("win_cumulative_distinct", """
WITH f AS (
  SELECT user_id, event_id, ts, event_type,
         CASE WHEN row_number() OVER (PARTITION BY user_id, event_type
                                      ORDER BY ts, event_id) = 1
              THEN 1 ELSE 0 END AS first_seen
  FROM events
)
SELECT user_id, event_id,
       CAST(sum(first_seen) OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
           AS distinct_types_so_far
FROM f
""")
def win_cumulative_distinct(spark, sf):
    """Cumulative distinct count over an ordered stream (how many
    distinct event types has this user produced so far). Windows
    support no DISTINCT aggregate, and collect_set over a running
    frame would re-materialize the set per row — the scalable idiom is
    two windows: flag each (user, type)'s FIRST occurrence with
    row_number, then running-sum the flags. Both windows hash on
    user_id(+type), so the plan is two exchanges of flag-sized rows —
    O(n) state, no per-row sets, at any history length."""
    e = t(spark, sf, "events")
    wf = W.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    wr = (W.partitionBy("user_id").orderBy("ts", "event_id")
          .rowsBetween(W.unboundedPreceding, W.currentRow))
    f = e.withColumn(
        "first_seen",
        F.when(F.row_number().over(wf) == 1, 1).otherwise(0))
    return f.select("user_id", "event_id",
                    F.sum("first_seen").over(wr).cast("bigint")
                    .alias("distinct_types_so_far"))


@q("seq_pattern_count", """
WITH seq AS (
  SELECT user_id,
         string_agg(event_type, ',' ORDER BY ts, event_id) AS s
  FROM events GROUP BY user_id
)
SELECT user_id,
       CAST(array_length(regexp_extract_all(s,
            'click,view,purchase')) AS BIGINT) AS n_patterns,
       CAST((length(s) - length(replace(s, 'purchase', ''))) / 8
            AS BIGINT) AS n_purchase
FROM seq
""")
def seq_pattern_count(spark, sf):
    """Sequence-pattern counting (MATCH_RECOGNIZE lite): serialize each
    user's ordered event-type stream to a string once, then count
    regex occurrences of the behavioral pattern click→view→purchase.
    One exchange (the ordered per-user gather — bounded by history
    length, the sessionize caveat applies) and the matching is a
    single JVM regexp pass per user instead of an k-way self-join over
    adjacent rows. The deterministic ordered string_agg idiom is the
    one agg_collect_sorted proved engine-portable."""
    e = t(spark, sf, "events")
    seq = (e.groupBy("user_id")
           .agg(F.array_join(
               F.array_sort(F.collect_list(F.struct(
                   "ts", "event_id", "event_type"))).getField("event_type"),
               ",").alias("s")))
    n_pat = F.size(F.expr(
        "regexp_extract_all(s, 'click,view,purchase', 0)")).cast("bigint")
    n_pur = ((F.length("s") - F.length(F.replace(F.col("s"),
                                                 F.lit("purchase"), F.lit(""))))
             / 8).cast("bigint")
    return seq.select("user_id", n_pat.alias("n_patterns"),
                      n_pur.alias("n_purchase"))


@q("join_asof_nearest", """
WITH cand AS (
  SELECT p.event_id AS purchase_id, c.event_id AS click_id,
         abs(epoch(c.ts) - epoch(p.ts)) AS d,
         CASE WHEN c.ts <= p.ts THEN 0 ELSE 1 END AS dir,
         CASE WHEN c.ts <= p.ts THEN -c.event_id ELSE c.event_id END AS tb
  FROM events p JOIN events c
    ON c.user_id = p.user_id AND c.event_type = 'click'
  WHERE p.event_type = 'purchase'
)
SELECT purchase_id, click_id, ROUND(d, 6) AS dist_s FROM (
  SELECT purchase_id, click_id, d,
         row_number() OVER (PARTITION BY purchase_id
                            ORDER BY d, dir, tb) AS rn
  FROM cand
) WHERE rn = 1
""")
def join_asof_nearest(spark, sf):
    """Nearest-neighbor as-of (closest click in EITHER direction; ties
    prefer the backward match — kdb's `aj` nearest mode / pandas
    merge_asof(direction='nearest')). Same union-merge shape as
    join_asof: ONE shuffle + ONE ordered pass computes the latest
    prior click (last ignore-nulls over the preceding frame) AND the
    earliest later click (first ignore-nulls over the following frame
    of the same sort), then picks per-row by absolute distance — no
    pair materialization, unlike the oracle's quadratic
    candidates+rank definition. Same-ts clicks sort before the
    purchase (side 0 < 1), so they land in the backward frame with
    max-event-id tiebreak, exactly the oracle's (d, dir, tb) order.
    Distances compare as epoch doubles (micros exact below 2^53)."""
    e = t(spark, sf, "events")
    clicks = (e.filter(F.col("event_type") == "click")
              .select("user_id", "ts", "event_id", F.lit(0).alias("side"),
                      F.struct(F.col("ts").alias("cts"),
                               F.col("event_id").alias("cid")).alias("pack")))
    purch = (e.filter(F.col("event_type") == "purchase")
             .select("user_id", "ts", "event_id", F.lit(1).alias("side"),
                     F.lit(None).cast("struct<cts:timestamp,cid:bigint>")
                     .alias("pack")))
    u = clicks.unionByName(purch)
    ob = W.partitionBy("user_id").orderBy("ts", "side", "event_id")
    wb = ob.rowsBetween(W.unboundedPreceding, W.currentRow)
    wf = ob.rowsBetween(W.currentRow, W.unboundedFollowing)
    back = F.last("pack", ignorenulls=True).over(wb)
    fwd = F.first("pack", ignorenulls=True).over(wf)
    # windows must see the WHOLE union (clicks + purchases); filter
    # to purchase rows only after they're computed
    x = (u.select(F.col("event_id").alias("purchase_id"), "side",
                  F.col("ts").cast("timestamp").cast("double")
                  .alias("pts"),
                  back.alias("b"), fwd.alias("f"))
         .filter(F.col("side") == 1))
    # NTZ won't cast to double; via TIMESTAMP under the UTC-pinned
    # session = the same naive-epoch seconds DuckDB's epoch() computes
    db = F.abs(F.col("b.cts").cast("timestamp").cast("double")
               - F.col("pts"))
    df_ = F.abs(F.col("f.cts").cast("timestamp").cast("double")
                - F.col("pts"))
    use_back = F.col("f").isNull() | (F.col("b").isNotNull() & (db <= df_))
    return (x.filter(F.col("b").isNotNull() | F.col("f").isNotNull())
            .select("purchase_id",
                    F.when(use_back, F.col("b.cid")).otherwise(F.col("f.cid"))
                    .alias("click_id"),
                    F.round(F.when(use_back, db).otherwise(df_), 6)
                    .alias("dist_s")))


@q("join_spatial_grid", """
WITH p AS (
  SELECT vec_id, ROUND(CAST(embedding[1] AS DOUBLE), 4) AS x,
         ROUND(CAST(embedding[2] AS DOUBLE), 4) AS y
  FROM embeddings
)
SELECT a.vec_id AS a_id, b.vec_id AS b_id,
       ROUND(sqrt((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y)), 6) AS dist
FROM p a JOIN p b ON a.vec_id < b.vec_id
WHERE (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 0.02*0.02
""")
def join_spatial_grid(spark, sf):
    """Epsilon-neighborhood spatial self-join (all point pairs within
    ε=0.02 in the first two embedding dims) via grid bucketing — the
    canonical distributed spatial join. Each point gets an integer
    cell (floor(x/ε), floor(y/ε)); one side replicates to its 3×3
    neighborhood, the equi-join on cell ids finds every candidate
    exactly once (a's home cell is unique and b's nine replica cells
    are distinct — no post-dedup), and the exact distance check prunes
    the corner cases. Cost: 9× replication of ONE side + an equi-join
    on ~uniform cell keys, versus the oracle's O(n²) pair scan — the
    same bucket-then-verify shape as the LSH dedup family, here with a
    geometric guarantee instead of a probabilistic one. The oracle IS
    the quadratic definition: two different algorithms agreeing."""
    return _spatial_pairs(spark, sf)


def _spatial_pairs(spark, sf):
    """Grid-bucketed ε-pair table (a_id < b_id, dist ≤ 0.02) shared by
    join_spatial_grid, dbscan_core_points and knn_within_eps."""
    em = t(spark, sf, "embeddings")
    p = em.select("vec_id",
                  F.round(F.element_at("embedding", 1).cast("double"), 4)
                  .alias("x"),
                  F.round(F.element_at("embedding", 2).cast("double"), 4)
                  .alias("y"))
    # integer cells: 1/eps = 50 exactly, so cell math is float-safe
    cells = p.select("vec_id", "x", "y",
                     F.floor(F.col("x") * 50).cast("long").alias("cx"),
                     F.floor(F.col("y") * 50).cast("long").alias("cy"))
    a = cells.select(F.col("vec_id").alias("a_id"),
                     F.col("x").alias("ax"), F.col("y").alias("ay"),
                     "cx", "cy")
    b = (cells.select(F.col("vec_id").alias("b_id"),
                      F.col("x").alias("bx"), F.col("y").alias("by"),
                      "cx", "cy")
         .withColumn("dx", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))))
         .withColumn("dy", F.explode(F.array(F.lit(-1), F.lit(0), F.lit(1))))
         .select("b_id", "bx", "by",
                 (F.col("cx") + F.col("dx")).alias("rcx"),
                 (F.col("cy") + F.col("dy")).alias("rcy")))
    d2 = ((F.col("ax") - F.col("bx")) * (F.col("ax") - F.col("bx"))
          + (F.col("ay") - F.col("by")) * (F.col("ay") - F.col("by")))
    return (a.join(b, (F.col("cx") == F.col("rcx"))
                   & (F.col("cy") == F.col("rcy"))
                   & (F.col("a_id") < F.col("b_id")))
            .filter(d2 <= F.lit(0.02 * 0.02))
            .select("a_id", "b_id", F.round(F.sqrt(d2), 6).alias("dist")))


@q("dbscan_core_points", """
WITH p AS (
  SELECT vec_id, ROUND(CAST(embedding[1] AS DOUBLE), 4) AS x,
         ROUND(CAST(embedding[2] AS DOUBLE), 4) AS y
  FROM embeddings
), pairs AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id
  FROM p a JOIN p b ON a.vec_id < b.vec_id
  WHERE (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 0.02*0.02
), sym AS (
  SELECT a_id AS vec_id FROM pairs
  UNION ALL
  SELECT b_id FROM pairs
)
SELECT vec_id, CAST(count(*) AS BIGINT) AS n_neighbors
FROM sym GROUP BY vec_id HAVING count(*) >= 4
""")
def dbscan_core_points(spark, sf):
    """DBSCAN's core-point step (points with ≥ minPts=4 neighbors
    within ε) on top of the grid-bucketed pair table: symmetrize the
    a<b pairs with a cheap union, count per point, threshold. The
    full DBSCAN then follows with machinery the repo already has —
    connected components over core-core edges (dedup_materialize's
    pointer-jumping CC) — so this key is the missing primitive, not a
    toy. Same subquadratic candidate generation as join_spatial_grid;
    the oracle recomputes neighborhoods from the O(n²) definition."""
    pairs = _spatial_pairs(spark, sf)
    sym = (pairs.select(F.col("a_id").alias("vec_id"))
           .unionAll(pairs.select(F.col("b_id").alias("vec_id"))))
    return (sym.groupBy("vec_id")
            .agg(F.count("*").cast("bigint").alias("n_neighbors"))
            .filter(F.col("n_neighbors") >= 4))


@q("knn_within_eps", """
WITH p AS (
  SELECT vec_id, ROUND(CAST(embedding[1] AS DOUBLE), 4) AS x,
         ROUND(CAST(embedding[2] AS DOUBLE), 4) AS y
  FROM embeddings
), pairs AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         ROUND(sqrt((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y)), 6) AS dist
  FROM p a JOIN p b ON a.vec_id < b.vec_id
  WHERE (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 0.02*0.02
), sym AS (
  SELECT a_id AS vec_id, b_id AS nb, dist FROM pairs
  UNION ALL
  SELECT b_id, a_id, dist FROM pairs
)
SELECT vec_id, nb, dist FROM (
  SELECT vec_id, nb, dist,
         row_number() OVER (PARTITION BY vec_id ORDER BY dist, nb) AS rn
  FROM sym
) WHERE rn <= 3
""")
def knn_within_eps(spark, sf):
    """Bounded k-nearest-neighbors (k=3 within ε): symmetrized spatial
    pairs ranked per point by (dist, id) — deterministic tiebreak —
    keeping the top 3. The window runs over the PAIR table (already
    ε-pruned and near-uniform on the grid), not the point set, so
    state per key is the neighborhood size, not n. The ANN analog for
    metric spaces where LSH is overkill and an ε cutoff is natural."""
    pairs = _spatial_pairs(spark, sf)
    sym = (pairs.select(F.col("a_id").alias("vec_id"),
                        F.col("b_id").alias("nb"), "dist")
           .unionAll(pairs.select(F.col("b_id").alias("vec_id"),
                                  F.col("a_id").alias("nb"), "dist")))
    w = W.partitionBy("vec_id").orderBy("dist", "nb")
    return (sym.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 3).select("vec_id", "nb", "dist"))


@q("dbscan_clusters", """
WITH RECURSIVE p AS (
  SELECT vec_id, ROUND(CAST(embedding[1] AS DOUBLE), 4) AS x,
         ROUND(CAST(embedding[2] AS DOUBLE), 4) AS y
  FROM embeddings
), pairs AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id
  FROM p a JOIN p b ON a.vec_id < b.vec_id
  WHERE (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 0.02*0.02
), sym AS (
  SELECT a_id AS u, b_id AS v FROM pairs
  UNION ALL SELECT b_id, a_id FROM pairs
), core AS (
  SELECT u AS vec_id FROM sym GROUP BY u HAVING count(*) >= 4
), ce AS (   -- core-core edges, both directions
  SELECT s.u, s.v FROM sym s
  JOIN core c1 ON s.u = c1.vec_id JOIN core c2 ON s.v = c2.vec_id
), lp AS (   -- label propagation to transitive closure (set semantics)
  SELECT vec_id AS v, vec_id AS lbl FROM core
  UNION
  SELECT ce.v, lp.lbl FROM lp JOIN ce ON ce.u = lp.v
), lab AS (
  SELECT v AS vec_id, min(lbl) AS cluster FROM lp GROUP BY v
)
SELECT vec_id, cluster, TRUE AS is_core FROM lab
UNION ALL
SELECT s.u AS vec_id, min(l.cluster) AS cluster, FALSE AS is_core
FROM sym s JOIN lab l ON s.v = l.vec_id
WHERE s.u NOT IN (SELECT vec_id FROM core)
GROUP BY s.u
""")
def dbscan_clusters(spark, sf):
    """Full DBSCAN (ε=0.02, minPts=4) assembled from the repo's own
    primitives: grid-bucketed ε-pairs → core points → connected
    components over core-core edges (the pointer-jumping CC that
    powers dedup_materialize — O(log diameter) rounds) → border points
    attach to the MINIMUM core-neighbor label (deterministic, so the
    whole clustering is engine-comparable; noise points are simply
    absent). Cluster id = min vec_id in the core component, the same
    canonical-representative rule the dedup family uses. The oracle
    recomputes the closure with a RECURSIVE label-propagation CTE —
    an iterative distributed algorithm checked against a recursive
    query, like pack_sequences_nextfit."""
    from ocrflow.dataops import connected_components

    pairs = _spatial_pairs(spark, sf).select("a_id", "b_id")
    sym = (pairs.select(F.col("a_id").alias("u"), F.col("b_id").alias("v"))
           .unionAll(pairs.select(F.col("b_id").alias("u"),
                                  F.col("a_id").alias("v"))))
    core = (sym.groupBy("u").agg(F.count("*").alias("n"))
            .filter(F.col("n") >= 4).select(F.col("u").alias("vec_id")))
    ce = (sym.join(core.withColumnRenamed("vec_id", "u"), "u")
          .join(core.withColumnRenamed("vec_id", "v"), "v")
          .select("u", "v"))
    cc = connected_components(ce, src="u", dst="v")   # (id, comp)
    lab = (core.join(cc, core.vec_id == cc.id, "left")
           .select(core.vec_id,
                   F.coalesce("comp", core.vec_id).alias("cluster")))
    core_rows = lab.select("vec_id", "cluster",
                           F.lit(True).alias("is_core"))
    border = (sym.join(core.select(F.col("vec_id").alias("u")), "u",
                       "left_anti")
              .join(lab.withColumnRenamed("vec_id", "v"), "v")
              .groupBy("u")
              .agg(F.min("cluster").alias("cluster"))
              .select(F.col("u").alias("vec_id"), "cluster",
                      F.lit(False).alias("is_core")))
    return core_rows.unionByName(border)


@q("interval_merge", """
WITH iv AS (
  SELECT user_id, event_id, epoch(ts) AS s, epoch(ts) + 300.0 AS e
  FROM events
), m AS (
  SELECT user_id, event_id, s, e,
         max(e) OVER (PARTITION BY user_id ORDER BY s, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             AS prev_max_e
  FROM iv
), isl AS (
  SELECT user_id, s, e,
         CAST(sum(CASE WHEN prev_max_e IS NULL OR s > prev_max_e
                       THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id ORDER BY s, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS island
  FROM m
), per_island AS (
  SELECT user_id, island, max(e) - min(s) AS covered
  FROM isl GROUP BY user_id, island
)
SELECT user_id,
       CAST(count(*) AS BIGINT) AS n_intervals,
       ROUND(sum(covered), 6) AS covered_s
FROM per_island GROUP BY user_id
""")
def interval_merge(spark, sf):
    """Merge overlapping intervals per key (each event opens a 5-minute
    window; touching/overlapping windows coalesce) and report merged
    count + total covered seconds — the classic availability/uptime
    rollup. The merge is the running-max-end sweep: an interval starts
    a new island iff its start exceeds every previous end, islands are
    the running sum of those flags — one window exchange, O(n) state,
    versus the interval self-join a naive port would write. Epoch
    seconds go through the TIMESTAMP cast (NTZ→double under the UTC
    session = DuckDB's epoch())."""
    e = t(spark, sf, "events")
    iv = e.select("user_id", "event_id",
                  F.col("ts").cast("timestamp").cast("double").alias("s"))
    iv = iv.withColumn("e", F.col("s") + 300.0)
    ob = W.partitionBy("user_id").orderBy("s", "event_id")
    prev_max = F.max("e").over(ob.rowsBetween(W.unboundedPreceding, -1))
    m = iv.withColumn("prev_max_e", prev_max)
    new_isl = F.when(F.col("prev_max_e").isNull()
                     | (F.col("s") > F.col("prev_max_e")), 1).otherwise(0)
    isl = m.withColumn(
        "island",
        F.sum(new_isl).over(ob.rowsBetween(W.unboundedPreceding,
                                           W.currentRow)).cast("bigint"))
    per = (isl.groupBy("user_id", "island")
           .agg((F.max("e") - F.min("s")).alias("covered")))
    return (per.groupBy("user_id")
            .agg(F.count("*").cast("bigint").alias("n_intervals"),
                 F.round(F.sum("covered"), 6).alias("covered_s")))


@q("scd2_build", """
WITH o AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS prev_type
  FROM events
), chg AS (
  SELECT user_id, event_type AS state, ts AS valid_from, event_id
  FROM o WHERE prev_type IS NULL OR event_type <> prev_type
)
SELECT user_id, state, valid_from,
       coalesce(lead(valid_from) OVER (PARTITION BY user_id
                                       ORDER BY valid_from, event_id),
                TIMESTAMP '2200-01-01 00:00:00') AS valid_to,
       CAST(row_number() OVER (PARTITION BY user_id
                               ORDER BY valid_from, event_id) AS BIGINT)
           AS version
FROM chg
""")
def scd2_build(spark, sf):
    """Build a type-2 slowly-changing dimension from a change stream:
    collapse consecutive identical states (lag-based change detection),
    then open/close validity windows with lead() — valid_to of one
    version is the next version's valid_from, the current version
    closes at the sentinel high date. Two windows on the same
    (user_id, order) key, so EnsureRequirements plans ONE exchange; a
    naive port would self-join the stream to find "next change". This
    is how a 100 TB event log becomes the point-in-time dimension that
    join_asof then probes."""
    e = t(spark, sf, "events")
    ob = W.partitionBy("user_id").orderBy("ts", "event_id")
    o = e.withColumn("prev_type", F.lag("event_type").over(ob))
    chg = (o.filter(F.col("prev_type").isNull()
                    | (F.col("event_type") != F.col("prev_type")))
           .select("user_id", F.col("event_type").alias("state"),
                   F.col("ts").alias("valid_from"), "event_id"))
    ob2 = W.partitionBy("user_id").orderBy("valid_from", "event_id")
    return chg.select(
        "user_id", "state", "valid_from",
        F.coalesce(F.lead("valid_from").over(ob2),
                   F.lit("2200-01-01 00:00:00").cast("timestamp_ntz"))
        .alias("valid_to"),
        F.row_number().over(ob2).cast("bigint").alias("version"))


@q("agg_grouping_id", """
SELECT coalesce(l_returnflag, '<all>') AS flag,
       coalesce(l_linestatus, '<all>') AS status,
       CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT)
           AS gid,
       CAST(count(*) AS BIGINT) AS n
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
""")
def agg_grouping_id(spark, sf):
    """GROUPING SETS with grouping() labels: the gid column
    distinguishes a real NULL group key from a rolled-up one — the
    disambiguation every BI layer needs over super-aggregate rows.
    Same single-pass expand+agg plan as agg_grouping_sets; the labels
    are free (they ride the grouping-set id Spark already carries)."""
    li = t(spark, sf, "lineitem")
    return (li.groupingSets(
        [[F.col("l_returnflag"), F.col("l_linestatus")],
         [F.col("l_returnflag")], []],
        F.col("l_returnflag"), F.col("l_linestatus"))
        .agg((F.grouping("l_returnflag") * 2
              + F.grouping("l_linestatus")).cast("bigint").alias("gid"),
             F.count("*").cast("bigint").alias("n"))
        .select(F.coalesce("l_returnflag", F.lit("<all>")).alias("flag"),
                F.coalesce("l_linestatus", F.lit("<all>")).alias("status"),
                "gid", "n"))


@q("join_point_in_time", """
WITH o AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS prev_type
  FROM events
), chg AS (
  SELECT user_id, event_type AS state, ts AS valid_from, event_id
  FROM o WHERE prev_type IS NULL OR event_type <> prev_type
), dim AS (
  SELECT user_id, state, valid_from,
         coalesce(lead(valid_from) OVER (PARTITION BY user_id
                                         ORDER BY valid_from, event_id),
                  TIMESTAMP '2200-01-01 00:00:00') AS valid_to
  FROM chg
)
SELECT e.event_id, d.state AS state_at_event
FROM events e JOIN dim d
  ON e.user_id = d.user_id
 AND d.valid_from <= e.ts AND e.ts < d.valid_to
""")
def join_point_in_time(spark, sf):
    """Point-in-time join (the feature-store correctness pattern): each
    event picks up the SCD2 dimension version valid AT its timestamp —
    never a later one (no training-serving leakage). The dimension is
    the scd2_build output (collapsed change points, orders of
    magnitude smaller than the event log), so it BROADCASTS and the
    fact side never shuffles; validity windows partition time, so each
    event matches exactly one version. At 100 TB with a dimension too
    big to broadcast, fall back to the union-merge as-of (join_asof) —
    same semantics, one sorted pass."""
    e = t(spark, sf, "events")
    dim = QUERIES["scd2_build"](spark, sf).select(
        "user_id", "state", "valid_from", "valid_to")
    return (e.join(F.broadcast(dim),
                   (e.user_id == dim.user_id)
                   & (dim.valid_from <= e.ts) & (e.ts < dim.valid_to))
            .select("event_id", F.col("state").alias("state_at_event")))


@q("cohort_overlap", """
SELECT event_type,
       CAST(count(DISTINCT CASE WHEN ts < TIMESTAMP '2024-01-16'
                                THEN user_id END) AS BIGINT) AS n_early,
       CAST(count(DISTINCT CASE WHEN ts >= TIMESTAMP '2024-01-16'
                                THEN user_id END) AS BIGINT) AS n_late,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_union,
       ROUND(CAST(count(DISTINCT CASE WHEN ts < TIMESTAMP '2024-01-16'
                                      THEN user_id END)
                  + count(DISTINCT CASE WHEN ts >= TIMESTAMP '2024-01-16'
                                        THEN user_id END)
                  - count(DISTINCT user_id) AS DOUBLE)
             / CAST(count(DISTINCT user_id) AS DOUBLE), 6) AS jaccard
FROM events GROUP BY event_type
""")
def cohort_overlap(spark, sf):
    """Audience overlap between two periods per segment: distinct
    users early, late, union, and the Jaccard |A∩B|/|A∪B| — computed
    in ONE pass with conditional distinct counts (|A∩B| falls out by
    inclusion-exclusion, no self-join of user sets). Spark expands
    multi-distinct aggs via a single grouped expand, so the cost is
    one fact shuffle regardless of how many periods are compared; the
    retention/churn readout at any scale. Exact integer arithmetic;
    the ratio rounds identically in both engines."""
    e = t(spark, sf, "events")
    split = F.lit("2024-01-16").cast("timestamp_ntz")
    early = F.countDistinct(
        F.when(F.col("ts") < split, F.col("user_id"))).cast("bigint")
    late = F.countDistinct(
        F.when(F.col("ts") >= split, F.col("user_id"))).cast("bigint")
    uni = F.countDistinct("user_id").cast("bigint")
    return (e.groupBy("event_type")
            .agg(early.alias("n_early"), late.alias("n_late"),
                 uni.alias("n_union"),
                 F.round((early + late - uni).cast("double")
                         / uni.cast("double"), 6).alias("jaccard")))


@q("win_autocorr", """
WITH o AS (
  SELECT user_id, event_id, ts, value,
         lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS prev_value
  FROM events WHERE value IS NOT NULL
)
SELECT user_id, event_id,
       ROUND(corr(value, prev_value)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 19 PRECEDING AND CURRENT ROW), 4) + 0.0
           AS autocorr20,
       CAST(count(prev_value)
            OVER (PARTITION BY user_id ORDER BY ts, event_id
                  ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS BIGINT)
           AS n_pairs
FROM o
""")
def win_autocorr(spark, sf):
    """Rolling lag-1 autocorrelation over a trailing 20-row frame per
    user — the online signal for 'has this metric become sticky/
    trending'. Two stacked windows on the SAME (user, order) key (lag
    pairing, then a frame-bounded corr over the pairs) ride one
    exchange; the frame bound caps per-row state at 20 pairs of
    moments. corr over ≤20 doubles folds in frame order on both
    engines — 4 dp absorbs the tail ULP; the trailing + 0.0 folds
    IEEE negative zero into positive zero, which the engines would
    otherwise RENDER differently ('-0.0' vs '0.0') despite equal
    values (string-exact-compare trap, see FIXTURES)."""
    e = t(spark, sf, "events").filter(F.col("value").isNotNull())
    ob = W.partitionBy("user_id").orderBy("ts", "event_id")
    o = e.withColumn("prev_value", F.lag("value").over(ob))
    wf = ob.rowsBetween(-19, W.currentRow)
    return o.select(
        "user_id", "event_id",
        (F.round(F.corr("value", "prev_value").over(wf), 4) + F.lit(0.0))
        .alias("autocorr20"),
        F.count("prev_value").over(wf).cast("bigint").alias("n_pairs"))


@q("sample_k_per_group", """
SELECT event_type, event_id, user_id FROM (
  SELECT event_type, event_id, user_id,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY md5(CAST(event_id AS VARCHAR)),
                                     event_id) AS rn
  FROM events
) WHERE rn <= 10
""")
def sample_k_per_group(spark, sf):
    """Exactly-k deterministic sample per group: rank rows inside each
    group by the md5 of their id (an engine-portable pseudo-random
    order — the sample_stratified trick) and keep the first k. Unlike
    fraction-based sampling, the output size is exact, and unlike
    rand(), the pick is stable across engines, retries, and partition
    layouts — the property a reproducible eval split needs. One window
    exchange on the group key."""
    e = t(spark, sf, "events")
    w = W.partitionBy("event_type").orderBy(
        F.md5(F.col("event_id").cast("string")), "event_id")
    return (e.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 10)
            .select("event_type", "event_id", "user_id"))


@q("explode_outer_semantics", """
WITH d AS (
  SELECT doc_id,
         CASE WHEN doc_id % 7 = 0 THEN []
              ELSE regexp_split_to_array(trim(text), '\\s+')[1:3] END AS arr
  FROM documents WHERE text IS NOT NULL AND length(trim(text)) > 0
)
SELECT d.doc_id, u.w, u.pos
FROM d LEFT JOIN LATERAL (
  SELECT unnest(arr) AS w,
         CAST(generate_subscripts(arr, 1) AS BIGINT) - 1 AS pos
) u ON TRUE
ORDER BY doc_id, pos
""")
def explode_outer_semantics(spark, sf):
    """OUTER explode semantics: rows whose array is EMPTY survive with
    a NULL element instead of vanishing — the difference between
    explode (inner-join-like, silently drops empties) and
    posexplode_outer (left-join-like). Curation pipelines hit this
    constantly: a doc with zero extracted spans must still reach the
    audit table. The oracle spells the same semantics as DuckDB's
    LEFT JOIN LATERAL unnest. Narrow plan: one generator node, no
    shuffle."""
    d = (t(spark, sf, "documents")
         .filter(F.col("text").isNotNull() & (F.length(F.trim("text")) > 0))
         .select("doc_id",
                 F.when(F.col("doc_id") % 7 == 0,
                        F.array().cast("array<string>"))
                 .otherwise(F.slice(words(), 1, 3))
                 .alias("arr")))
    return (d.select("doc_id",
                     F.posexplode_outer("arr").alias("pos", "w"))
            .select("doc_id", "w", F.col("pos").cast("bigint").alias("pos")))


@q("set_union_by_name", """
SELECT * FROM (
  SELECT o_orderkey AS k, o_totalprice AS price, NULL AS qty
  FROM orders WHERE o_orderkey % 10 = 0
  UNION ALL BY NAME
  SELECT l_quantity AS qty, l_orderkey AS k
  FROM lineitem WHERE l_orderkey % 10 = 1 AND l_linenumber = 1
)
""")
def set_union_by_name(spark, sf):
    """Schema-evolving union: two frames with different column sets
    and ORDERS combine by NAME, absent columns null-filling
    (unionByName(allowMissingColumns=True) — DuckDB's UNION ALL BY
    NAME). This is the batch face of the manifest-planned schema
    evolution icelite does on read: old and new snapshots of an
    evolving table union without positional accidents. Pure narrow
    op — no shuffle, the projections align at plan time."""
    o = (t(spark, sf, "orders").filter(F.col("o_orderkey") % 10 == 0)
         .select(F.col("o_orderkey").alias("k"),
                 F.col("o_totalprice").alias("price"),
                 F.lit(None).cast("double").alias("qty")))
    li = (t(spark, sf, "lineitem")
          .filter((F.col("l_orderkey") % 10 == 1)
                  & (F.col("l_linenumber") == 1))
          .select(F.col("l_quantity").alias("qty"),
                  F.col("l_orderkey").alias("k")))
    return o.unionByName(li, allowMissingColumns=True)


@q("pivot_multi_agg", """
SELECT l_returnflag,
       CAST(sum(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END) AS BIGINT)
           AS F_n,
       ROUND(CAST(sum(CASE WHEN l_linestatus = 'F'
                 THEN CAST(l_extendedprice AS DECIMAL(18,6)) END)
             AS DOUBLE), 2) AS F_price,
       CAST(sum(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END) AS BIGINT)
           AS O_n,
       ROUND(CAST(sum(CASE WHEN l_linestatus = 'O'
                 THEN CAST(l_extendedprice AS DECIMAL(18,6)) END)
             AS DOUBLE), 2) AS O_price
FROM lineitem GROUP BY l_returnflag
""")
def pivot_multi_agg(spark, sf):
    """Pivot with MULTIPLE aggregates per pivoted value (count AND
    price sum per line status) — one pass, one exchange: Spark's
    pivot().agg(a, b) compiles to exactly the conditional-aggregate
    expansion the oracle spells out, so wide-format reporting never
    needs per-column self-joins. Explicit value list keeps the output
    schema static (no extra distinct-values job at plan time);
    decimal-cast money sums fold exactly (the agg_hash discipline)."""
    li = t(spark, sf, "lineitem")
    p = (li.groupBy("l_returnflag")
         .pivot("l_linestatus", ["F", "O"])
         .agg(F.count(F.lit(1)).cast("bigint").alias("n"),
              F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,6)"))
                      .cast("double"), 2).alias("price")))
    return p.select("l_returnflag",
                    F.col("F_n"), F.col("F_price"),
                    F.col("O_n"), F.col("O_price"))


@q("agg_quantile_bands", """
WITH b AS (
  SELECT event_type, value,
         ntile(5) OVER (PARTITION BY event_type
                        ORDER BY value, event_id) AS band
  FROM events WHERE value IS NOT NULL
)
SELECT event_type, CAST(band AS BIGINT) AS band,
       CAST(count(*) AS BIGINT) AS n,
       ROUND(min(value), 6) AS lo,
       ROUND(max(value), 6) AS hi,
       ROUND(avg(value), 4) AS mean
FROM b GROUP BY event_type, band
""")
def agg_quantile_bands(spark, sf):
    """Equal-frequency binning (quintile bands per segment) with
    per-band stats — the feature-bucketing / monotonic-binning step of
    a feature pipeline. ntile assigns exact equal-count bands in one
    window pass (deterministic with the (value, event_id) tiebreak);
    the rollup rides the same exchange. Contrast with
    agg_histogram_bins (equal-WIDTH, pure per-row math, no window) —
    both shapes belong in the toolbox and they share no code."""
    e = t(spark, sf, "events").filter(F.col("value").isNotNull())
    w = W.partitionBy("event_type").orderBy("value", "event_id")
    b = e.withColumn("band", F.ntile(5).over(w))
    return (b.groupBy("event_type", F.col("band").cast("bigint").alias("band"))
            .agg(F.count("*").cast("bigint").alias("n"),
                 F.round(F.min("value"), 6).alias("lo"),
                 F.round(F.max("value"), 6).alias("hi"),
                 F.round(F.avg("value"), 4).alias("mean")))


@q("segment_clicks_no_purchase", """
WITH clickers AS (
  SELECT user_id, count(*) AS n_clicks,
         ROUND(avg(value), 4) AS avg_click_value
  FROM events WHERE event_type = 'click' AND value IS NOT NULL
  GROUP BY user_id HAVING count(*) >= 3
)
SELECT c.user_id, CAST(c.n_clicks AS BIGINT) AS n_clicks,
       c.avg_click_value
FROM clickers c
WHERE NOT EXISTS (SELECT 1 FROM events p
                  WHERE p.user_id = c.user_id
                    AND p.event_type = 'purchase'
                    AND p.ts >= TIMESTAMP '2024-01-28')
""")
def segment_clicks_no_purchase(spark, sf):
    """Behavioral segment: engaged recent non-converters (≥3 clicks
    ever, zero purchases in the trailing window) — the churn-risk /
    retargeting audience query. Composition: filtered agg → LEFT ANTI join against the
    purchaser keys. The anti side is distinct user_ids only (tiny),
    so it BROADCASTS; at 100 TB this is a broadcast anti-join against
    a distinct-keys frame, never a shuffle of the fact."""
    e = t(spark, sf, "events")
    clickers = (e.filter((F.col("event_type") == "click")
                         & F.col("value").isNotNull())
                .groupBy("user_id")
                .agg(F.count("*").cast("bigint").alias("n_clicks"),
                     F.round(F.avg("value"), 4).alias("avg_click_value"))
                .filter(F.col("n_clicks") >= 3))
    purchasers = (e.filter((F.col("event_type") == "purchase")
                           & (F.col("ts")
                              >= F.lit("2024-01-28").cast("timestamp_ntz")))
                  .select("user_id").distinct())
    return clickers.join(F.broadcast(purchasers), "user_id", "left_anti")


@q("win_streak_longest", """
WITH d AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS day
  FROM events
), g AS (
  SELECT user_id, day,
         day - CAST(row_number() OVER (PARTITION BY user_id ORDER BY day)
                    AS INTEGER) AS grp
  FROM d
), s AS (
  SELECT user_id, count(*) AS streak FROM g GROUP BY user_id, grp
)
SELECT user_id, CAST(max(streak) AS BIGINT) AS longest_streak,
       CAST(count(*) AS BIGINT) AS n_streaks
FROM s GROUP BY user_id
""")
def win_streak_longest(spark, sf):
    """Longest consecutive-day activity streak per user (and how many
    distinct streaks) — the engagement metric. The date-minus-
    row_number trick labels each run of consecutive days with a
    constant key in ONE window pass (the gaps-islands idiom applied to
    calendar days), then two cheap rollups; no self-join, no
    recursion. Distinct-day dedup first keeps the window linear in
    active days, not raw events."""
    e = t(spark, sf, "events")
    d = (e.select("user_id",
                  F.date_trunc("day", "ts").cast("date").alias("day"))
         .distinct())
    w = W.partitionBy("user_id").orderBy("day")
    g = d.withColumn(
        "grp", F.date_sub("day", F.row_number().over(w)))
    s = g.groupBy("user_id", "grp").agg(F.count("*").alias("streak"))
    return (s.groupBy("user_id")
            .agg(F.max("streak").cast("bigint").alias("longest_streak"),
                 F.count("*").cast("bigint").alias("n_streaks")))


@q("tpch_q6_shape", """
SELECT ROUND(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))
                     * CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE), 2)
           AS revenue,
       CAST(count(*) AS BIGINT) AS n
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""")
def tpch_q6_shape(spark, sf):
    """TPC-H Q6 shape — the canonical selective scan-aggregate: three
    pushable range predicates and a two-column product sum, no joins,
    no grouping. The whole query is one FileScan with PushedFilters +
    a partial-agg fold; at 100 TB this is the query where predicate
    pushdown and column pruning ARE the runtime (a full-width scan
    reads 11 columns; this plan reads 4 and skips row groups via
    parquet min/max). Decimal product sum folds exactly — the money
    discipline."""
    li = t(spark, sf, "lineitem")
    f = li.filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp_ntz"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp_ntz"))
        & F.col("l_discount").between(0.05, 0.07)
        & (F.col("l_quantity") < 24))
    return f.agg(
        F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,6)")
                      * F.col("l_discount").cast("decimal(18,6)"))
                .cast("double"), 2).alias("revenue"),
        F.count("*").cast("bigint").alias("n"))


@q("agg_collect_set_sorted", """
SELECT user_id,
       list_sort(list_distinct(list(event_type))) AS types,
       CAST(len(list_distinct(list(event_type))) AS INT) AS n_types
FROM events GROUP BY user_id
""")
def agg_collect_set_sorted(spark, sf):
    """Distinct-set aggregation with deterministic rendering:
    collect_set's element order is partitioning-dependent (a
    string-compare trap), so the set is SORTED before leaving the
    query — the idiom any engine-portable set-valued aggregate needs
    (agg_collect_sorted's rule applied to sets). Map-side combinable;
    set size bounded by the category cardinality, not rows."""
    e = t(spark, sf, "events")
    return (e.groupBy("user_id")
            .agg(F.array_sort(F.collect_set("event_type")).alias("types"),
                 F.size(F.collect_set("event_type")).alias("n_types")))


@q("ts_time_weighted_avg", """
WITH o AS (
  SELECT user_id, value, epoch(ts) AS s,
         lead(epoch(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS next_s
  FROM events WHERE value IS NOT NULL
)
SELECT user_id,
       ROUND(sum(value * (next_s - s)) / sum(next_s - s), 4) AS twap,
       CAST(count(*) AS BIGINT) AS n_segments
FROM o WHERE next_s IS NOT NULL
GROUP BY user_id
""")
def ts_time_weighted_avg(spark, sf):
    """Time-weighted average (TWAP): each reading holds until the next
    one, so its weight is the interval it covered — the correct mean
    for irregularly-sampled telemetry/prices, where the plain avg
    over-counts bursts. lead() pairs the intervals in one window pass
    (same exchange as the per-user agg); the last open-ended reading
    is excluded (no duration). Weighted sums fold as doubles — the
    ratio rounds identically after 4 dp."""
    e = t(spark, sf, "events").filter(F.col("value").isNotNull())
    ob = W.partitionBy("user_id").orderBy("ts", "event_id")
    s = F.col("ts").cast("timestamp").cast("double")
    o = (e.withColumn("s", s)
         .withColumn("next_s", F.lead("s").over(ob))
         .filter(F.col("next_s").isNotNull()))
    dur = F.col("next_s") - F.col("s")
    return (o.groupBy("user_id")
            .agg(F.round(F.sum(F.col("value") * dur) / F.sum(dur), 4)
                 .alias("twap"),
                 F.count("*").cast("bigint").alias("n_segments")))


@q("ts_pct_change_daily", """
WITH m AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(sum(CAST(value AS DECIMAL(18,8))) AS DOUBLE) AS total
  FROM events WHERE value IS NOT NULL
  GROUP BY event_type, day
)
SELECT event_type, day,
       ROUND(total, 4) AS total,
       ROUND(100.0 * (total - lag(total) OVER (PARTITION BY event_type
                                               ORDER BY day))
             / lag(total) OVER (PARTITION BY event_type ORDER BY day),
             4) AS pct_change
FROM m
""")
def ts_pct_change_daily(spark, sf):
    """Period-over-period percent change per segment — the BI staple.
    The daily rollup collapses the fact to |segments × days| rows
    (decimal-exact sums, map-side combinable); lag() then runs over
    those few rows, so the windowing cost is nil at any corpus size.
    First period's change is NULL by definition. The bucket is an
    explicit DATE cast on both engines (DuckDB's date_trunc returns
    DATE at day granularity where Spark returns TIMESTAMP — a
    render-parity trap)."""
    e = t(spark, sf, "events").filter(F.col("value").isNotNull())
    m = (e.groupBy("event_type",
                   F.date_trunc("day", "ts").cast("date").alias("day"))
         .agg(F.sum(F.col("value").cast("decimal(18,8)")).cast("double")
              .alias("total")))
    w = W.partitionBy("event_type").orderBy("day")
    prev = F.lag("total").over(w)
    return m.select(
        "event_type", "day", F.round("total", 4).alias("total"),
        F.round(100.0 * (F.col("total") - prev) / prev, 4)
        .alias("pct_change"))


@q("pareto_cumulative_share", """
WITH rev AS (
  SELECT l_returnflag, l_orderkey,
         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS r
  FROM lineitem GROUP BY l_returnflag, l_orderkey
), ranked AS (
  SELECT l_returnflag, r,
         sum(r) OVER (PARTITION BY l_returnflag
                      ORDER BY r DESC, l_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS cum,
         sum(r) OVER (PARTITION BY l_returnflag) AS total,
         row_number() OVER (PARTITION BY l_returnflag
                            ORDER BY r DESC, l_orderkey) AS rn,
         count(*) OVER (PARTITION BY l_returnflag) AS n_orders
  FROM rev
)
SELECT l_returnflag,
       CAST(min(CASE WHEN cum >= 0.8 * total THEN rn END) AS BIGINT)
           AS orders_for_80pct,
       CAST(max(n_orders) AS BIGINT) AS n_orders,
       ROUND(CAST(min(CASE WHEN cum >= 0.8 * total THEN rn END) AS DOUBLE)
             / CAST(max(n_orders) AS DOUBLE), 6) AS pareto_ratio
FROM ranked GROUP BY l_returnflag
""")
def pareto_cumulative_share(spark, sf):
    """Pareto / 80-20 concentration: how many top orders carry 80% of
    each segment's revenue. Per-order revenue collapses the fact
    first (decimal-exact), then running-share windows run over the
    collapsed partials — deterministic (r DESC, orderkey) tiebreak,
    and the 0.8·total comparison uses the same exactly-summed doubles
    on both engines. The concentration profile that decides whether a
    corpus/revenue table needs head-heavy special-casing at scale."""
    li = t(spark, sf, "lineitem")
    rev = (li.groupBy("l_returnflag", "l_orderkey")
           .agg(F.sum(F.col("l_extendedprice").cast("decimal(18,6)"))
                .cast("double").alias("r")))
    pw = W.partitionBy("l_returnflag")
    ob = pw.orderBy(F.col("r").desc(), "l_orderkey")
    ranked = (rev
              .withColumn("cum", F.sum("r").over(
                  ob.rowsBetween(W.unboundedPreceding, W.currentRow)))
              .withColumn("total", F.sum("r").over(pw))
              .withColumn("rn", F.row_number().over(ob))
              .withColumn("n_orders", F.count("*").over(pw)))
    hit = F.when(F.col("cum") >= 0.8 * F.col("total"), F.col("rn"))
    return (ranked.groupBy("l_returnflag")
            .agg(F.min(hit).cast("bigint").alias("orders_for_80pct"),
                 F.max("n_orders").cast("bigint").alias("n_orders"),
                 F.round(F.min(hit).cast("double")
                         / F.max("n_orders").cast("double"), 6)
                 .alias("pareto_ratio")))


@q("profile_columns", """
WITH u AS (
  SELECT 'event_type' AS col, event_type AS v FROM events
  UNION ALL
  SELECT 'user_id', CAST(user_id AS VARCHAR) FROM events
  UNION ALL
  SELECT 'value', CAST(CAST(value AS DECIMAL(18,6)) AS VARCHAR) FROM events
  UNION ALL
  SELECT 'props', props FROM events
)
SELECT col,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
       CAST(count(DISTINCT v) AS BIGINT) AS n_distinct
FROM u GROUP BY col
""")
def profile_columns(spark, sf):
    """Column profiling (rows / nulls / distinct per column) — the
    data-quality scan every ingestion pipeline runs first. Columns
    unpivot to (col, value-as-string) so ONE distinct-agg pass profiles
    them all; numeric values stringify through a fixed-scale DECIMAL so
    both engines render identically. At 100 TB swap count(DISTINCT)
    for approx_count_distinct per column — same plan shape, sketch
    merge instead of exact distinct shuffle."""
    e = t(spark, sf, "events")
    u = (e.select(F.lit("event_type").alias("col"),
                  F.col("event_type").alias("v"))
         .unionAll(e.select(F.lit("user_id"),
                            F.col("user_id").cast("string")))
         .unionAll(e.select(F.lit("value"),
                            F.col("value").cast("decimal(18,6)")
                            .cast("string")))
         .unionAll(e.select(F.lit("props"), F.col("props"))))
    return (u.groupBy("col")
            .agg(F.count("*").cast("bigint").alias("n_rows"),
                 F.sum(F.when(F.col("v").isNull(), 1).otherwise(0))
                 .cast("bigint").alias("n_null"),
                 F.countDistinct("v").cast("bigint").alias("n_distinct")))


def _roundtrip_dir(sf: str, fmt: str) -> str:
    import hashlib
    h = hashlib.md5(sf.encode()).hexdigest()[:8]
    return f"/tmp/ocrflow_srcfmt_{fmt}_{h}"


def _roundtrip(spark, sf: str, fmt: str):
    """Write events once to ``fmt`` (idempotent on _SUCCESS), read it
    back with an explicit schema — the source-connector round-trip."""
    path = _roundtrip_dir(sf, fmt)
    src = t(spark, sf, "events").select("event_id", "user_id", "event_type")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        w = src.write.mode("overwrite")
        if fmt == "csv":
            w.option("header", "true").csv(path)
        else:
            w.orc(path)
    r = spark.read
    if fmt == "csv":
        return (r.schema("event_id bigint, user_id bigint, event_type string")
                .option("header", "true").option("mode", "FAILFAST")
                .csv(path))
    return r.orc(path)


@q("source_csv_roundtrip", """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(user_id) AS BIGINT) AS uid_sum,
       CAST(max(event_id) AS BIGINT) AS max_id
FROM events GROUP BY event_type
""")
def source_csv_roundtrip(spark, sf):
    """CSV source connector: events written to headered CSV once, read
    back with an EXPLICIT schema + FAILFAST (schema inference on
    100 TB of CSV is a full extra pass and silently degrades types —
    never infer in production). The oracle aggregates the ORIGINAL
    parquet table: integer columns round-trip text exactly, so parity
    proves the read path end-to-end, not a copy of the write."""
    d = _roundtrip(spark, sf, "csv")
    return (d.groupBy("event_type")
            .agg(F.count("*").cast("bigint").alias("n"),
                 F.sum("user_id").cast("bigint").alias("uid_sum"),
                 F.max("event_id").cast("bigint").alias("max_id")))


@q("source_orc_roundtrip", """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n,
       CAST(sum(user_id) AS BIGINT) AS uid_sum,
       CAST(max(event_id) AS BIGINT) AS max_id
FROM events GROUP BY event_type
""")
def source_orc_roundtrip(spark, sf):
    """ORC source connector (the second columnar format Spark ships
    natively): same round-trip proof as CSV but with predicate-
    pushdown-capable storage — at 100 TB the ORC path carries the same
    min/max row-group skipping as parquet. Oracle aggregates the
    original table; exact integer parity proves the full write+read
    cycle."""
    d = _roundtrip(spark, sf, "orc")
    return (d.groupBy("event_type")
            .agg(F.count("*").cast("bigint").alias("n"),
                 F.sum("user_id").cast("bigint").alias("uid_sum"),
                 F.max("event_id").cast("bigint").alias("max_id")))


@q("ops_error_rate_spikes", """
WITH d AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
         CAST(count(*) AS BIGINT) AS n_events,
         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_errors
  FROM events GROUP BY day
), r AS (
  SELECT day, n_events, n_errors,
         CAST(n_errors AS DOUBLE) / CAST(n_events AS DOUBLE) AS rate,
         avg(CAST(n_errors AS DOUBLE) / CAST(n_events AS DOUBLE))
             OVER (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
             AS trailing7
  FROM d
)
SELECT day, n_events, n_errors,
       ROUND(rate, 6) AS rate,
       ROUND(trailing7, 6) AS trailing7,
       CASE WHEN trailing7 IS NOT NULL AND rate > 1.15 * trailing7
            THEN TRUE ELSE FALSE END AS is_spike
FROM r
""")
def ops_error_rate_spikes(spark, sf):
    """Operational error-rate monitoring: daily error ratio vs its own
    7-day trailing baseline, flagging days that exceed 1.15× — the
    pipeline-health query that guards a 100 TB ingestion run. The
    daily rollup collapses the fact first (conditional count rides the
    same partial agg as the total), so the trailing window runs over
    |days| rows — a single-partition window here, and at any scale,
    because the time axis after rollup is tiny. Ratios of exact ints
    are IEEE-identical; the 1.15× comparison happens pre-rounding on
    those identical doubles (threshold tuned so the
    flag fires on this corpus — 3 spike days at sf0.01, exercising
    BOTH branches)."""
    e = t(spark, sf, "events")
    d = (e.groupBy(F.date_trunc("day", "ts").cast("date").alias("day"))
         .agg(F.count("*").cast("bigint").alias("n_events"),
              F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
              .cast("bigint").alias("n_errors")))
    rate = F.col("n_errors").cast("double") / F.col("n_events").cast("double")
    w = W.orderBy("day").rowsBetween(-7, -1)
    r = (d.withColumn("rate", rate)
         .withColumn("trailing7", F.avg("rate").over(w)))
    return r.select(
        "day", "n_events", "n_errors",
        F.round("rate", 6).alias("rate"),
        F.round("trailing7", 6).alias("trailing7"),
        F.when(F.col("trailing7").isNotNull()
               & (F.col("rate") > 1.15 * F.col("trailing7")), F.lit(True))
        .otherwise(F.lit(False)).alias("is_spike"))


@q("geo_hierarchy_rollup", """
SELECT coalesce(r_name, '<all>') AS region,
       coalesce(n_name, '<all>') AS nation,
       CAST(count(*) AS BIGINT) AS n_orders,
       ROUND(CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE), 2)
           AS revenue
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY ROLLUP (r_name, n_name)
""")
def geo_hierarchy_rollup(spark, sf):
    """Dimension-hierarchy rollup: order revenue by region → nation →
    grand total in one pass (ROLLUP over the joined star). The whole
    dimension chain (customer → nation → region) BROADCASTS — only the
    orders fact streams — and the rollup expands grouping sets inside
    a single aggregate, so subtotals cost no extra scans. The classic
    drill-down report at warehouse scale."""
    o = t(spark, sf, "orders")
    c = t(spark, sf, "customer").select("c_custkey", "c_nationkey")
    n = t(spark, sf, "nation").select("n_nationkey", "n_regionkey", "n_name")
    r = t(spark, sf, "region")
    j = (o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
         .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
         .join(F.broadcast(r), n.n_regionkey == r.r_regionkey))
    return (j.rollup("r_name", "n_name")
            .agg(F.count("*").cast("bigint").alias("n_orders"),
                 F.round(F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
                         .cast("double"), 2).alias("revenue"))
            .select(F.coalesce("r_name", F.lit("<all>")).alias("region"),
                    F.coalesce("n_name", F.lit("<all>")).alias("nation"),
                    "n_orders", "revenue"))


@q("supplier_diversity_q16", """
SELECT p_brand, p_type,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_size <= 20
  AND l_suppkey NOT IN (
    SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type
HAVING count(DISTINCT l_suppkey) >= 2
""")
def supplier_diversity_q16(spark, sf):
    """TPC-H Q16 shape: supplier diversity per (brand, type), excluding
    a denylist via NOT IN — which Catalyst plans as a null-aware anti
    join (the denylist is tiny → broadcast). Distinct-count over the
    join output, HAVING on the aggregate. The supply-chain
    concentration query; at 100 TB the part dim broadcasts and only
    the fact shuffles (for the distinct)."""
    li = t(spark, sf, "lineitem").select("l_partkey", "l_suppkey")
    p = (t(spark, sf, "part")
         .filter(F.col("p_size") <= 20)
         .select("p_partkey", "p_brand", "p_type"))
    bad = (t(spark, sf, "supplier").filter(F.col("s_acctbal") < 0)
           .select(F.col("s_suppkey").alias("l_suppkey")))
    j = (li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
         .join(F.broadcast(bad), "l_suppkey", "left_anti"))
    return (j.groupBy("p_brand", "p_type")
            .agg(F.countDistinct("l_suppkey").cast("bigint")
                 .alias("n_suppliers"))
            .filter(F.col("n_suppliers") >= 2))


@q("customer_rfm", """
WITH agg AS (
  SELECT o_custkey AS custkey,
         max(o_orderdate) AS last_order,
         CAST(count(*) AS BIGINT) AS frequency,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS monetary
  FROM orders GROUP BY o_custkey
)
SELECT custkey, last_order, frequency, ROUND(monetary, 2) AS monetary,
       CAST(r AS BIGINT) AS r_score, CAST(f AS BIGINT) AS f_score,
       CAST(m AS BIGINT) AS m_score,
       CAST(r AS VARCHAR) || CAST(f AS VARCHAR) || CAST(m AS VARCHAR)
           AS rfm_code
FROM (
  SELECT *,
         ntile(4) OVER (ORDER BY last_order DESC, custkey) AS r,
         ntile(4) OVER (ORDER BY frequency DESC, custkey) AS f,
         ntile(4) OVER (ORDER BY monetary DESC, custkey) AS m
  FROM agg
)
""")
def customer_rfm(spark, sf):
    """RFM segmentation (recency / frequency / monetary quartiles per
    customer) — the CRM workhorse. One pass collapses orders to
    per-customer aggregates; three ntile windows then rank the
    COLLAPSED frame (|customers| rows, not orders), each with a
    custkey tiebreak so quartile boundaries are deterministic. The
    concatenated code ('111' = best) is what campaign tooling joins
    on. Global ntile = single-partition windows over the collapsed
    frame — fine at |customers|; for billions of customers switch to
    percent_rank thresholds (same scores, fully parallel)."""
    o = t(spark, sf, "orders")
    agg = (o.groupBy(F.col("o_custkey").alias("custkey"))
           .agg(F.max("o_orderdate").alias("last_order"),
                F.count("*").cast("bigint").alias("frequency"),
                F.sum(F.col("o_totalprice").cast("decimal(18,6)"))
                .cast("double").alias("monetary")))
    r = F.ntile(4).over(W.orderBy(F.col("last_order").desc(), "custkey"))
    f = F.ntile(4).over(W.orderBy(F.col("frequency").desc(), "custkey"))
    m = F.ntile(4).over(W.orderBy(F.col("monetary").desc(), "custkey"))
    s = (agg.withColumn("r", r).withColumn("f", f).withColumn("m", m))
    return s.select(
        "custkey", "last_order", "frequency",
        F.round("monetary", 2).alias("monetary"),
        F.col("r").cast("bigint").alias("r_score"),
        F.col("f").cast("bigint").alias("f_score"),
        F.col("m").cast("bigint").alias("m_score"),
        F.concat(F.col("r").cast("string"), F.col("f").cast("string"),
                 F.col("m").cast("string")).alias("rfm_code"))


@q("topk_with_ties", """
SELECT l_returnflag, l_orderkey, price_sum, rnk FROM (
  SELECT l_returnflag, l_orderkey,
         ROUND(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,6)))
               AS DOUBLE), 2) AS price_sum,
         CAST(rank() OVER (PARTITION BY l_returnflag
                           ORDER BY CAST(sum(CAST(l_extendedprice
                               AS DECIMAL(18,6))) AS DOUBLE) DESC)
              AS BIGINT) AS rnk
  FROM lineitem GROUP BY l_returnflag, l_orderkey
)
WHERE rnk <= 3
""")
def topk_with_ties(spark, sf):
    """Top-k WITH TIES (rank ≤ k, not row_number ≤ k): when the k-th
    and (k+1)-th values are equal, BOTH survive — SQL FETCH ... WITH
    TIES / the leaderboard rule. The semantic sibling of topk_per_group
    (which must break ties to return exactly k); carrying both is what
    lets a user pick the contract they mean. Decimal-exact sums mean
    tie groups are identical across engines."""
    li = t(spark, sf, "lineitem")
    rev = (li.groupBy("l_returnflag", "l_orderkey")
           .agg(F.round(F.sum(F.col("l_extendedprice").cast("decimal(18,6)"))
                        .cast("double"), 2).alias("price_sum")))
    w = W.partitionBy("l_returnflag").orderBy(F.col("price_sum").desc())
    return (rev.withColumn("rnk", F.rank().over(w).cast("bigint"))
            .filter(F.col("rnk") <= 3))


@q("str_printf_format", """
SELECT event_id,
       printf('u%05d/%s', user_id, event_type) AS tag,
       printf('%.3f', CAST(CAST(value AS DECIMAL(18,6)) AS DOUBLE))
           AS val3
FROM events WHERE value IS NOT NULL
""")
def str_printf_format(spark, sf):
    """C-style printf formatting (zero-padded ids, fixed-precision
    floats) — the deterministic string-rendering layer a feature/
    export pipeline needs (format_number is locale-sensitive; printf
    is not — that's why it's the one worth standardizing on). Floats
    go through a fixed-scale DECIMAL before %.3f so both engines
    format the identical double. Pure per-row JVM expressions."""
    e = t(spark, sf, "events").filter(F.col("value").isNotNull())
    return e.select(
        "event_id",
        F.printf(F.lit("u%05d/%s"), F.col("user_id"),
                 F.col("event_type")).alias("tag"),
        F.printf(F.lit("%.3f"),
                 F.col("value").cast("decimal(18,6)").cast("double"))
        .alias("val3"))


@q("scalar_null_semantics", """
SELECT event_id,
       coalesce(props, event_type, '<none>') AS first_non_null,
       nullif(event_type, 'error') AS type_unless_error,
       least(value, 50.0) AS capped_least,
       greatest(value, 50.0) AS floored_greatest,
       CASE WHEN value IS NULL THEN 'null'
            WHEN value IS NOT DISTINCT FROM NULL THEN 'impossible'
            ELSE 'present' END AS null_probe,
       CAST(value IS NOT DISTINCT FROM NULL AS BOOLEAN) AS is_null_nsafe
FROM events
""")
def scalar_null_semantics(spark, sf):
    """NULL-propagation semantics spelled out and cross-checked:
    coalesce chains, nullif, least/greatest (BOTH engines skip NULLs
    and return the extreme of the non-null arguments — the SQL corner
    that silently differs from some engines' any-null→null rule), and
    null-safe equality (<=> / IS NOT DISTINCT FROM). The parity check
    is the point: these rules are where ports from other engines break
    quietly."""
    e = t(spark, sf, "events")
    return e.select(
        "event_id",
        F.coalesce("props", "event_type", F.lit("<none>"))
        .alias("first_non_null"),
        F.nullif("event_type", F.lit("error")).alias("type_unless_error"),
        F.least("value", F.lit(50.0)).alias("capped_least"),
        F.greatest("value", F.lit(50.0)).alias("floored_greatest"),
        F.when(F.col("value").isNull(), "null")
        .when(F.col("value").eqNullSafe(F.lit(None)), "impossible")
        .otherwise("present").alias("null_probe"),
        F.col("value").eqNullSafe(F.lit(None)).alias("is_null_nsafe"))


@q("dau_wau_stickiness", """
WITH act AS (
  SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day, user_id
  FROM events
), days AS (SELECT DISTINCT day FROM act),
dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM act GROUP BY day),
wau AS (
  SELECT d.day, CAST(count(DISTINCT a.user_id) AS BIGINT) AS wau
  FROM days d JOIN act a
    ON a.day BETWEEN d.day - INTERVAL 6 DAY AND d.day
  GROUP BY d.day
)
SELECT dau.day, dau.dau, wau.wau,
       ROUND(CAST(dau.dau AS DOUBLE) / CAST(wau.wau AS DOUBLE), 6)
           AS stickiness
FROM dau JOIN wau ON dau.day = wau.day
""")
def dau_wau_stickiness(spark, sf):
    """DAU / WAU / stickiness (the growth-analytics ratio): activity
    collapses to the DISTINCT (day, user) frame FIRST — that frame is
    |users × active days|, orders of magnitude under the event log —
    then WAU is a range join of the day spine against it (sliding
    DISTINCT windows don't exist; the collapsed range join is the
    scalable idiom, and the spine side is |days| rows so the join
    broadcasts it). DAU/WAU ≥ 1/7 by construction; 1.0 = everyone
    active daily."""
    e = t(spark, sf, "events")
    act = (e.select(F.date_trunc("day", "ts").cast("date").alias("day"),
                    "user_id").distinct())
    days = act.select("day").distinct()
    dau = act.groupBy("day").agg(F.count("*").cast("bigint").alias("dau"))
    a = act.select(F.col("day").alias("aday"), "user_id")
    wau = (F.broadcast(days).join(
        a, (F.col("aday") >= F.date_sub("day", 6))
           & (F.col("aday") <= F.col("day")))
        .groupBy("day")
        .agg(F.countDistinct("user_id").cast("bigint").alias("wau")))
    return (dau.join(wau, "day")
            .select("day", "dau", "wau",
                    F.round(F.col("dau").cast("double")
                            / F.col("wau").cast("double"), 6)
                    .alias("stickiness")))


@q("order_fulfillment_lag", """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(min(datediff('day', o_orderdate, l_shipdate)) AS BIGINT)
           AS min_lag_days,
       CAST(max(datediff('day', o_orderdate, l_shipdate)) AS BIGINT)
           AS max_lag_days,
       ROUND(avg(CAST(datediff('day', o_orderdate, l_shipdate)
                 AS DOUBLE)), 4) AS avg_lag_days
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
""")
def order_fulfillment_lag(spark, sf):
    """Fulfillment lag (order date → line ship date) per priority
    class — the SLA / logistics readout. Day-granularity datediff is
    integer-exact across engines (no timezone arithmetic at DATE
    precision); the orders side carries only two columns into the
    join, and at 100 TB it broadcasts if the order count allows or
    co-partitions on orderkey (the join_bucketed_colocated recipe)."""
    li = t(spark, sf, "lineitem").select("l_orderkey", "l_shipdate")
    o = t(spark, sf, "orders").select("o_orderkey", "o_orderdate",
                                      "o_orderpriority")
    lag = F.datediff(F.col("l_shipdate").cast("date"),
                     F.col("o_orderdate").cast("date"))
    return (li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count("*").cast("bigint").alias("n_lines"),
                 F.min(lag).cast("bigint").alias("min_lag_days"),
                 F.max(lag).cast("bigint").alias("max_lag_days"),
                 F.round(F.avg(lag.cast("double")), 4)
                 .alias("avg_lag_days")))


@q("events_heatmap_dow_hour", """
SELECT CAST(isodow(ts) AS BIGINT) AS dow,
       CAST(extract(hour FROM ts) AS BIGINT) AS hour,
       CAST(count(*) AS BIGINT) AS n,
       ROUND(avg(value), 4) AS avg_value
FROM events WHERE value IS NOT NULL
GROUP BY dow, hour
""")
def events_heatmap_dow_hour(spark, sf):
    """Activity heatmap over (ISO day-of-week × hour) — the capacity-
    planning grid. Day-of-week is an ENGINE TRAP: Spark's dayofweek()
    is 1=Sunday, DuckDB's isodow() is 1=Monday — this op normalizes
    Spark to ISO ((dayofweek+5) % 7 + 1) so the grids align; silently
    mixing conventions shifts every weekly pattern by one day. One
    map-side-combinable agg to a 7×24 grid."""
    e = t(spark, sf, "events").filter(F.col("value").isNotNull())
    isodow = ((F.dayofweek("ts") + 5) % 7 + 1).cast("bigint")
    return (e.groupBy(isodow.alias("dow"),
                      F.hour("ts").cast("bigint").alias("hour"))
            .agg(F.count("*").cast("bigint").alias("n"),
                 F.round(F.avg("value"), 4).alias("avg_value")))


@q("attribution_first_touch", """
WITH ft AS (
  SELECT user_id, event_type AS first_touch FROM (
    SELECT user_id, event_type,
           row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS rn
    FROM events
  ) WHERE rn = 1
), conv AS (
  SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
)
SELECT f.first_touch,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(CASE WHEN c.user_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_converted,
       ROUND(CAST(sum(CASE WHEN c.user_id IS NOT NULL THEN 1 ELSE 0 END)
                  AS DOUBLE) / CAST(count(*) AS DOUBLE), 6) AS conv_rate
FROM ft f LEFT JOIN conv c ON f.user_id = c.user_id
GROUP BY f.first_touch
""")
def attribution_first_touch(spark, sf):
    """First-touch attribution: each user's very first event type
    (deterministic (ts, event_id) tiebreak) credited with whether they
    ever converted — the marketing-channel readout. The first-touch
    window and the converter set both collapse to |users| rows before
    the join, so the rate table costs two small exchanges regardless
    of event volume; the left join keeps never-converting channels in
    the denominator (dropping them is the classic attribution bug)."""
    e = t(spark, sf, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    ft = (e.withColumn("rn", F.row_number().over(w))
          .filter(F.col("rn") == 1)
          .select("user_id", F.col("event_type").alias("first_touch")))
    conv = (e.filter(F.col("event_type") == "purchase")
            .select("user_id").distinct()
            .withColumn("converted", F.lit(1)))
    j = ft.join(conv, "user_id", "left")
    return (j.groupBy("first_touch")
            .agg(F.count("*").cast("bigint").alias("n_users"),
                 F.sum(F.coalesce("converted", F.lit(0))).cast("bigint")
                 .alias("n_converted"),
                 F.round(F.sum(F.coalesce("converted", F.lit(0)))
                         .cast("double") / F.count("*").cast("double"), 6)
                 .alias("conv_rate")))


@q("peak_concurrency", """
WITH delta AS (
  SELECT CAST(date_trunc('day', ts) AS DATE) AS day, ts AS at, 1 AS d,
         event_id
  FROM events
  UNION ALL
  SELECT CAST(date_trunc('day', ts) AS DATE), ts + INTERVAL 5 MINUTE, -1,
         event_id
  FROM events
), run AS (
  SELECT day,
         sum(d) OVER (PARTITION BY day ORDER BY at, d DESC, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS concurrent
  FROM delta
)
SELECT day, CAST(max(concurrent) AS BIGINT) AS peak_concurrent
FROM run GROUP BY day
""")
def peak_concurrency(spark, sf):
    """Peak concurrency per day (each event holds a 5-minute session):
    the classic +1/−1 boundary sweep — every interval emits a start
    and an end marker, one ordered running sum finds the maximum
    overlap. O(n log n) per day versus the quadratic interval
    self-join a naive port writes. Tie rule pinned on both engines:
    at the same instant, starts (+1) sort before ends (d DESC) — an
    interval touching another's endpoint counts as overlapping — and
    event_id breaks the rest. Day-partitioned windows shard the sweep
    (sessions here never span midnight: bounded 5-min intervals and
    per-day grouping — document the cross-boundary carry if sessions
    can)."""
    e = t(spark, sf, "events")
    day = F.date_trunc("day", "ts").cast("date").alias("day")
    starts = e.select(day, F.col("ts").alias("at"), F.lit(1).alias("d"),
                      "event_id")
    ends = e.select(day,
                    (F.col("ts") + F.expr("INTERVAL 5 MINUTE")).alias("at"),
                    F.lit(-1).alias("d"), "event_id")
    delta = starts.unionByName(ends)
    w = (W.partitionBy("day").orderBy("at", F.col("d").desc(), "event_id")
         .rowsBetween(W.unboundedPreceding, W.currentRow))
    run = delta.withColumn("concurrent", F.sum("d").over(w))
    return (run.groupBy("day")
            .agg(F.max("concurrent").cast("bigint").alias("peak_concurrent")))


@q("benford_digit_profile", """
WITH d AS (
  SELECT CAST(floor(value / pow(10, floor(log10(value)))) AS BIGINT)
             AS digit
  FROM events WHERE value IS NOT NULL AND value >= 1
), tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM d)
SELECT digit,
       CAST(count(*) AS BIGINT) AS n_obs,
       ROUND(CAST(count(*) AS DOUBLE) / CAST(max(tot.n) AS DOUBLE), 6)
           AS p_obs,
       ROUND(log10(1.0 + 1.0 / digit), 6) AS p_benford
FROM d, tot GROUP BY digit
""")
def benford_digit_profile(spark, sf):
    """Benford first-digit profile: observed leading-digit frequencies
    vs the log10(1 + 1/d) expectation — the data-forensics scan that
    flags fabricated or truncated numeric columns before they poison a
    pipeline (a uniform synthetic column like this one deviates from
    Benford VISIBLY, which is exactly the point of carrying the
    expected column alongside). Leading digit via log10/pow is pure
    per-row math; the grand total broadcasts back as a 1-row
    cross join. Both log10 ratios round identically."""
    e = t(spark, sf, "events").filter(
        F.col("value").isNotNull() & (F.col("value") >= 1))
    d = e.select(F.floor(F.col("value")
                         / F.pow(F.lit(10.0),
                                 F.floor(F.log10("value"))))
                 .cast("bigint").alias("digit"))
    tot = d.agg(F.count("*").cast("bigint").alias("n"))
    return (d.groupBy("digit")
            .agg(F.count("*").cast("bigint").alias("n_obs"))
            .crossJoin(F.broadcast(tot))
            .select("digit", "n_obs",
                    F.round(F.col("n_obs").cast("double")
                            / F.col("n").cast("double"), 6).alias("p_obs"),
                    F.round(F.log10(1.0 + 1.0 / F.col("digit")), 6)
                    .alias("p_benford")))


@q("events_interarrival_stats", """
WITH g AS (
  SELECT event_type,
         epoch(ts) - epoch(lag(ts) OVER (PARTITION BY event_type
                                         ORDER BY ts, event_id)) AS gap
  FROM events
)
SELECT event_type,
       CAST(count(gap) AS BIGINT) AS n_gaps,
       ROUND(avg(gap), 4) AS mean_gap_s,
       ROUND(min(gap), 4) AS min_gap_s,
       ROUND(max(gap), 4) AS max_gap_s
FROM g GROUP BY event_type
""")
def events_interarrival_stats(spark, sf):
    """Inter-arrival gap statistics per event type — the rate/burst
    profile that sizes streaming watermarks and batch windows (mean
    gap ≈ 1/rate; max gap bounds the silence a watermark must
    tolerate). One window (lag of epoch seconds, NTZ via the
    TIMESTAMP-cast rule) riding the same exchange as the rollup."""
    e = t(spark, sf, "events")
    sec = F.col("ts").cast("timestamp").cast("double")
    w = W.partitionBy("event_type").orderBy("ts", "event_id")
    g = e.select("event_type",
                 (sec - F.lag(sec).over(w)).alias("gap"))
    return (g.groupBy("event_type")
            .agg(F.count("gap").cast("bigint").alias("n_gaps"),
                 F.round(F.avg("gap"), 4).alias("mean_gap_s"),
                 F.round(F.min("gap"), 4).alias("min_gap_s"),
                 F.round(F.max("gap"), 4).alias("max_gap_s")))


@q("single_source_parts", """
WITH s AS (
  SELECT l_partkey, count(DISTINCT l_suppkey) AS n_supp
  FROM lineitem GROUP BY l_partkey
)
SELECT p.p_partkey, p.p_brand, p.p_retailprice,
       CAST(n_supp AS BIGINT) AS n_suppliers
FROM s JOIN part p ON s.l_partkey = p.p_partkey
WHERE s.n_supp <= (SELECT quantile_disc(n_supp, 0.1) FROM s)
  AND p.p_retailprice > 900
""")
def single_source_parts(spark, sf):
    """Concentrated-supply risk: expensive parts in the BOTTOM DECILE
    of distinct-supplier counts — the procurement red-flag list. The
    cut is relative (percentile_disc over the per-part supplier
    counts), so it is scale-invariant: the synthetic supply graph's
    density grows with SF and any absolute threshold is empty at one
    scale or vacuous at another (in a real catalog the cut is =1, true
    single-sourcing). Distinct-count collapses the fact to |parts|
    rows, the 1-row decile cut comes back as a broadcast, and the
    survivors broadcast-join the part dim; the price filter pushes
    into the dim scan. The inverse cut of supplier_diversity_q16."""
    li = t(spark, sf, "lineitem").select("l_partkey", "l_suppkey")
    s = li.groupBy("l_partkey").agg(
        F.countDistinct("l_suppkey").alias("n_supp"))
    cut = s.agg(F.expr(
        "percentile_disc(0.1) WITHIN GROUP (ORDER BY n_supp)").alias("c"))
    p = (t(spark, sf, "part")
         .filter(F.col("p_retailprice") > 900)
         .select("p_partkey", "p_brand", "p_retailprice"))
    return (s.crossJoin(F.broadcast(cut))
            .filter(F.col("n_supp") <= F.col("c"))
            .join(p, F.col("l_partkey") == F.col("p_partkey"))
            .select("p_partkey", "p_brand", "p_retailprice",
                    F.col("n_supp").cast("bigint").alias("n_suppliers")))


# =========================================================================
# Round-4 continuation: conditional aggs, pipe SQL, TPC-H widening,
# linear interpolation, bounded BFS
# =========================================================================

@q("agg_filter_clause", """
SELECT o_orderpriority,
       CAST(count(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS n_open,
       CAST(count(DISTINCT o_custkey)
            FILTER (WHERE o_totalprice > 150000) AS BIGINT) AS n_big_cust,
       ROUND(CAST(sum(CAST(o_totalprice AS DECIMAL(14,2)))
                  FILTER (WHERE o_orderstatus = 'F') AS DOUBLE), 2)
           AS sum_f_price
FROM orders
GROUP BY o_orderpriority
""")
def agg_filter_clause(spark, sf):
    """Conditional aggregation (SQL FILTER clause semantics) in one
    pass: per-priority open-order counts, distinct big spenders, and
    finished-order revenue — three differently-filtered aggregates
    that would otherwise be three scans + a join. The DataFrame side
    expresses each as agg(when(cond, x)): count/sum ignore the NULLs
    the when() emits, which is exactly FILTER's semantics, and all
    three stay inside one partial-aggregating hash aggregate. Money
    sums run in DECIMAL(14,2) (cents-scale inputs ⇒ exact,
    fold-order-free). At 100 TB this is the pattern that replaces N
    filtered sub-scans with one: scan once, combine map-side."""
    o = t(spark, sf, "orders")
    price = F.col("o_totalprice").cast("decimal(14,2)")
    return (o.groupBy("o_orderpriority")
            .agg(F.count(F.when(F.col("o_orderstatus") == "O", 1))
                 .cast("bigint").alias("n_open"),
                 F.countDistinct(
                     F.when(F.col("o_totalprice") > 150000,
                            F.col("o_custkey"))).cast("bigint")
                 .alias("n_big_cust"),
                 F.round(F.sum(F.when(F.col("o_orderstatus") == "F", price))
                         .cast("double"), 2).alias("sum_f_price")))


@q("tpch_q10_shape", """
WITH rev AS (
  SELECT c.c_custkey, c.c_name, n.n_name, c.c_acctbal,
         sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
             * CAST(1 - l.l_discount AS DECIMAL(4,2))) AS r
  FROM customer c
  JOIN orders o   ON c.c_custkey = o.o_custkey
  JOIN lineitem l ON l.l_orderkey = o.o_orderkey
  JOIN nation n   ON c.c_nationkey = n.n_nationkey
  WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
    AND o.o_orderdate <  TIMESTAMP '1997-04-01'
    AND l.l_returnflag = 'R'
  GROUP BY 1, 2, 3, 4
)
SELECT c_custkey, c_name, n_name,
       ROUND(CAST(r AS DOUBLE), 2) AS revenue,
       ROUND(c_acctbal, 2) AS acctbal
FROM rev
ORDER BY revenue DESC, c_custkey
LIMIT 20
""")
def tpch_q10_shape(spark, sf):
    """TPC-H Q10 (returned-item reporting): top-20 customers by
    revenue lost to returns in one quarter. Plan shape: the date
    filter pushes into the orders scan and the returnflag filter into
    lineitem BEFORE either join; orders⋈lineitem shuffles on the
    orderkey, the customer join on custkey, and nation broadcasts.
    Revenue is DECIMAL-exact, so the ORDER BY ... LIMIT 20 cut is
    deterministic (custkey tiebreak); Spark runs it as
    TakeOrderedAndProject — no global sort materializes. At 100 TB
    the quarter predicate prunes partitions if orders is
    date-partitioned, and AQE picks the build sides."""
    c = t(spark, sf, "customer")
    o = (t(spark, sf, "orders")
         .filter((F.col("o_orderdate") >= "1997-01-01")
                 & (F.col("o_orderdate") < "1997-04-01")))
    li = (t(spark, sf, "lineitem").filter(F.col("l_returnflag") == "R")
          .select("l_orderkey", "l_extendedprice", "l_discount"))
    n = t(spark, sf, "nation")
    rev = (F.col("l_extendedprice").cast("decimal(12,2)")
           * (F.lit(1) - F.col("l_discount")).cast("decimal(4,2)"))
    g = (c.join(o, F.col("c_custkey") == F.col("o_custkey"))
         .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
         .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
         .groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
         .agg(F.sum(rev).alias("r")))
    return (g.select("c_custkey", "c_name", "n_name",
                     F.round(F.col("r").cast("double"), 2).alias("revenue"),
                     F.round("c_acctbal", 2).alias("acctbal"))
            .orderBy(F.col("revenue").desc(), "c_custkey").limit(20))


@q("tpch_q14_shape", """
SELECT ROUND(CAST(100.0 * sum(CASE WHEN p.p_type = 'PROMO'
                  THEN CAST(l.l_extendedprice AS DECIMAL(12,2))
                       * CAST(1 - l.l_discount AS DECIMAL(4,2))
                  ELSE CAST(0 AS DECIMAL(12,2)) END) AS DOUBLE)
             / CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
                        * CAST(1 - l.l_discount AS DECIMAL(4,2)))
                    AS DOUBLE), 4) AS promo_share_pct,
       ROUND(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
                      * CAST(1 - l.l_discount AS DECIMAL(4,2)))
                  AS DOUBLE), 2) AS total_revenue
FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
  AND l.l_shipdate <  TIMESTAMP '1997-02-01'
""")
def tpch_q14_shape(spark, sf):
    """TPC-H Q14 (promotion effect): share of one month's revenue from
    promo-class parts. A fact-to-dim join where the dim (part) is the
    broadcast side and the month predicate prunes the fact scan; both
    the conditional and total sums ride ONE hash aggregate (CASE
    inside sum, DECIMAL-exact), so the query is a single scan + BHJ +
    1-row aggregate. The percentage divides the two exact sums in
    double, rounded — the standard engine-portable form."""
    li = (t(spark, sf, "lineitem")
          .filter((F.col("l_shipdate") >= "1997-01-01")
                  & (F.col("l_shipdate") < "1997-02-01"))
          .select("l_partkey", "l_extendedprice", "l_discount"))
    p = t(spark, sf, "part").select("p_partkey", "p_type")
    rev = (F.col("l_extendedprice").cast("decimal(12,2)")
           * (F.lit(1) - F.col("l_discount")).cast("decimal(4,2)"))
    promo = F.when(F.col("p_type") == "PROMO", rev) \
             .otherwise(F.lit(0).cast("decimal(12,2)"))
    j = li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    return j.agg(
        F.round(F.lit(100.0) * F.sum(promo).cast("double")
                / F.sum(rev).cast("double"), 4).alias("promo_share_pct"),
        F.round(F.sum(rev).cast("double"), 2).alias("total_revenue"))


@q("tpch_q19_shape", """
SELECT ROUND(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
                      * CAST(1 - l.l_discount AS DECIMAL(4,2)))
                  AS DOUBLE), 2) AS revenue,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 15
       AND l.l_quantity BETWEEN 1 AND 25)
   OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 20
       AND l.l_quantity BETWEEN 5 AND 40)
   OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 25
       AND l.l_quantity BETWEEN 10 AND 50)
""")
def tpch_q19_shape(spark, sf):
    """TPC-H Q19 (discounted revenue, disjunctive brackets): an
    equi-join on partkey whose residual predicate is an OR of
    per-bracket conjunctions mixing build-side (brand/size) and
    probe-side (quantity) columns. Catalyst keeps the equi-key as the
    hash join key and evaluates the disjunction as a post-join filter;
    the single-side conjuncts it can factor out (brand IN (...),
    size <= 25, quantity <= 50) are pushed below the join into each
    scan. This is the canonical 'predicate too tangled to push whole,
    push what factors' query — at 100 TB the factored IN-list on the
    broadcast dim side is what keeps the probe cheap."""
    li = t(spark, sf, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    p = t(spark, sf, "part").select("p_partkey", "p_brand", "p_size")
    j = li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
    b = F.col("p_brand")
    s = F.col("p_size")
    qy = F.col("l_quantity")
    br = (((b == "Brand#12") & s.between(1, 15) & qy.between(1, 25))
          | ((b == "Brand#23") & s.between(1, 20) & qy.between(5, 40))
          | ((b == "Brand#34") & s.between(1, 25) & qy.between(10, 50)))
    rev = (F.col("l_extendedprice").cast("decimal(12,2)")
           * (F.lit(1) - F.col("l_discount")).cast("decimal(4,2)"))
    return j.filter(br).agg(
        F.round(F.sum(rev).cast("double"), 2).alias("revenue"),
        F.count("*").cast("bigint").alias("n_items"))


@q("sql_pipe_syntax", """
SELECT l_returnflag, l_linestatus,
       ROUND(CAST(sum(CAST(l_extendedprice AS DECIMAL(12,2))
                      * CAST(1 - l_discount AS DECIMAL(4,2)))
                  AS DOUBLE), 2) AS revenue,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
GROUP BY l_returnflag, l_linestatus
""")
def sql_pipe_syntax(spark, sf):
    """Spark 4 SQL pipe syntax (|> operators): the same
    filter→extend→aggregate written as a left-to-right pipeline
    instead of nested SELECTs. The pipe form parses to the IDENTICAL
    logical plan as the classic form (the oracle), so Catalyst's
    pushdown/pruning/codegen apply unchanged — pipe syntax is sugar,
    not a different engine path; this key pins that equivalence."""
    t(spark, sf, "lineitem").createOrReplaceTempView("pipe_lineitem")
    return spark.sql("""
        FROM pipe_lineitem
        |> WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |> EXTEND CAST(l_extendedprice AS DECIMAL(12,2))
                  * CAST(1 - l_discount AS DECIMAL(4,2)) AS rev
        |> AGGREGATE ROUND(CAST(sum(rev) AS DOUBLE), 2) AS revenue,
                     CAST(count(*) AS BIGINT) AS n_items
           GROUP BY l_returnflag, l_linestatus
        |> SELECT l_returnflag, l_linestatus, revenue, n_items
    """)


@q("ts_interpolate_linear", """
WITH obs AS (
  SELECT user_id, CAST(date_trunc('hour', ts) AS TIMESTAMP) AS bucket,
         min(value) AS val
  FROM events WHERE user_id < 30 AND value IS NOT NULL
  GROUP BY 1, 2
), span AS (
  SELECT user_id, min(bucket) AS lo, max(bucket) AS hi FROM obs GROUP BY 1
), grid AS (
  SELECT s.user_id,
         unnest(generate_series(s.lo, s.hi, INTERVAL 1 HOUR)) AS bucket
  FROM span s
), g AS (
  SELECT gr.user_id, gr.bucket, o.val,
         row_number() OVER (PARTITION BY gr.user_id ORDER BY gr.bucket)
             AS rn
  FROM grid gr LEFT JOIN obs o USING (user_id, bucket)
), fwd AS (
  SELECT *, count(val) OVER (PARTITION BY user_id ORDER BY rn) AS gf,
         count(val) OVER (PARTITION BY user_id ORDER BY rn DESC) AS gb
  FROM g
), isl AS (
  SELECT user_id, bucket, rn, val,
         max(val) OVER (PARTITION BY user_id, gf) AS pv,
         min(rn)  OVER (PARTITION BY user_id, gf) AS prn,
         max(val) OVER (PARTITION BY user_id, gb) AS nv,
         max(rn)  OVER (PARTITION BY user_id, gb) AS nrn
  FROM fwd
)
SELECT user_id, bucket, val IS NOT NULL AS is_obs,
       floor((CASE WHEN val IS NOT NULL THEN val
              ELSE pv + (nv - pv) * (CAST(rn - prn AS DOUBLE)
                                     / CAST(nrn - prn AS DOUBLE))
              END) * 10000 + 0.5) / 10000 AS val_filled
FROM isl
""")
def ts_interpolate_linear(spark, sf):
    """Linear interpolation over a regularized hourly grid: the
    pandas `interpolate(method='linear')` semantics, distributed.
    Gap-fill first (per-user hourly sequence between first and last
    observation), then two running non-null counts assign every grid
    row a forward island (rooted at the previous observation) and a
    backward island (rooted at the next one); per-island min/max
    recover (prev_val, prev_rn, next_val, next_rn) WITHOUT ignore-
    nulls window support, and the fill is the exact linear blend over
    integer row offsets — the same IEEE double expression on both
    engines, so it survives string-exact comparison after rounding.
    Every window here shares ONE partitioning (user_id), so all six
    window functions ride a single exchange; at 100 TB the grid
    explode is per-user-bounded and never materializes a global
    calendar cross join."""
    e = (t(spark, sf, "events")
         .filter((F.col("user_id") < 30) & F.col("value").isNotNull()))
    obs = (e.groupBy("user_id", F.date_trunc("hour", "ts").alias("bucket"))
           .agg(F.min("value").alias("val")))
    span = obs.groupBy("user_id").agg(F.min("bucket").alias("lo"),
                                      F.max("bucket").alias("hi"))
    grid = span.select(
        "user_id",
        F.explode(F.sequence("lo", "hi", F.expr("INTERVAL 1 HOUR")))
        .alias("bucket"))
    g = (grid.join(obs, ["user_id", "bucket"], "left")
         .withColumn("rn", F.row_number().over(
             W.partitionBy("user_id").orderBy("bucket"))))
    wf = W.partitionBy("user_id").orderBy("rn")
    wb = W.partitionBy("user_id").orderBy(F.col("rn").desc())
    g = (g.withColumn("gf", F.count("val").over(wf))
         .withColumn("gb", F.count("val").over(wb)))
    wgf = W.partitionBy("user_id", "gf")
    wgb = W.partitionBy("user_id", "gb")
    g = (g.withColumn("pv", F.max("val").over(wgf))
         .withColumn("prn", F.min("rn").over(wgf))
         .withColumn("nv", F.max("val").over(wgb))
         .withColumn("nrn", F.max("rn").over(wgb)))
    frac = ((F.col("rn") - F.col("prn")).cast("double")
            / (F.col("nrn") - F.col("prn")).cast("double"))
    # half-up rounding via floor(x*10^4 + 0.5): the SAME IEEE double
    # expression on both engines (round() itself breaks ties
    # differently on doubles across engines — found by the sweep)
    raw = F.when(F.col("val").isNotNull(), F.col("val")) \
           .otherwise(F.col("pv") + (F.col("nv") - F.col("pv")) * frac)
    return g.select(
        "user_id", "bucket", F.col("val").isNotNull().alias("is_obs"),
        (F.floor(raw * 10000 + 0.5) / 10000).alias("val_filled"))


@q("graph_shortest_hops", """
WITH RECURSIVE cell AS (
  SELECT DISTINCT to_timestamp(epoch(ts)::BIGINT // 600 * 600) AS h,
         event_type, user_id
  FROM events
), nxt AS (
  SELECT user_id AS u,
         lead(user_id) OVER (PARTITION BY h, event_type
                             ORDER BY user_id) AS v
  FROM cell
), e0 AS (
  SELECT DISTINCT u, v FROM nxt WHERE v IS NOT NULL
), edges AS (
  SELECT u, v FROM e0 UNION SELECT v, u FROM e0
), seeds AS (
  SELECT DISTINCT user_id AS node FROM events WHERE user_id % 29 = 0
), walk(node, dist) AS (
  SELECT node, 0 FROM seeds
  UNION
  SELECT e.v, w.dist + 1
  FROM walk w JOIN edges e ON e.u = w.node
  WHERE w.dist < 4
)
SELECT node, CAST(min(dist) AS INT) AS dist
FROM walk GROUP BY node
""")
def graph_shortest_hops(spark, sf):
    """Bounded-hop BFS (shortest path length ≤ 4) over a co-presence
    graph, against a recursive-CTE oracle. Two scale decisions:

    1. The graph itself uses CHAIN-LINKING, not cliques: users active
       in the same 10-minute × event_type cell are sorted and linked
       consecutively (lead() over the cell), so a hot cell of size m
       contributes m-1 edges instead of m(m-2)/2 — same connectivity,
       linear edge count. This is the construction that keeps
       co-occurrence graphs buildable at 100 TB, where one viral cell
       would otherwise emit billions of clique edges.
    2. BFS expands level-by-level with a DISTINCT frontier (bounded
       by |V| regardless of path multiplicity) and takes min(dist) at
       the end; each level's frontier is persisted so the lazy plan
       stays linear in levels instead of exponential. On a real
       cluster, checkpoint the frontier every few levels to truncate
       lineage; the per-level shuffle key (node) is stable, so the
       edge side's hash exchange is reused across levels.

    The oracle's recursive UNION (not UNION ALL) dedups rows
    globally, which is exactly the bounded-frontier semantics."""
    ev = t(spark, sf, "events")
    cell = (ev.select(
        F.window("ts", "10 minutes")["start"].alias("h"),
        "event_type", "user_id").distinct())
    wcell = W.partitionBy("h", "event_type").orderBy("user_id")
    e0 = (cell.withColumn("v", F.lead("user_id").over(wcell))
          .filter(F.col("v").isNotNull())
          .select(F.col("user_id").alias("u"), "v").distinct())
    edges = e0.unionByName(
        e0.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).distinct().persist()
    seeds = (ev.filter(F.col("user_id") % 29 == 0)
             .select(F.col("user_id").alias("node")).distinct())
    levels = [seeds.withColumn("dist", F.lit(0))]
    frontier = seeds
    for k in range(1, 5):
        frontier = (frontier.join(
            edges, frontier["node"] == edges["u"])
            .select(F.col("v").alias("node")).distinct().persist())
        levels.append(frontier.withColumn("dist", F.lit(k)))
    allv = levels[0]
    for lv in levels[1:]:
        allv = allv.unionByName(lv)
    return (allv.groupBy("node")
            .agg(F.min("dist").cast("int").alias("dist")))


@q("agg_bitmap_distinct", """
SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
       CAST(count(DISTINCT event_id) AS BIGINT) AS n_events
FROM events GROUP BY event_type
""")
def agg_bitmap_distinct(spark, sf):
    """EXACT distinct counting via bitmap aggregation (Spark 3.5+
    bitmap_construct_agg / bitmap_count) — the scalable alternative to
    count(DISTINCT): distinct state becomes fixed-size 4 KB bitmap
    buckets that combine map-side, instead of Expand + per-value
    shuffle rows. Two-level plan: group by (event_type, bucket) with
    bitmap_construct_agg over in-bucket bit positions, then sum
    bitmap_count per group — both levels partial-aggregate. The
    oracle is plain count(DISTINCT), pinning that the bitmap path is
    EXACT, not approximate. At 100 TB with high-cardinality keys this
    is the difference between a shuffle of |distinct values| rows and
    a shuffle of |groups x buckets| bitmaps."""
    # each distinct column gets its OWN bucket grouping — folding both
    # into one (event_type, user_bucket, event_bucket) aggregate would
    # double-count bitmaps across the bucket cross product
    ev = t(spark, sf, "events")
    users = (ev.groupBy("event_type",
                        F.expr("bitmap_bucket_number(user_id)").alias("b"))
             .agg(F.expr("bitmap_construct_agg(bitmap_bit_position(user_id))")
                  .alias("bm"))
             .groupBy("event_type")
             .agg(F.sum(F.expr("bitmap_count(bm)")).cast("bigint")
                  .alias("n_users")))
    events_ = (ev.groupBy("event_type",
                          F.expr("bitmap_bucket_number(event_id)").alias("b"))
               .agg(F.expr(
                   "bitmap_construct_agg(bitmap_bit_position(event_id))")
                   .alias("bm"))
               .groupBy("event_type")
               .agg(F.sum(F.expr("bitmap_count(bm)")).cast("bigint")
                    .alias("n_events")))
    return users.join(events_, "event_type")


@q("join_hint_shuffle_hash", """
SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
       ROUND(CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE), 2)
           AS total_price
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
""")
def join_hint_shuffle_hash(spark, sf):
    """Join strategy HINTS: the same equi-join forced to
    SHUFFLE_HASH — no sort on either side, build the smaller
    (customer) side's hash table per partition. The result is
    identical to the unhinted plan (same oracle as a plain join),
    pinning that hints change the physical strategy, never the
    semantics; tests/test_plan_shape.py asserts ShuffledHashJoin
    actually appears. When to reach for it at 100 TB: both sides too
    big to broadcast, one side small enough to hash per-task, and
    sort-merge's double sort is the measured bottleneck (skewless
    keys — SHJ cannot spill its build side the way SMJ spills
    sorts)."""
    o = t(spark, sf, "orders").select("o_custkey", "o_totalprice")
    c = t(spark, sf, "customer").select("c_custkey", "c_mktsegment")
    j = o.join(c.hint("shuffle_hash"),
               F.col("o_custkey") == F.col("c_custkey"))
    return (j.groupBy("c_mktsegment")
            .agg(F.count("*").cast("bigint").alias("n_orders"),
                 F.round(F.sum(F.col("o_totalprice").cast("decimal(14,2)"))
                         .cast("double"), 2).alias("total_price")))


@q("array_funcs_v2", """
WITH b AS (
  SELECT l_orderkey, l_linenumber,
         [l_linenumber, nullif(CAST(l_quantity AS INT), 25), 7] AS arr
  FROM lineitem WHERE l_orderkey < 200
)
SELECT l_orderkey, l_linenumber,
       list_concat(list_concat(list_slice(arr, 1, 1), [99]),
                   list_slice(arr, 2, len(arr))) AS ins,
       list_filter(arr, x -> x IS NOT NULL) AS cmp,
       list_prepend(0, arr) AS pre,
       arr[2] AS tea2,
       arr[5] AS tea5
FROM b
""")
def array_funcs_v2(spark, sf):
    """Spark 3.5/4 array additions — array_insert (position
    semantics), array_compact (null removal), array_prepend, and
    try_element_at's out-of-range-is-NULL contract — against DuckDB's
    list algebra (insert expressed as slice+concat, proving the
    position semantics match; DuckDB indexing is natively
    NULL-on-out-of-range). All JVM expression-tree work inside one
    projection: no UDF, no shuffle, codegen-friendly — the baseline
    every array manipulation in a 100 TB pipeline should meet before
    anyone reaches for explode."""
    li = t(spark, sf, "lineitem").filter(F.col("l_orderkey") < 200)
    arr = F.array(F.col("l_linenumber"),
                  F.nullif(F.col("l_quantity").cast("int"), F.lit(25)),
                  F.lit(7))
    b = li.select("l_orderkey", "l_linenumber", arr.alias("arr"))
    return b.select(
        "l_orderkey", "l_linenumber",
        F.array_insert("arr", 2, F.lit(99)).alias("ins"),
        F.array_compact("arr").alias("cmp"),
        F.array_prepend("arr", F.lit(0)).alias("pre"),
        F.try_element_at("arr", F.lit(2)).alias("tea2"),
        F.try_element_at("arr", F.lit(5)).alias("tea5"))


# =========================================================================
# TPC-H widening: q4 / q7 / q8 / q9 / q17 / q21 / q22 shapes
# (adapted to the driver schema: no receiptdate/shipmode/partsupp/phone;
# predicates probed non-empty at sf0.001 AND sf0.01)
# =========================================================================

@q("tpch_q4_shape", """
SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1996-07-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate)
GROUP BY o_orderpriority
""")
def tpch_q4_shape(spark, sf):
    """TPC-H Q4 (order-priority checking): EXISTS decorrelates to a
    LEFT SEMI join whose condition mixes the equi key (orderkey) with
    a non-equi residual (shipdate > orderdate) — the semi join
    dedupes matches for free, no DISTINCT needed. The date range
    pushes into the orders scan; at 100 TB the semi join's build side
    is the filtered orders slice, far smaller than lineitem."""
    o = (t(spark, sf, "orders")
         .filter((F.col("o_orderdate") >= "1996-01-01")
                 & (F.col("o_orderdate") < "1996-07-01")))
    li = t(spark, sf, "lineitem").select("l_orderkey", "l_shipdate")
    semi = o.join(li, (F.col("l_orderkey") == F.col("o_orderkey"))
                  & (F.col("l_shipdate") > F.col("o_orderdate")),
                  "left_semi")
    return (semi.groupBy("o_orderpriority")
            .agg(F.count("*").cast("bigint").alias("order_count")))


@q("tpch_q7_shape", """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
       CAST(year(l.l_shipdate) AS INT) AS l_year,
       CAST(ROUND(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
                      * CAST(1 - l.l_discount AS DECIMAL(4,2))), 2)
            AS DOUBLE) AS revenue,
       CAST(count(*) AS BIGINT) AS n_items
FROM supplier s
JOIN lineitem l ON s.s_suppkey = l.l_suppkey
JOIN orders o   ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
WHERE n1.n_name <> n2.n_name
GROUP BY 1, 2, 3
""")
def tpch_q7_shape(spark, sf):
    """TPC-H Q7 (volume shipping): cross-border revenue by
    (supplier nation, customer nation, year). Five joins where BOTH
    nation dims broadcast (aliased to distinct plan subtrees) and the
    inequality between the two broadcast attributes becomes a cheap
    post-join filter; the fact chain lineitem→orders→customer
    shuffles on its keys. The canonical 'snowflake with two paths to
    the same dim' plan — at 100 TB the win is that the n1<>n2 filter
    runs at broadcast-attribute width, never touching the fact
    columns."""
    s = t(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    li = t(spark, sf, "lineitem").select(
        "l_suppkey", "l_orderkey", "l_shipdate",
        "l_extendedprice", "l_discount")
    # shuffle_hash: orders cannot broadcast at scale, and at bench
    # scale the 1.5M-row broadcast build was the query's bottleneck
    # (3.0 s -> 1.2 s at sf1.0; see tpch_q5_shape note)
    o = t(spark, sf, "orders").select("o_orderkey", "o_custkey") \
        .hint("shuffle_hash")
    c = t(spark, sf, "customer").select("c_custkey", "c_nationkey")
    n1 = t(spark, sf, "nation").select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation"))
    n2 = t(spark, sf, "nation").select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation"))
    rev = (F.col("l_extendedprice").cast("decimal(12,2)")
           * (F.lit(1) - F.col("l_discount")).cast("decimal(4,2)"))
    j = (s.join(li, F.col("s_suppkey") == F.col("l_suppkey"))
         .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
         .join(c, F.col("c_custkey") == F.col("o_custkey"))
         .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
         .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
         .filter(F.col("supp_nation") != F.col("cust_nation")))
    return (j.groupBy("supp_nation", "cust_nation",
                      F.year("l_shipdate").cast("int").alias("l_year"))
            .agg(F.round(F.sum(rev), 2).cast("double").alias("revenue"),
                 F.count("*").cast("bigint").alias("n_items")))


@q("tpch_q8_shape", """
WITH rev AS (
  SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
         r.r_name AS cust_region, n1.n_name AS supp_nation,
         sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
             * CAST(1 - l.l_discount AS DECIMAL(4,2))) AS v,
         sum(CASE WHEN n1.n_name = 'NATION_1'
             THEN CAST(l.l_extendedprice AS DECIMAL(12,2))
                  * CAST(1 - l.l_discount AS DECIMAL(4,2))
             ELSE CAST(0 AS DECIMAL(12,2)) END) AS v1
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN orders o   ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n1  ON s.s_nationkey = n1.n_nationkey
  JOIN nation n2  ON c.c_nationkey = n2.n_nationkey
  JOIN region r   ON n2.n_regionkey = r.r_regionkey
  GROUP BY 1, 2, 3
)
SELECT o_year, cust_region,
       ROUND(CAST(sum(v1) AS DOUBLE) / CAST(sum(v) AS DOUBLE), 4)
           AS mkt_share,
       CAST(ROUND(sum(v), 2) AS DOUBLE) AS total_revenue
FROM rev GROUP BY 1, 2
""")
def tpch_q8_shape(spark, sf):
    """TPC-H Q8 (national market share): NATION_1's share of revenue
    per (year, customer region). One joined aggregate carries both
    the conditional and total DECIMAL sums (no second pass, no join
    back); the share divides two exact decimals in double at the very
    end. The dim chain customer→nation→region collapses into
    broadcasts; this is the shape where conditional aggregation
    replaces the naive 'aggregate twice and join' plan — half the
    shuffles at any scale."""
    li = t(spark, sf, "lineitem").select(
        "l_suppkey", "l_orderkey", "l_extendedprice", "l_discount")
    s = t(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    o = t(spark, sf, "orders").select("o_orderkey", "o_custkey",
                                      "o_orderdate")
    c = t(spark, sf, "customer").select("c_custkey", "c_nationkey")
    n1 = t(spark, sf, "nation").select(
        F.col("n_nationkey").alias("n1_key"),
        F.col("n_name").alias("supp_nation"))
    n2 = t(spark, sf, "nation").select(
        F.col("n_nationkey").alias("n2_key"),
        F.col("n_regionkey").alias("n2_region"))
    r = t(spark, sf, "region").select("r_regionkey",
                                      F.col("r_name").alias("cust_region"))
    rev = (F.col("l_extendedprice").cast("decimal(12,2)")
           * (F.lit(1) - F.col("l_discount")).cast("decimal(4,2)"))
    v1 = F.when(F.col("supp_nation") == "NATION_1", rev) \
          .otherwise(F.lit(0).cast("decimal(12,2)"))
    j = (li.join(s, F.col("s_suppkey") == F.col("l_suppkey"))
         .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
         .join(c, F.col("c_custkey") == F.col("o_custkey"))
         .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
         .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
         .join(F.broadcast(r), F.col("n2_region") == F.col("r_regionkey")))
    g = (j.groupBy(F.year("o_orderdate").cast("int").alias("o_year"),
                   "cust_region", "supp_nation")
         .agg(F.sum(rev).alias("v"), F.sum(v1).alias("v1")))
    return (g.groupBy("o_year", "cust_region")
            .agg(F.round(F.sum("v1").cast("double")
                         / F.sum("v").cast("double"), 4).alias("mkt_share"),
                 F.round(F.sum("v"), 2).cast("double")
                 .alias("total_revenue")))


@q("tpch_q9_shape", """
SELECT n.n_name AS nation, CAST(year(o.o_orderdate) AS INT) AS o_year,
       CAST(ROUND(sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
                      * CAST(1 - l.l_discount AS DECIMAL(4,2))
                      - CAST(l.l_quantity AS DECIMAL(12,2))
                        * CAST(p.p_retailprice AS DECIMAL(12,2))
                        * CAST(0.1 AS DECIMAL(2,1))), 2) AS DOUBLE)
           AS profit
FROM lineitem l
JOIN part p     ON p.p_partkey = l.l_partkey
JOIN supplier s ON s.s_suppkey = l.l_suppkey
JOIN orders o   ON o.o_orderkey = l.l_orderkey
JOIN nation n   ON s.s_nationkey = n.n_nationkey
WHERE p.p_name LIKE '%a%'
GROUP BY 1, 2
""")
def tpch_q9_shape(spark, sf):
    """TPC-H Q9 (product-type profit), adapted: no partsupp table in
    the driver schema, so supply cost is the deterministic proxy
    0.1 x retailprice x quantity — the PLAN is the point: a 5-way
    join where the part filter (LIKE) prunes the probe early, part/
    supplier/nation broadcast, and profit is a multi-term DECIMAL
    expression summed exactly (products of cents-scale decimals are
    exact rationals, so the multi-term sum survives the string-exact
    gate — same device as tpch_q1_shape)."""
    li = t(spark, sf, "lineitem").select(
        "l_partkey", "l_suppkey", "l_orderkey", "l_quantity",
        "l_extendedprice", "l_discount")
    p = (t(spark, sf, "part").filter(F.col("p_name").like("%a%"))
         .select("p_partkey", "p_retailprice"))
    s = t(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    o = t(spark, sf, "orders").select("o_orderkey", "o_orderdate")
    n = t(spark, sf, "nation").select("n_nationkey",
                                      F.col("n_name").alias("nation"))
    profit = (F.col("l_extendedprice").cast("decimal(12,2)")
              * (F.lit(1) - F.col("l_discount")).cast("decimal(4,2)")
              - F.col("l_quantity").cast("decimal(12,2)")
              * F.col("p_retailprice").cast("decimal(12,2)")
              * F.lit(0.1).cast("decimal(2,1)"))
    j = (li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
         .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
         .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
         .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")))
    return (j.groupBy("nation",
                      F.year("o_orderdate").cast("int").alias("o_year"))
            .agg(F.round(F.sum(profit), 2).cast("double").alias("profit")))


@q("tpch_q17_shape", """
WITH pa AS (
  SELECT l_partkey, avg(l_quantity) AS avg_qty
  FROM lineitem GROUP BY l_partkey
)
SELECT CAST(count(*) AS BIGINT) AS n_small_lots,
       ROUND(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(12,2)))
                  AS DOUBLE) / 7.0, 2) AS avg_yearly
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
JOIN pa    ON pa.l_partkey = l.l_partkey
WHERE p.p_brand = 'Brand#23' AND l.l_quantity < 0.5 * pa.avg_qty
""")
def tpch_q17_shape(spark, sf):
    """TPC-H Q17 (small-quantity-order revenue): the correlated
    scalar subquery avg(l_quantity per part) decorrelates to a
    group-by + join-back — computed over ALL parts once, then the
    brand filter prunes the probe. The avg comparison is
    cross-engine-deterministic because quantities are integral:
    their double sum is EXACT, so sum/count is the same IEEE
    division on both engines. At 100 TB the per-part aggregate is
    |parts|-sized — broadcastable — and the 'compute avg only for
    the filtered brand' optimization (pushing the brand filter into
    pa) would change semantics; keeping them separate is
    correctness, not a missed optimization."""
    li = t(spark, sf, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice")
    pa = li.groupBy("l_partkey").agg(F.avg("l_quantity").alias("avg_qty"))
    p = (t(spark, sf, "part").filter(F.col("p_brand") == "Brand#23")
         .select("p_partkey"))
    j = (li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
         .join(pa.withColumnRenamed("l_partkey", "pa_key"),
               F.col("pa_key") == F.col("l_partkey"))
         .filter(F.col("l_quantity") < 0.5 * F.col("avg_qty")))
    return j.agg(
        F.count("*").cast("bigint").alias("n_small_lots"),
        F.round(F.sum(F.col("l_extendedprice").cast("decimal(12,2)"))
                .cast("double") / 7.0, 2).alias("avg_yearly"))


@q("tpch_q18_shape", """
WITH big AS (
  SELECT l_orderkey, sum(l_quantity) AS sum_qty
  FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 300
)
SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice,
       CAST(b.sum_qty AS BIGINT) AS sum_qty
FROM big b
JOIN orders o   ON o.o_orderkey = b.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
ORDER BY o.o_totalprice DESC, o.o_orderdate, o.o_orderkey
LIMIT 100
""")
def tpch_q18_shape(spark, sf):
    """TPC-H Q18 (large-volume customer) — completes the full 22-shape
    suite. The classic IN (SELECT ... HAVING sum > 300) subquery
    decorrelates to one lineitem aggregate; because TPC-H's final
    GROUP BY keys are unique per order, the re-aggregation collapses
    and sum_qty IS the HAVING aggregate — no second pass over
    lineitem. Quantities are integral so the double sum is exact and
    the >300 predicate and BIGINT cast are cross-engine-deterministic.
    At 100 TB: the qualifying-order set is tiny (46 orders at sf0.01),
    so both joins broadcast and lineitem is touched exactly once; the
    ORDER BY+LIMIT plans as TakeOrderedAndProject with the unique
    o_orderkey tie-break making the top-100 set deterministic."""
    li = t(spark, sf, "lineitem").select("l_orderkey", "l_quantity")
    big = (li.groupBy("l_orderkey")
           .agg(F.sum("l_quantity").alias("sum_qty"))
           .filter(F.col("sum_qty") > 300))
    o = t(spark, sf, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    c = t(spark, sf, "customer").select("c_custkey", "c_name")
    j = (o.join(F.broadcast(big), F.col("o_orderkey") == F.col("l_orderkey"))
         .join(c, "c_custkey"))
    return (j.select("c_name", "c_custkey", "o_orderkey", "o_orderdate",
                     "o_totalprice",
                     F.col("sum_qty").cast("bigint").alias("sum_qty"))
            .orderBy(F.col("o_totalprice").desc(), "o_orderdate",
                     "o_orderkey")
            .limit(100))


@q("tpch_q21_shape", """
SELECT s.s_name, CAST(count(*) AS BIGINT) AS numwait
FROM supplier s
JOIN lineitem l1 ON s.s_suppkey = l1.l_suppkey
JOIN orders o    ON o.o_orderkey = l1.l_orderkey
WHERE o.o_orderstatus = 'F'
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > l1.l_shipdate)
GROUP BY s.s_name
ORDER BY numwait DESC, s.s_name
LIMIT 20
""")
def tpch_q21_shape(spark, sf):
    """TPC-H Q21 (suppliers who kept waiting), adapted to shipdate:
    the last shipper in multi-supplier finished orders. The EXISTS /
    NOT EXISTS pair decorrelates to a LEFT SEMI then LEFT ANTI join
    against the same lineitem relation on the same orderkey — the
    plan Spark reuses one exchange for; the anti join's residual
    (later shipdate, different supplier) runs post-match. Top-20 via
    TakeOrderedAndProject with the name tiebreak. The classic
    'self-join three ways on one fact' query; at 100 TB all three
    legs shuffle on l_orderkey, so they co-partition and the extra
    legs are cheap."""
    s = t(spark, sf, "supplier").select("s_suppkey", "s_name")
    li = t(spark, sf, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate")
    o = (t(spark, sf, "orders").filter(F.col("o_orderstatus") == "F")
         .select("o_orderkey"))
    l1 = li.alias("l1")
    # SHUFFLE_HASH on the semi/anti legs (guide §3.1): at fact-table
    # stats the planner falls back to sort-merge for these
    # extra-condition joins, sorting all three 6M-row legs; the hint
    # pins shuffled-hash (no sorts — the per-partition build is
    # lineitem/N_partitions, so it is bounded only by partition sizing:
    # a shuffled-hash build has no sort-merge spill fallback, and AQE's
    # skew-split cannot split a semi/anti join's build side, so a hot
    # l_orderkey lands whole in one task's hash map). Measured at the
    # 10× replica: median 1.64 → 1.44 s interleaved, and the executed
    # plan's three Sort nodes disappear.
    l2 = li.select(F.col("l_orderkey").alias("k2"),
                   F.col("l_suppkey").alias("s2")).hint("shuffle_hash")
    l3 = li.select(F.col("l_orderkey").alias("k3"),
                   F.col("l_suppkey").alias("s3"),
                   F.col("l_shipdate").alias("d3")).hint("shuffle_hash")
    cand = (l1.join(o, F.col("l1.l_orderkey") == F.col("o_orderkey"))
            .join(l2, (F.col("k2") == F.col("l1.l_orderkey"))
                  & (F.col("s2") != F.col("l1.l_suppkey")), "left_semi")
            .join(l3, (F.col("k3") == F.col("l1.l_orderkey"))
                  & (F.col("s3") != F.col("l1.l_suppkey"))
                  & (F.col("d3") > F.col("l1.l_shipdate")), "left_anti"))
    return (cand.join(F.broadcast(s),
                      F.col("l1.l_suppkey") == F.col("s_suppkey"))
            .groupBy("s_name")
            .agg(F.count("*").cast("bigint").alias("numwait"))
            .orderBy(F.col("numwait").desc(), "s_name").limit(20))


@q("tpch_q22_shape", """
WITH t AS (
  SELECT CAST(count(*) AS BIGINT) AS cnt,
         sum(CAST(c_acctbal AS DECIMAL(14,2))) AS tot
  FROM customer WHERE c_acctbal > 0
)
SELECT substr(c.c_name, -1) AS bucket,
       CAST(count(*) AS BIGINT) AS n_cust,
       ROUND(CAST(sum(CAST(c.c_acctbal AS DECIMAL(14,2))) AS DOUBLE), 2)
           AS total_bal
FROM customer c, t
WHERE CAST(c.c_acctbal AS DECIMAL(14,2)) * t.cnt > t.tot
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= TIMESTAMP '1999-01-01')
GROUP BY 1
""")
def tpch_q22_shape(spark, sf):
    """TPC-H Q22 (global sales opportunity), adapted: above-average-
    balance customers with NO recent orders, bucketed by name suffix.
    Two portability devices: (1) the 'above average' cut is computed
    MULTIPLICATIVELY (bal x count > total, all DECIMAL-exact) —
    dividing would make the cutoff a float and the boundary
    engine-dependent; (2) the anti join is time-scoped or it is
    vacuously empty (every customer has SOME order — the
    segment_clicks_no_purchase lesson). The 1-row aggregate comes
    back as a broadcast; the anti join runs against the date-pruned
    orders slice only."""
    c = t(spark, sf, "customer")
    tot = (c.filter(F.col("c_acctbal") > 0)
           .agg(F.count("*").cast("bigint").alias("cnt"),
                F.sum(F.col("c_acctbal").cast("decimal(14,2)"))
                .alias("tot")))
    recent = (t(spark, sf, "orders")
              .filter(F.col("o_orderdate") >= "1999-01-01")
              .select("o_custkey"))
    return (c.crossJoin(F.broadcast(tot))
            .filter(F.col("c_acctbal").cast("decimal(14,2)") * F.col("cnt")
                    > F.col("tot"))
            .join(recent, F.col("o_custkey") == F.col("c_custkey"),
                  "left_anti")
            .groupBy(F.substring("c_name", -1, 1).alias("bucket"))
            .agg(F.count("*").cast("bigint").alias("n_cust"),
                 F.round(F.sum(F.col("c_acctbal").cast("decimal(14,2)"))
                         .cast("double"), 2).alias("total_bal")))


# =========================================================================
# TPC-H widening, batch 2: q2 / q11 / q12 / q13 / q15 / q16 / q20 shapes
# (driver schema has no partsupp/shipmode/comment — the part<->supplier
# relation rides the lineitem bridge and textual predicates use the
# columns that exist; every predicate probed non-empty at sf0.001 AND
# sf0.01)
# =========================================================================

@q("tpch_q2_shape", """
WITH px AS (
  SELECT DISTINCT l.l_partkey, l.l_suppkey
  FROM lineitem l
  JOIN part p ON p.p_partkey = l.l_partkey
  WHERE p.p_type = 'STANDARD' AND p.p_size <= 5
), ranked AS (
  SELECT px.l_partkey AS p_key, s.s_suppkey, s.s_name, s.s_acctbal,
         n.n_name,
         row_number() OVER (PARTITION BY px.l_partkey
                            ORDER BY s.s_acctbal ASC, s.s_suppkey ASC)
             AS rk
  FROM px
  JOIN supplier s ON s.s_suppkey = px.l_suppkey
  JOIN nation n   ON n.n_nationkey = s.s_nationkey
  JOIN region r   ON r.r_regionkey = n.n_regionkey
  WHERE r.r_name = 'ASIA'
)
SELECT p_key AS p_partkey, s_suppkey, s_name,
       ROUND(CAST(s_acctbal AS DOUBLE), 2) AS min_acctbal, n_name
FROM ranked WHERE rk = 1
""")
def tpch_q2_shape(spark, sf):
    """TPC-H Q2 (minimum cost supplier), adapted: no partsupp, so the
    part<->supplier relation is DISTINCT(l_partkey, l_suppkey) off the
    lineitem bridge, and 'min supplycost' becomes min s_acctbal with
    the s_suppkey tiebreak (ties otherwise make the winner
    engine-dependent). The correlated '= (SELECT min ...)' of the
    original decorrelates to ONE window pass instead of an aggregate +
    join-back — same result, one shuffle fewer. Supplier, nation,
    region all broadcast; the region filter prunes before ranking."""
    li = t(spark, sf, "lineitem").select("l_partkey", "l_suppkey")
    p = (t(spark, sf, "part")
         .filter((F.col("p_type") == "STANDARD") & (F.col("p_size") <= 5))
         .select("p_partkey"))
    px = (li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
          .select("l_partkey", "l_suppkey").distinct())
    s = t(spark, sf, "supplier").select("s_suppkey", "s_name", "s_acctbal",
                                        "s_nationkey")
    n = t(spark, sf, "nation").select("n_nationkey", "n_name", "n_regionkey")
    r = (t(spark, sf, "region").filter(F.col("r_name") == "ASIA")
         .select("r_regionkey"))
    j = (px.join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
         .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
         .join(F.broadcast(r), F.col("r_regionkey") == F.col("n_regionkey")))
    w = W.partitionBy("l_partkey").orderBy(F.col("s_acctbal").asc(),
                                           F.col("s_suppkey").asc())
    return (j.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") == 1)
            .select(F.col("l_partkey").alias("p_partkey"), "s_suppkey",
                    "s_name",
                    F.round(F.col("s_acctbal").cast("double"), 2)
                    .alias("min_acctbal"), "n_name"))


@q("tpch_q11_shape", """
WITH pv AS (
  SELECT l.l_partkey,
         sum(CAST(l.l_extendedprice AS DECIMAL(12,2))
             * CAST(1 - l.l_discount AS DECIMAL(4,2))) AS v
  FROM lineitem l
  JOIN supplier s ON s.s_suppkey = l.l_suppkey
  JOIN nation n   ON n.n_nationkey = s.s_nationkey
  WHERE n.n_name = 'NATION_12'
  GROUP BY 1
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_parts, sum(v) AS total FROM pv
)
SELECT pv.l_partkey AS p_partkey,
       CAST(ROUND(pv.v, 2) AS DOUBLE) AS part_value
FROM pv, tot
WHERE pv.v * tot.n_parts > tot.total
""")
def tpch_q11_shape(spark, sf):
    """TPC-H Q11 (important stock), adapted: per-part traded value
    through NATION_12's suppliers, keeping parts whose value exceeds
    the average part value. Two portability devices carried from
    tpch_q22_shape: the cut is MULTIPLICATIVE on exact decimals
    (v * n > total — a fractional threshold would be a float
    boundary), and it is RELATIVE (above average), so the result is
    non-empty at every scale short of all-equal values, unlike the
    original's fraction-of-total which needs per-SF retuning. The
    1-row total comes back as a broadcast nested-loop join."""
    li = t(spark, sf, "lineitem").select("l_partkey", "l_suppkey",
                                         "l_extendedprice", "l_discount")
    s = t(spark, sf, "supplier").select("s_suppkey", "s_nationkey")
    n = (t(spark, sf, "nation").filter(F.col("n_name") == "NATION_12")
         .select("n_nationkey"))
    rev = (F.col("l_extendedprice").cast("decimal(12,2)")
           * (F.lit(1) - F.col("l_discount")).cast("decimal(4,2)"))
    pv = (li.join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
          .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
          .groupBy("l_partkey").agg(F.sum(rev).alias("v")))
    tot = pv.agg(F.count("*").cast("bigint").alias("n_parts"),
                 F.sum("v").alias("total"))
    return (pv.crossJoin(F.broadcast(tot))
            .filter(F.col("v") * F.col("n_parts") > F.col("total"))
            .select(F.col("l_partkey").alias("p_partkey"),
                    F.round(F.col("v"), 2).cast("double")
                    .alias("part_value")))


@q("tpch_q12_shape", """
SELECT l.l_linestatus,
       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders o
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
  AND l.l_shipdate <  TIMESTAMP '1998-01-01'
GROUP BY 1
""")
def tpch_q12_shape(spark, sf):
    """TPC-H Q12 (shipping mode / priority), adapted: no l_shipmode
    column, so the grouping rides l_linestatus and the year window
    rides l_shipdate (no receiptdate). The shape is the point: one
    fact-fact join where BOTH conditional counts come out of a single
    aggregate pass — the naive two-filter/two-agg/join plan doubles
    the shuffle for the same answer. The shipdate range pushes into
    the lineitem scan before the join."""
    li = (t(spark, sf, "lineitem")
          .filter((F.col("l_shipdate") >= "1997-01-01")
                  & (F.col("l_shipdate") < "1998-01-01"))
          .select("l_orderkey", "l_linestatus"))
    o = t(spark, sf, "orders").select("o_orderkey", "o_orderpriority")
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
            .groupBy("l_linestatus")
            .agg(F.sum(F.when(hi, 1).otherwise(0)).cast("bigint")
                 .alias("high_line_count"),
                 F.sum(F.when(~hi, 1).otherwise(0)).cast("bigint")
                 .alias("low_line_count")))


@q("tpch_q13_shape", """
WITH co AS (
  SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS c_count
  FROM customer c
  LEFT JOIN orders o ON o.o_custkey = c.c_custkey
                    AND o.o_orderpriority <> '1-URGENT'
  GROUP BY 1
)
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM co GROUP BY 1
""")
def tpch_q13_shape(spark, sf):
    """TPC-H Q13 (customer order-count distribution), adapted: the
    'special requests' comment filter becomes a priority exclusion
    INSIDE the join condition — the filter must ride the ON clause,
    not a WHERE, or customers whose every order is urgent fall out
    instead of counting as zero. count(o_orderkey) counts non-nulls,
    so unmatched customers contribute c_count=0 rows to the
    histogram. Two aggregates: the first shuffles on custkey (the
    join's own key — co-partitioned, no extra exchange), the second
    on the tiny c_count domain."""
    c = t(spark, sf, "customer").select("c_custkey")
    o = (t(spark, sf, "orders")
         .filter(F.col("o_orderpriority") != "1-URGENT")
         .select("o_custkey", "o_orderkey"))
    co = (c.join(o, F.col("o_custkey") == F.col("c_custkey"), "left")
          .groupBy("c_custkey")
          .agg(F.count("o_orderkey").cast("bigint").alias("c_count")))
    return (co.groupBy("c_count")
            .agg(F.count("*").cast("bigint").alias("custdist")))


@q("tpch_q15_shape", """
WITH sr AS (
  SELECT l_suppkey,
         sum(CAST(l_extendedprice AS DECIMAL(12,2))
             * CAST(1 - l_discount AS DECIMAL(4,2))) AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01'
    AND l_shipdate <  TIMESTAMP '1997-04-01'
  GROUP BY 1
)
SELECT s.s_suppkey, s.s_name,
       CAST(ROUND(sr.total_rev, 2) AS DOUBLE) AS total_revenue
FROM sr JOIN supplier s ON s.s_suppkey = sr.l_suppkey
WHERE sr.total_rev = (SELECT max(total_rev) FROM sr)
""")
def tpch_q15_shape(spark, sf):
    """TPC-H Q15 (top supplier): the revenue view + 'equals the max'
    correlation. The equality is safe under the string-exact gate
    ONLY because total_rev stays DECIMAL end-to-end — the max and the
    per-supplier values are the same exact rationals on both engines,
    so ties (all suppliers tied at the max included, per spec) break
    identically. The 1-row max broadcasts back against the grouped
    view; Spark reuses the sr subplan for both sides."""
    li = (t(spark, sf, "lineitem")
          .filter((F.col("l_shipdate") >= "1997-01-01")
                  & (F.col("l_shipdate") < "1997-04-01")))
    rev = (F.col("l_extendedprice").cast("decimal(12,2)")
           * (F.lit(1) - F.col("l_discount")).cast("decimal(4,2)"))
    sr = li.groupBy("l_suppkey").agg(F.sum(rev).alias("total_rev"))
    mx = sr.agg(F.max("total_rev").alias("mx"))
    s = t(spark, sf, "supplier").select("s_suppkey", "s_name")
    return (sr.crossJoin(F.broadcast(mx))
            .filter(F.col("total_rev") == F.col("mx"))
            .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
            .select("s_suppkey", "s_name",
                    F.round(F.col("total_rev"), 2).cast("double")
                    .alias("total_revenue")))


@q("tpch_q16_shape", """
SELECT p.p_brand, p.p_type, p.p_size,
       CAST(count(DISTINCT l.l_suppkey) AS BIGINT) AS supplier_cnt
FROM lineitem l
JOIN part p ON p.p_partkey = l.l_partkey
WHERE p.p_brand <> 'Brand#1' AND p.p_type <> 'PROMO' AND p.p_size <= 10
  AND l.l_suppkey NOT IN (
    SELECT s.s_suppkey FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE n.n_name = 'NATION_0')
GROUP BY 1, 2, 3
""")
def tpch_q16_shape(spark, sf):
    """TPC-H Q16 (parts/supplier relationship), adapted: supplier
    variety per (brand, type, size) over the lineitem bridge, with
    the 'complaint suppliers' exclusion standing in as NATION_0's
    suppliers. NOT IN over a provably non-null key list compiles to a
    LEFT ANTI join (with nullable keys it would need the
    null-aware single-column plan — the classic NOT IN trap);
    count(DISTINCT) shuffles once on the group keys with the distinct
    folded into the aggregate's first phase."""
    p = (t(spark, sf, "part")
         .filter((F.col("p_brand") != "Brand#1")
                 & (F.col("p_type") != "PROMO") & (F.col("p_size") <= 10))
         .select("p_partkey", "p_brand", "p_type", "p_size"))
    li = t(spark, sf, "lineitem").select("l_partkey", "l_suppkey")
    excl = (t(spark, sf, "supplier")
            .join(F.broadcast(t(spark, sf, "nation")
                              .filter(F.col("n_name") == "NATION_0")
                              .select("n_nationkey")),
                  F.col("n_nationkey") == F.col("s_nationkey"))
            .select("s_suppkey"))
    return (li.join(F.broadcast(excl),
                    F.col("s_suppkey") == F.col("l_suppkey"), "left_anti")
            .join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
            .groupBy("p_brand", "p_type", "p_size")
            .agg(F.count_distinct(F.col("l_suppkey")).cast("bigint")
                 .alias("supplier_cnt")))


@q("tpch_q20_shape", """
WITH sq AS (
  SELECT l.l_suppkey, sum(l.l_quantity) AS qty
  FROM lineitem l
  JOIN part p ON p.p_partkey = l.l_partkey
  WHERE p.p_type = 'PROMO'
    AND l.l_shipdate >= TIMESTAMP '1997-01-01'
    AND l.l_shipdate <  TIMESTAMP '1998-01-01'
  GROUP BY 1
), tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n_supp, sum(qty) AS total FROM sq
)
SELECT s.s_suppkey, s.s_name, n.n_name,
       CAST(sq.qty AS DOUBLE) AS promo_qty
FROM sq
JOIN supplier s ON s.s_suppkey = sq.l_suppkey
JOIN nation n   ON n.n_nationkey = s.s_nationkey, tot
WHERE sq.qty * tot.n_supp > tot.total
""")
def tpch_q20_shape(spark, sf):
    """TPC-H Q20 (potential part promotion), adapted: suppliers who
    moved an above-average quantity of PROMO parts in 1997 (the
    original's 'availqty > half of shipped' needs partsupp). The
    above-average cut is exact across engines because l_quantity is
    integral — integer-valued doubles sum exactly below 2^53, so
    qty * n > total is the same comparison on both sides, no decimal
    casts needed. The per-supplier aggregate is |suppliers|-sized;
    everything after it broadcasts."""
    p = (t(spark, sf, "part").filter(F.col("p_type") == "PROMO")
         .select("p_partkey"))
    li = (t(spark, sf, "lineitem")
          .filter((F.col("l_shipdate") >= "1997-01-01")
                  & (F.col("l_shipdate") < "1998-01-01"))
          .select("l_partkey", "l_suppkey", "l_quantity"))
    sq = (li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
          .groupBy("l_suppkey").agg(F.sum("l_quantity").alias("qty")))
    tot = sq.agg(F.count("*").cast("bigint").alias("n_supp"),
                 F.sum("qty").alias("total"))
    s = t(spark, sf, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    n = t(spark, sf, "nation").select("n_nationkey", "n_name")
    return (sq.crossJoin(F.broadcast(tot))
            .filter(F.col("qty") * F.col("n_supp") > F.col("total"))
            .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
            .join(F.broadcast(n), F.col("n_nationkey") == F.col("s_nationkey"))
            .select("s_suppkey", "s_name", "n_name",
                    F.col("qty").cast("double").alias("promo_qty")))


@q("assoc_pairs_support", """
WITH b AS (
  SELECT l_orderkey, list_sort(list(DISTINCT l_partkey)) AS items
  FROM lineitem GROUP BY l_orderkey
), n AS (
  SELECT CAST(count(*) AS DOUBLE) AS n_orders FROM b
), pairs AS (
  SELECT x.item_a, x.item_b, CAST(count(*) AS BIGINT) AS pair_cnt
  FROM b, LATERAL (
    SELECT a.i AS item_a, c.i AS item_b
    FROM unnest(b.items) a(i) JOIN unnest(b.items) c(i) ON a.i < c.i
  ) x
  GROUP BY 1, 2 HAVING count(*) >= 3
), item AS (
  SELECT i AS l_partkey, CAST(count(*) AS BIGINT) AS item_cnt
  FROM b, unnest(b.items) t(i) GROUP BY 1
)
SELECT p.item_a, p.item_b, p.pair_cnt,
       ia.item_cnt AS cnt_a, ib.item_cnt AS cnt_b,
       ROUND(CAST(p.pair_cnt AS DOUBLE) / ia.item_cnt, 6) AS conf_a_to_b,
       ROUND(CAST(p.pair_cnt AS DOUBLE) * n.n_orders
             / (ia.item_cnt * ib.item_cnt), 4) AS lift
FROM pairs p
JOIN item ia ON p.item_a = ia.l_partkey
JOIN item ib ON p.item_b = ib.l_partkey, n
""")
def assoc_pairs_support(spark, sf):
    """Market-basket association pairs (support / confidence / lift) —
    the co-occurrence primitive behind recommendation candidates and
    frequent-itemset mining. Baskets are orders, items their distinct
    part keys, gathered ONCE per order (collect_set rides a single
    exchange on the basket key); candidate pairs are then expanded
    INSIDE the sorted item array (nested transform, i < j) — so the
    fanout is bounded by basket size squared (TPC-H baskets hold ≤ 7
    items), never by a self-join that re-shuffles the item table. The
    basket frame is reused three ways (pair counts, per-item supports,
    basket total); Catalyst dedups the identical scan+gather subtree
    via ReusedExchange. Per-item supports are |parts|-sized and
    broadcast to the pair counts; lift multiplies before dividing in
    the SAME association order on both engines (fp parity).

    At 100 TB: one wide exchange on basket id + one on the pair key —
    both unavoidable (they ARE the aggregation keys); a retail-scale
    hot basket is bounded by a basket-size cap upstream, and the
    HAVING minsup prunes the pair tail before the support joins."""
    li = t(spark, sf, "lineitem").select("l_orderkey", "l_partkey")
    # The basket frame feeds THREE consumers (pair counts, per-item
    # supports, basket total). ReusedExchange only dedups the scan+
    # shuffle — each branch still re-runs the collect_set aggregation
    # over 6M post-shuffle rows. localCheckpoint materializes the
    # basket table once (|orders| rows of short arrays, guide §5's
    # cheap lineage cut), so the gather aggregation runs once per
    # invocation instead of three times. Fresh per call — nothing
    # persists across runs. Measured 7.3 s → ~3 s at sf1.0.
    baskets = (li.groupBy("l_orderkey")
               .agg(F.array_sort(F.collect_set("l_partkey")).alias("items"))
               .localCheckpoint())
    pair_expr = F.expr("""
        flatten(transform(items, x ->
            transform(filter(items, y -> y > x),
                      y -> struct(x AS item_a, y AS item_b))))
    """)
    pairs = (baskets.select(F.explode(pair_expr).alias("pr"))
             .groupBy(F.col("pr.item_a").alias("item_a"),
                      F.col("pr.item_b").alias("item_b"))
             .agg(F.count("*").cast("bigint").alias("pair_cnt"))
             .filter(F.col("pair_cnt") >= 3))
    item = (baskets.select(F.explode("items").alias("l_partkey"))
            .groupBy("l_partkey")
            .agg(F.count("*").cast("bigint").alias("item_cnt")))
    n = baskets.agg(F.count("*").cast("double").alias("n_orders"))
    ia = item.select(F.col("l_partkey").alias("item_a"),
                     F.col("item_cnt").alias("cnt_a"))
    ib = item.select(F.col("l_partkey").alias("item_b"),
                     F.col("item_cnt").alias("cnt_b"))
    return (pairs.join(F.broadcast(ia), "item_a")
            .join(F.broadcast(ib), "item_b")
            .crossJoin(F.broadcast(n))
            .select("item_a", "item_b", "pair_cnt", "cnt_a", "cnt_b",
                    F.round(F.col("pair_cnt").cast("double")
                            / F.col("cnt_a"), 6).alias("conf_a_to_b"),
                    F.round(F.col("pair_cnt").cast("double") * F.col("n_orders")
                            / (F.col("cnt_a") * F.col("cnt_b")), 4)
                    .alias("lift")))


@q("sql_group_by_all", """
SELECT o_orderstatus, o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       ROUND(CAST(sum(CAST(o_totalprice AS DECIMAL(14,2))) AS DOUBLE), 2)
           AS total_price
FROM orders
GROUP BY ALL
""")
def sql_group_by_all(spark, sf):
    """SQL-surface key: GROUP BY ALL (Spark 3.4+/DuckDB) — every
    non-aggregate select item becomes a grouping key, the ergonomic
    form analysts reach for first. Resolves at ANALYSIS time to the
    identical Aggregate node as an explicit GROUP BY 1,2 (same
    map-side partial agg, same exchange on the two keys), so the sugar
    costs nothing at any scale; this key pins the resolution rule
    against an engine that implements the same sugar independently."""
    t(spark, sf, "orders").createOrReplaceTempView("gba_orders")
    return spark.sql("""
        SELECT o_orderstatus, o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_orders,
               ROUND(CAST(sum(CAST(o_totalprice AS DECIMAL(14,2)))
                          AS DOUBLE), 2) AS total_price
        FROM gba_orders
        GROUP BY ALL
    """)


@q("sql_unpivot_syntax", """
SELECT c_custkey, 'balance' AS measure, CAST(c_acctbal AS DOUBLE) AS value
FROM customer
UNION ALL
SELECT c_custkey, 'nation10' AS measure, CAST(c_nationkey * 10.0 AS DOUBLE)
FROM customer
""")
def sql_unpivot_syntax(spark, sf):
    """SQL-surface key: the native UNPIVOT clause (Spark 3.4+),
    complementing unpivot_long's stack() form — wide→long as a
    RELATIONAL operator with NULL-dropping semantics rather than a
    generator expression. Parses to the same Expand node as stack():
    row count multiplies by the measure count with zero shuffle, so
    at 100 TB it is a pure map-side width-for-height trade that
    pipelines into whatever aggregation follows. The oracle is the
    portable UNION ALL expansion (DuckDB's UNPIVOT spells the clause
    differently; semantics, not syntax, are the contract)."""
    t(spark, sf, "customer").createOrReplaceTempView("unp_customer")
    return spark.sql("""
        SELECT c_custkey, measure, value FROM (
          SELECT c_custkey, CAST(c_acctbal AS DOUBLE) AS balance,
                 CAST(c_nationkey * 10.0 AS DOUBLE) AS nation10
          FROM unp_customer
        ) UNPIVOT (value FOR measure IN (balance, nation10))
    """)


@q("agg_weighted_median", """
WITH s AS (
  SELECT l_returnflag, CAST(l_extendedprice AS DOUBLE) AS v,
         CAST(l_quantity AS DOUBLE) AS w, l_orderkey, l_linenumber
  FROM lineitem
), c AS (
  SELECT l_returnflag, v,
         sum(w) OVER (PARTITION BY l_returnflag
                      ORDER BY v, l_orderkey, l_linenumber) AS cw
  FROM s
), tot AS (
  SELECT l_returnflag, v, cw,
         max(cw) OVER (PARTITION BY l_returnflag) AS tw
  FROM c
)
SELECT l_returnflag, ROUND(min(v) + 0.0, 2) AS weighted_median
FROM tot WHERE cw >= tw / 2.0
GROUP BY l_returnflag
""")
def agg_weighted_median(spark, sf):
    """Weighted median — the robust center the plain percentile family
    (agg_percentile, agg_percentile_disc) cannot give when each row
    carries a weight (here: price weighted by quantity, i.e. the
    median DOLLAR, not the median LINE). Selection form: sort by
    value, running-sum the weights, take the first value whose
    cumulative weight crosses half the total. The running sum is
    ordered by a UNIQUE key (v, orderkey, linenumber) so tie rows
    accumulate in the same sequence on both engines and every cw is
    ULP-identical; the partition total is max(cw) — a max over
    identical doubles, deterministic under any aggregation order —
    rather than an unordered sum(w), which is NOT.

    At 100 TB: one sort exchange per group key (the same shuffle an
    exact median needs); no second pass, because the total rides the
    same window as the cumulative. For sketch-budget pipelines the
    approx twin is percentile_approx over repeated values — this key
    is the exact anchor it gets verified against."""
    li = t(spark, sf, "lineitem").select(
        "l_returnflag",
        F.col("l_extendedprice").cast("double").alias("v"),
        F.col("l_quantity").cast("double").alias("w"),
        "l_orderkey", "l_linenumber")
    wo = (W.partitionBy("l_returnflag")
          .orderBy("v", "l_orderkey", "l_linenumber"))
    c = li.withColumn("cw", F.sum("w").over(wo))
    tot = c.withColumn("tw", F.max("cw").over(W.partitionBy("l_returnflag")))
    return (tot.filter(F.col("cw") >= F.col("tw") / 2.0)
            .groupBy("l_returnflag")
            .agg(F.round(F.min("v") + 0.0, 2).alias("weighted_median")))


@q("join_geo_haversine", """
WITH p AS (
  SELECT vec_id,
         40.0 + ROUND(CAST(embedding[1] AS DOUBLE), 4) * 4.0 AS lat,
         -74.0 + ROUND(CAST(embedding[2] AS DOUBLE), 4) * 4.0 AS lon
  FROM embeddings
), cell AS (
  SELECT vec_id, lat, lon,
         CAST(floor(lat / 0.25) AS INTEGER) AS cx,
         CAST(floor(lon / 0.32) AS INTEGER) AS cy
  FROM p
), cand AS (
  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         a.lat AS alat, a.lon AS alon, b.lat AS blat, b.lon AS blon
  FROM cell a JOIN cell b
    ON a.vec_id < b.vec_id
   AND abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1
), d AS (
  SELECT a_id, b_id,
         12742.0 * asin(sqrt(
             pow(sin(radians(blat - alat) / 2.0), 2)
             + cos(radians(alat)) * cos(radians(blat))
               * pow(sin(radians(blon - alon) / 2.0), 2))) AS km
  FROM cand
)
SELECT a_id, b_id, ROUND(km, 6) + 0.0 AS dist_km
FROM d WHERE ROUND(km, 6) <= 25.0
""")
def join_geo_haversine(spark, sf):
    """Geo-distance self-join on the SPHERE — the haversine variant of
    join_spatial_grid's planar pairing, the shape every store-locator
    / geofence / trajectory pipeline runs. Coordinates derive
    deterministically from the first two embedding dims (fixture
    mapping, rounded at 4 dp so the cast is engine-identical); the
    candidate step buckets points into grid cells sized >= the radius
    on BOTH axes — 0.25 deg lat (27.8 km) and 0.32 deg lon (26.4 km
    at this corpus's max latitude ~42 deg, where a lon degree is
    cos(42)*111.32 = 82.7 km) — so the 3x3 neighborhood provably
    contains every pair within 25 km (completeness is
    brute-force-verified in tests). The oracle mirrors the SAME cell
    predicate so both engines evaluate identical candidate sets, and
    at scale the neighborhood join is a bounded equi-join fanout,
    never all-pairs.
    The threshold compares the 6-dp-ROUNDED distance on both sides:
    sin/cos/asin are libm calls that may differ in the last ULP
    between the JVM and DuckDB, and rounding before the comparison
    (psi/zipf precedent) keeps the kept-pair set identical.

    At 100 TB: hash exchange on cell id; skewed cells (urban cores)
    are the hot-bucket problem the LSH scanners solved — the same
    pre-gather count cap applies if density demands it."""
    em = t(spark, sf, "embeddings")
    p = em.select(
        "vec_id",
        (40.0 + F.round(F.col("embedding")[0].cast("double"), 4) * 4.0)
        .alias("lat"),
        (-74.0 + F.round(F.col("embedding")[1].cast("double"), 4) * 4.0)
        .alias("lon"))
    cell = p.select(
        "*",
        F.floor(F.col("lat") / 0.25).cast("int").alias("cx"),
        F.floor(F.col("lon") / 0.32).cast("int").alias("cy"))
    a = cell.select(F.col("vec_id").alias("a_id"),
                    F.col("lat").alias("alat"), F.col("lon").alias("alon"),
                    F.col("cx").alias("acx"), F.col("cy").alias("acy"),
                    F.explode(F.sequence(F.lit(-1), F.lit(1))).alias("dx"))
    a = a.select("*", F.explode(F.sequence(F.lit(-1), F.lit(1))).alias("dy"),
                 (F.col("acx") + F.col("dx")).alias("jx"))
    a = a.withColumn("jy", F.col("acy") + F.col("dy"))
    b = cell.select(F.col("vec_id").alias("b_id"),
                    F.col("lat").alias("blat"), F.col("lon").alias("blon"),
                    F.col("cx").alias("bcx"), F.col("cy").alias("bcy"))
    cand = (a.join(b, (F.col("jx") == F.col("bcx"))
                   & (F.col("jy") == F.col("bcy"))
                   & (F.col("a_id") < F.col("b_id"))))
    km = 12742.0 * F.asin(F.sqrt(
        F.pow(F.sin(F.radians(F.col("blat") - F.col("alat")) / 2.0), 2)
        + F.cos(F.radians("alat")) * F.cos(F.radians("blat"))
        * F.pow(F.sin(F.radians(F.col("blon") - F.col("alon")) / 2.0), 2)))
    d = cand.select("a_id", "b_id", km.alias("km"))
    return (d.filter(F.round("km", 6) <= 25.0)
            .select("a_id", "b_id",
                    (F.round("km", 6) + 0.0).alias("dist_km")))


@q("agg_hopping_window_batch", """
WITH hops AS (
  SELECT event_id, event_type, value,
         (epoch_us(ts) // 21600000000) * 21600000000
           - CAST(h AS BIGINT) * 21600000000 AS start_us
  FROM events
  CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS h)
)
SELECT make_timestamp(start_us) AS win_start, event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       ROUND(sum(COALESCE(value, 0.0)), 2) + 0.0 AS sum_value
FROM hops
GROUP BY start_us, event_type
""")
def agg_hopping_window_batch(spark, sf):
    """Hopping (sliding) window aggregation in BATCH mode — Spark's
    F.window(ts, '24 hours', '6 hours') works outside streaming too,
    assigning each event to the 4 overlapping day-long windows that
    contain it. This is the backfill twin of stream_sliding: the same
    window spec recomputes history at rest, so a streaming pipeline's
    dashboard can be reconstructed exactly after a logic change. The
    oracle expands hops explicitly — each event belongs to exactly
    the 4 slide-aligned starts floor6h(ts) - k*6h, k in 0..3, computed
    in EXACT integer epoch micros (Spark's window alignment is
    epoch-anchored, startTime 0) — because DuckDB has no
    window-assignment table function; semantics, not syntax, are the
    contract.

    At 100 TB: window assignment is a map-side explode (x4 rows for a
    24h/6h spec), then one combinable aggregate on (win, key) — no
    state store needed in batch, and AQE coalesces the post-agg
    partitions. The x(size/slide) blowup is the known cost of hopping
    specs; 24h/6h keeps it 4."""
    e = t(spark, sf, "events")
    win = F.window("ts", "24 hours", "6 hours")
    return (e.groupBy(win.alias("w"), F.col("event_type"))
            .agg(F.count("*").cast("bigint").alias("n_events"),
                 (F.round(F.sum(F.coalesce(F.col("value"), F.lit(0.0))), 2)
                  + 0.0).alias("sum_value"))
            .select(F.col("w.start").alias("win_start"), "event_type",
                    "n_events", "sum_value"))


@q("agg_entropy", """
WITH c AS (
  SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY user_id, event_type
), tot AS (
  SELECT user_id, CAST(sum(n) AS BIGINT) AS tn FROM c GROUP BY user_id
)
SELECT c.user_id,
       ROUND(-sum((n * 1.0 / tn) * ln(n * 1.0 / tn)), 6) + 0.0
           AS entropy_nats,
       CAST(count(*) AS BIGINT) AS n_types
FROM c JOIN tot ON c.user_id = tot.user_id
GROUP BY c.user_id
""")
def agg_entropy(spark, sf):
    """Shannon entropy of each user's event-type distribution — the
    behavioral-diversity feature (bot detection: entropy ~0 means one
    repeated action; exploration scoring: high entropy means varied
    usage). Probabilities are ratios of EXACT integer counts, so the
    only float work is |types| ln() terms summed per user (<= 5 here;
    bounded by the type vocabulary at any scale) — rounded at 6 dp to
    absorb libm/summation-order ULP drift, psi/zipf precedent.

    At 100 TB: two stacked combinable aggregates on (user, type) then
    (user) — the same exchange as a count-distinct, no window, no
    self-join. The broadcast-free JOIN on user_id rides the same hash
    partitioning Catalyst already planned for the second aggregate."""
    e = t(spark, sf, "events")
    c = (e.groupBy("user_id", "event_type")
         .agg(F.count("*").cast("bigint").alias("n")))
    tot = c.groupBy("user_id").agg(F.sum("n").cast("bigint").alias("tn"))
    p = F.col("n") * 1.0 / F.col("tn")
    return (c.join(tot, "user_id")
            .groupBy("user_id")
            .agg((F.round(-F.sum(p * F.log(p)), 6) + 0.0)
                 .alias("entropy_nats"),
                 F.count("*").cast("bigint").alias("n_types")))


@q("agg_geomean", """
SELECT l_returnflag,
       ROUND(exp(avg(ln(CAST(l_extendedprice AS DOUBLE)))), 2) + 0.0
           AS geo_mean_price,
       CAST(count(*) AS BIGINT) AS n
FROM lineitem
GROUP BY l_returnflag
""")
def agg_geomean(spark, sf):
    """Geometric mean via the exp-of-mean-of-logs identity — the
    right average for multiplicative quantities (price ratios, growth
    factors) where the arithmetic mean over-weights the tail. Spark
    has no geometric_mean aggregate; the identity turns it into one
    combinable avg. Inputs are strictly positive prices so ln is
    total; 2-dp rounding absorbs the summation-order ULP drift of
    avg() over doubles (the one aggregate here that is not
    order-exact), on top of exp/ln libm parity.

    At 100 TB: a plain one-exchange aggregate — partial avg(ln x)
    map-side, exp at the very end on |groups| rows."""
    li = t(spark, sf, "lineitem")
    return (li.groupBy("l_returnflag")
            .agg((F.round(F.exp(F.avg(F.log(
                F.col("l_extendedprice").cast("double")))), 2) + 0.0)
                .alias("geo_mean_price"),
                F.count("*").cast("bigint").alias("n")))


@q("aqp_sample_estimate", """
WITH s AS (
  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
  FROM lineitem
  WHERE (l_orderkey * 7 + l_linenumber) % 20 = 3
), ex AS (
  SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS exact_cents
  FROM lineitem
)
SELECT CAST(count(*) AS BIGINT) AS n_sampled,
       ROUND(sum(cents) / 100.0 * 20.0, 2) + 0.0 AS est_total,
       ROUND(exact_cents / 100.0, 2) + 0.0 AS exact_total,
       ROUND(abs(sum(cents) * 20.0 - exact_cents)
             / exact_cents * 100.0, 4) + 0.0 AS err_pct,
       ROUND(1.96 * sqrt(var_samp(cents / 100.0)
                         * count(*)) * 20.0, 2) + 0.0 AS ci_halfwidth
FROM s CROSS JOIN ex
GROUP BY exact_cents
""")
def aqp_sample_estimate(spark, sf):
    """Approximate query processing: estimate a total from a
    DETERMINISTIC 5% sample ((7k+j) mod 20 — the engine-portable
    stand-in for pmod(xxhash64(id),20) at 100 TB) with the CLT
    confidence interval, next to the exact answer so the key
    demonstrates its own error. est = sample_sum / p; the sums run
    over EXACT integer cents so estimate and exact answer are
    aggregation-order-independent; only the CI half-width touches
    var_samp doubles (2-dp rounding absorbs combine-order ULP).

    At 100 TB this is THE interactive-latency pattern: the sample
    predicate pushes into the scan (row-group skip via the key
    columns), the scan reads 5% of the data, and the error column is
    the honesty check a dashboard shows next to every AQP number."""
    li = t(spark, sf, "lineitem")
    cents = F.round(F.col("l_extendedprice") * 100).cast("bigint")
    s = (li.filter((F.col("l_orderkey") * 7 + F.col("l_linenumber"))
                   % 20 == 3)
         .select(cents.alias("cents")))
    ex = li.agg(F.sum(cents).cast("bigint").alias("exact_cents"))
    return (s.crossJoin(F.broadcast(ex))
            .groupBy("exact_cents")
            .agg(F.count("*").cast("bigint").alias("n_sampled"),
                 (F.round(F.sum("cents") / 100.0 * 20.0, 2) + 0.0)
                 .alias("est_total"),
                 (F.round(F.abs(F.sum("cents") * 20.0
                                - F.col("exact_cents"))
                          / F.col("exact_cents") * 100.0, 4) + 0.0)
                 .alias("err_pct"),
                 (F.round(1.96 * F.sqrt(
                     F.var_samp(F.col("cents") / 100.0)
                     * F.count("*")) * 20.0, 2) + 0.0)
                 .alias("ci_halfwidth"))
            .select("n_sampled", "est_total",
                    (F.round(F.col("exact_cents") / 100.0, 2) + 0.0)
                    .alias("exact_total"),
                    "err_pct", "ci_halfwidth"))


@q("ops_slo_burn_rate", """
WITH h AS (
  SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS hr,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              AS BIGINT) AS e
  FROM events GROUP BY 1
), w AS (
  SELECT hr, n, e,
         CAST(sum(e) OVER (ORDER BY hr
              ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) AS BIGINT) AS e6,
         CAST(sum(n) OVER (ORDER BY hr
              ROWS BETWEEN 5 PRECEDING AND CURRENT ROW) AS BIGINT) AS n6
  FROM h
)
SELECT hr,
       ROUND(e * 1.0 / n / 0.2, 6) + 0.0 AS burn_1h,
       ROUND(e6 * 1.0 / n6 / 0.2, 6) + 0.0 AS burn_6h,
       (ROUND(e * 1.0 / n / 0.2, 6) > 1.5
        AND ROUND(e6 * 1.0 / n6 / 0.2, 6) > 1.5) AS page
FROM w
""")
def ops_slo_burn_rate(spark, sf):
    """Multi-window SLO burn-rate alerting (the SRE-workbook pattern):
    the hourly error-budget burn (error rate / SLO target 0.2) must
    exceed the threshold in BOTH the short window (1 h) and the long
    window (trailing 6 h) to page — short-only spikes are noise,
    long-only elevation is too slow to matter. Everything up to the
    final division is EXACT integer window sums over the hourly
    rollup, so the rates are ULP-identical on both engines and the
    page flag compares rounded values. Complements
    ops_error_rate_spikes (daily, self-baseline) with the
    paging-decision layer.

    At 100 TB: the fact collapses to |hours| rows in one combinable
    aggregate; the trailing windows run over that tiny rollup — a
    single-partition window over ~9k rows/year, bounded by the time
    axis at any data scale."""
    e = t(spark, sf, "events")
    h = (e.groupBy(F.date_trunc("hour", "ts").alias("hr"))
         .agg(F.count("*").cast("bigint").alias("n"),
              F.sum(F.when(F.col("event_type") == "error", 1)
                    .otherwise(0)).cast("bigint").alias("e")))
    w6 = W.orderBy("hr").rowsBetween(-5, 0)
    w = (h.withColumn("e6", F.sum("e").over(w6).cast("bigint"))
         .withColumn("n6", F.sum("n").over(w6).cast("bigint")))
    burn1 = F.round(F.col("e") * 1.0 / F.col("n") / 0.2, 6)
    burn6 = F.round(F.col("e6") * 1.0 / F.col("n6") / 0.2, 6)
    return w.select(
        "hr", (burn1 + 0.0).alias("burn_1h"), (burn6 + 0.0).alias("burn_6h"),
        ((burn1 > 1.5) & (burn6 > 1.5)).alias("page"))
