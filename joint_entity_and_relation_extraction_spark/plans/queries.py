"""Relational operator corpus (SURVEY.md §2.4) — every category as a named
query over the driver testdata tables, paired with an ANSI-SQL DuckDB
oracle string.

Cross-engine determinism rules applied throughout (SURVEY.md §7 hard
part 6):
- money aggregates: SUM over DECIMAL(18,2) casts (exact), cast back to
  double at the end — bitwise identical in both engines;
- ranking windows: total ordering via explicit tie-break keys;
- ranking/count functions cast to bigint (DuckDB returns BIGINT, Spark INT);
- transcendentals avoided or rounded to 6 dp; sqrt/abs/pow-int are exactly
  rounded IEEE ops and safe raw;
- every computed column aliased identically on both sides (driver hashes
  sort columns by name).

Each function takes (spark, sf_dir) and builds a declarative DataFrame plan
— Catalyst handles pushdown/pruning/join selection; hints only where the
category demands a specific physical join (MERGE / SHUFFLE_HASH).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from ..sources.io import read_table


def _dec_sum(col: str, alias: str):
    """Exact money sum: decimal(18,2) accumulate → double result."""
    return F.sum(F.col(col).cast("decimal(18,2)")).cast("double").alias(alias)


# --- scans / projection / filter -------------------------------------------

def q_scan_project(spark, sf):
    return read_table(spark, sf, "lineitem").select(
        "l_orderkey", "l_linenumber",
        (F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("net_price"),
    )


SQL_SCAN_PROJECT = """
SELECT l_orderkey, l_linenumber,
       l_extendedprice * (1 - l_discount) AS net_price
FROM lineitem
"""


def q_filter_pushdown(spark, sf):
    li = read_table(spark, sf, "lineitem")
    return li.filter(
        (F.col("l_quantity") > 30)
        & F.col("l_returnflag").isin("A", "R")
        & F.col("l_shipdate").isNotNull()
        & (F.col("l_discount") >= 0.05)
    ).select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")


SQL_FILTER_PUSHDOWN = """
SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
FROM lineitem
WHERE l_quantity > 30 AND l_returnflag IN ('A', 'R')
  AND l_shipdate IS NOT NULL AND l_discount >= 0.05
"""


# --- joins ------------------------------------------------------------------

def q_join_broadcast(spark, sf):
    c = read_table(spark, sf, "customer")
    n = read_table(spark, sf, "nation")
    r = read_table(spark, sf, "region")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(F.count("*").alias("n_customers"),
             _dec_sum("c_acctbal", "sum_acctbal"))
    )


SQL_JOIN_BROADCAST = """
SELECT r_name, CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS sum_acctbal
FROM customer JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
"""


def q_join_sortmerge(spark, sf):
    o = read_table(spark, sf, "orders").hint("merge")
    li = read_table(spark, sf, "lineitem")
    return o.join(li, o.o_orderkey == li.l_orderkey).select(
        "o_orderkey", "l_linenumber", "o_totalprice", "l_quantity")


SQL_JOIN_SORTMERGE = """
SELECT o_orderkey, l_linenumber, o_totalprice, l_quantity
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
"""


def q_join_shuffledhash(spark, sf):
    p = read_table(spark, sf, "part").hint("shuffle_hash")
    li = read_table(spark, sf, "lineitem")
    return p.join(li, p.p_partkey == li.l_partkey).groupBy("p_brand").agg(
        F.count("*").alias("n_lines"), _dec_sum("l_quantity", "sum_qty"))


SQL_JOIN_SHUFFLEDHASH = """
SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM part JOIN lineitem ON p_partkey = l_partkey
GROUP BY p_brand
"""


def q_join_left(spark, sf):
    c = read_table(spark, sf, "customer")
    o = read_table(spark, sf, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )


SQL_JOIN_LEFT = """
SELECT c_custkey, c_name, CAST(COUNT(o_orderkey) AS BIGINT) AS n_orders
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey, c_name
"""


def q_join_full(spark, sf):
    n = read_table(spark, sf, "nation")
    s = read_table(spark, sf, "supplier")
    return n.join(s, n.n_nationkey == s.s_nationkey, "full").select(
        "n_nationkey", "n_name", "s_suppkey", "s_name")


SQL_JOIN_FULL = """
SELECT n_nationkey, n_name, s_suppkey, s_name
FROM nation FULL JOIN supplier ON n_nationkey = s_nationkey
"""


def q_join_semi(spark, sf):
    c = read_table(spark, sf, "customer")
    o = read_table(spark, sf, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name")


SQL_JOIN_SEMI = """
SELECT c_custkey, c_name FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE c.c_custkey = o.o_custkey)
"""


def q_join_anti(spark, sf):
    c = read_table(spark, sf, "customer")
    o = read_table(spark, sf, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_acctbal")


SQL_JOIN_ANTI = """
SELECT c_custkey, c_acctbal FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE c.c_custkey = o.o_custkey)
"""


def q_join_theta(spark, sf):
    """Non-equi (banded range) join → BroadcastNestedLoopJoin physically."""
    p = read_table(spark, sf, "part")
    r = F.broadcast(read_table(spark, sf, "region"))
    cond = (p.p_size >= r.r_regionkey * 10) & (p.p_size < (r.r_regionkey + 1) * 10)
    return p.join(r, cond).select("p_partkey", "p_size", "r_name")


SQL_JOIN_THETA = """
SELECT p_partkey, p_size, r_name
FROM part JOIN region
  ON p_size >= r_regionkey * 10 AND p_size < (r_regionkey + 1) * 10
"""


def q_join_asof(spark, sf):
    """As-of: latest order (by o_orderdate) per event with o_custkey =
    user_id and o_orderdate <= ts. Spark has no native ASOF join — composed
    as equi-join + range predicate + row_number top-1 (SURVEY.md §2.4)."""
    e = read_table(spark, sf, "events")
    o = read_table(spark, sf, "orders")
    j = e.join(o, (e.user_id == o.o_custkey) & (o.o_orderdate <= e.ts))
    w = Window.partitionBy("event_id").orderBy(
        F.desc("o_orderdate"), F.desc("o_orderkey"))
    return (
        j.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_id", "user_id", "o_orderkey", "o_orderdate")
    )


SQL_JOIN_ASOF = """
SELECT event_id, user_id, o_orderkey, o_orderdate FROM (
  SELECT e.event_id, e.user_id, o.o_orderkey, o.o_orderdate,
         ROW_NUMBER() OVER (PARTITION BY e.event_id
                            ORDER BY o.o_orderdate DESC, o.o_orderkey DESC) rn
  FROM events e JOIN orders o
    ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
) WHERE rn = 1
"""


# --- aggregation ------------------------------------------------------------

def q_agg_group_multi(spark, sf):
    li = read_table(spark, sf, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        _dec_sum("l_quantity", "sum_qty"),
        _dec_sum("l_extendedprice", "sum_price"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        F.count("*").alias("n_rows"),
    )


SQL_AGG_GROUP_MULTI = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
       MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM lineitem GROUP BY l_returnflag, l_linestatus
"""


def q_agg_count_distinct(spark, sf):
    li = read_table(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct("l_partkey").alias("n_part"),
    )


SQL_AGG_COUNT_DISTINCT = """
SELECT l_returnflag, CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_supp,
       CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_part
FROM lineitem GROUP BY l_returnflag
"""


def q_agg_approx_distinct(spark, sf):
    """HLL++ sketch — estimator differs from any exact oracle by design;
    driver records the weaker rows-only check (SURVEY.md §2.4)."""
    li = read_table(spark, sf, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.02).alias("approx_parts"))


def q_agg_rollup(spark, sf):
    li = read_table(spark, sf, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        _dec_sum("l_quantity", "sum_qty"), F.count("*").alias("n_rows"))


SQL_AGG_ROLLUP = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def q_agg_cube(spark, sf):
    o = read_table(spark, sf, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n_rows"), _dec_sum("o_totalprice", "sum_price"))


SQL_AGG_CUBE = """
SELECT o_orderstatus, o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
"""


# --- windows ----------------------------------------------------------------

def q_window_rank(spark, sf):
    c = read_table(spark, sf, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey"))
    return c.select(
        "c_mktsegment", "c_custkey", "c_acctbal",
        F.rank().over(w).cast("bigint").alias("rnk"),
        F.dense_rank().over(w).cast("bigint").alias("drnk"),
        F.row_number().over(w).cast("bigint").alias("rn"),
    )


SQL_WINDOW_RANK = """
SELECT c_mktsegment, c_custkey, c_acctbal,
       RANK() OVER w AS rnk, DENSE_RANK() OVER w AS drnk,
       ROW_NUMBER() OVER w AS rn
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC)
"""


def q_window_ntile_percent(spark, sf):
    """Distribution window functions (ntile, percent_rank, cume_dist):
    the quantile-bucket / percentile-position primitives for per-stratum
    score normalization in corpus curation. percent_rank/cume_dist round
    to 6 dp on both engines (cross-engine float rule, top of file)."""
    c = read_table(spark, sf, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.desc("c_acctbal"), F.asc("c_custkey"))
    return c.select(
        "c_mktsegment", "c_custkey",
        F.ntile(4).over(w).cast("bigint").alias("quartile"),
        F.round(F.percent_rank().over(w), 6).alias("pct_rank_r6"),
        F.round(F.cume_dist().over(w), 6).alias("cume_dist_r6"),
    )


SQL_WINDOW_NTILE_PERCENT = """
SELECT c_mktsegment, c_custkey,
       NTILE(4) OVER w AS quartile,
       ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank_r6,
       ROUND(CUME_DIST() OVER w, 6) AS cume_dist_r6
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey ASC)
"""


def q_window_lag_lead(spark, sf):
    e = read_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "user_id", "event_id", "value",
        F.lag("value", 1).over(w).alias("prev_value"),
        F.lead("event_type", 1).over(w).alias("next_type"),
        F.first("event_id").over(w).alias("first_event"),
    )


SQL_WINDOW_LAG_LEAD = """
SELECT user_id, event_id, value,
       LAG(value, 1) OVER w AS prev_value,
       LEAD(event_type, 1) OVER w AS next_type,
       FIRST_VALUE(event_id) OVER w AS first_event
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
"""


def q_window_frame_sum(spark, sf):
    li = read_table(spark, sf, "lineitem")
    w = (Window.partitionBy("l_suppkey")
         .orderBy("l_shipdate", "l_orderkey", "l_linenumber")
         .rowsBetween(-3, 0))
    return li.select(
        "l_suppkey", "l_orderkey", "l_linenumber",
        F.sum("l_quantity").over(w).alias("qty_roll4"))


SQL_WINDOW_FRAME_SUM = """
SELECT l_suppkey, l_orderkey, l_linenumber,
       SUM(l_quantity) OVER (PARTITION BY l_suppkey
           ORDER BY l_shipdate, l_orderkey, l_linenumber
           ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS qty_roll4
FROM lineitem
"""


def q_sort_limit(spark, sf):
    o = read_table(spark, sf, "orders")
    return o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey")).limit(25).select(
        "o_orderkey", "o_custkey", "o_totalprice")


SQL_SORT_LIMIT = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 25
"""


def q_window_topk_per_group(spark, sf):
    o = read_table(spark, sf, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


SQL_WINDOW_TOPK_PER_GROUP = """
SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
                            ORDER BY o_totalprice DESC, o_orderkey ASC) rn
  FROM orders
) WHERE rn <= 3
"""


# --- set ops / dedup --------------------------------------------------------

def q_set_union_all(spark, sf):
    c = read_table(spark, sf, "customer")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select(
        "c_custkey", F.lit("BUILDING").alias("bucket"))
    b = c.filter(F.col("c_acctbal") > 5000).select(
        "c_custkey", F.lit("RICH").alias("bucket"))
    return a.unionByName(b)


SQL_SET_UNION_ALL = """
SELECT c_custkey, 'BUILDING' AS bucket FROM customer WHERE c_mktsegment = 'BUILDING'
UNION ALL
SELECT c_custkey, 'RICH' AS bucket FROM customer WHERE c_acctbal > 5000
"""


def q_set_intersect(spark, sf):
    c = read_table(spark, sf, "customer")
    o = read_table(spark, sf, "orders")
    a = c.filter(F.col("c_acctbal") > 0).select(F.col("c_custkey").alias("k"))
    b = o.select(F.col("o_custkey").alias("k"))
    return a.intersect(b)


SQL_SET_INTERSECT = """
SELECT c_custkey AS k FROM customer WHERE c_acctbal > 0
INTERSECT
SELECT o_custkey AS k FROM orders
"""


def q_set_except(spark, sf):
    c = read_table(spark, sf, "customer")
    o = read_table(spark, sf, "orders")
    a = c.select(F.col("c_custkey").alias("k"))
    b = o.filter(F.col("o_orderstatus") == "F").select(F.col("o_custkey").alias("k"))
    return a.exceptAll(b).distinct()


SQL_SET_EXCEPT = """
SELECT DISTINCT k FROM (
  SELECT c_custkey AS k FROM customer
  EXCEPT ALL
  SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'
)
"""


def q_distinct_rows(spark, sf):
    li = read_table(spark, sf, "lineitem")
    return li.select("l_returnflag", "l_linestatus").dropDuplicates()


SQL_DISTINCT_ROWS = """
SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem
"""


# --- scalar function families ----------------------------------------------

def q_date_funcs(spark, sf):
    li = read_table(spark, sf, "lineitem")
    return li.select(
        "l_orderkey", "l_linenumber",
        F.year("l_shipdate").cast("bigint").alias("ship_year"),
        F.month("l_shipdate").cast("bigint").alias("ship_month"),
        F.dayofmonth("l_shipdate").cast("bigint").alias("ship_day"),
        F.date_trunc("month", "l_shipdate").alias("ship_month_start"),
        F.datediff(F.col("l_shipdate"),
                   F.lit("1995-01-01").cast("date")).cast("bigint").alias("days_since_95"),
    )


SQL_DATE_FUNCS = """
SELECT l_orderkey, l_linenumber,
       CAST(YEAR(l_shipdate) AS BIGINT) AS ship_year,
       CAST(MONTH(l_shipdate) AS BIGINT) AS ship_month,
       CAST(DAY(l_shipdate) AS BIGINT) AS ship_day,
       DATE_TRUNC('month', l_shipdate) AS ship_month_start,
       CAST(DATEDIFF('day', DATE '1995-01-01', CAST(l_shipdate AS DATE)) AS BIGINT)
         AS days_since_95
FROM lineitem
"""


def q_array_funcs(spark, sf):
    e = read_table(spark, sf, "embeddings")
    elem = F.element_at("embedding", 1).cast("double")
    l1 = F.aggregate(
        F.transform("embedding", lambda x: F.abs(x.cast("double"))),
        F.lit(0.0), lambda acc, x: acc + x)
    return e.select(
        "vec_id",
        F.size("embedding").cast("bigint").alias("dim"),
        F.round(elem, 6).alias("e0_r6"),
        F.round(l1, 4).alias("l1_r4"),
        F.col("label").cast("bigint").alias("label_l"),
    )


SQL_ARRAY_FUNCS = """
SELECT vec_id, CAST(LEN(embedding) AS BIGINT) AS dim,
       ROUND(CAST(embedding[1] AS DOUBLE), 6) AS e0_r6,
       ROUND((SELECT SUM(ABS(CAST(x AS DOUBLE)))
              FROM UNNEST(embedding) AS t(x)), 4) AS l1_r4,
       CAST(label AS BIGINT) AS label_l
FROM embeddings
"""


def q_json_funcs(spark, sf):
    e = read_table(spark, sf, "events")
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").alias("k_str"),
        F.get_json_object("props", "$.k").cast("bigint").alias("k_int"),
    )


SQL_JSON_FUNCS = """
SELECT event_id, JSON_EXTRACT_STRING(props, '$.k') AS k_str,
       CAST(JSON_EXTRACT_STRING(props, '$.k') AS BIGINT) AS k_int
FROM events
"""


def q_explode_array(spark, sf):
    d = read_table(spark, sf, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("word"))
        .filter(F.col("word") != "")
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


SQL_EXPLODE_ARRAY = """
SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
  SELECT UNNEST(STRING_SPLIT(text, ' ')) AS word FROM documents
) WHERE word <> '' GROUP BY word
"""


def q_pivot_event_type(spark, sf):
    e = read_table(spark, sf, "events")
    types = ["click", "error", "purchase", "signup", "view"]
    p = (e.groupBy("user_id")
         .pivot("event_type", types)
         .agg(F.count(F.lit(1))))
    return p.select(
        "user_id", *[F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}") for t in types])


SQL_PIVOT_EVENT_TYPE = """
SELECT user_id,
       CAST(COUNT(CASE WHEN event_type='click' THEN 1 END) AS BIGINT) AS n_click,
       CAST(COUNT(CASE WHEN event_type='error' THEN 1 END) AS BIGINT) AS n_error,
       CAST(COUNT(CASE WHEN event_type='purchase' THEN 1 END) AS BIGINT) AS n_purchase,
       CAST(COUNT(CASE WHEN event_type='signup' THEN 1 END) AS BIGINT) AS n_signup,
       CAST(COUNT(CASE WHEN event_type='view' THEN 1 END) AS BIGINT) AS n_view
FROM events GROUP BY user_id
"""


def q_sample_frac(spark, sf):
    """Seeded Bernoulli sample — sampler RNG differs across engines by
    design; rows-only check."""
    return read_table(spark, sf, "lineitem").sample(0.1, seed=42).select(
        "l_orderkey", "l_linenumber")


def q_set_union_distinct(spark, sf):
    c = read_table(spark, sf, "customer")
    o = read_table(spark, sf, "orders")
    a = c.select(F.col("c_custkey").alias("k"))
    b = o.select(F.col("o_custkey").alias("k"))
    return a.union(b).distinct()


SQL_SET_UNION_DISTINCT = """
SELECT c_custkey AS k FROM customer UNION SELECT o_custkey AS k FROM orders
"""


def q_window_range_interval(spark, sf):
    """RANGE frame over an interval — trailing-30-day order count per
    customer (event-time range frames, not row counts)."""
    o = read_table(spark, sf, "orders")
    w = (Window.partitionBy("o_custkey")
         .orderBy(F.col("o_orderdate").cast("timestamp").cast("long"))
         .rangeBetween(-30 * 86400, 0))
    return o.select(
        "o_custkey", "o_orderkey",
        F.count("*").over(w).cast("bigint").alias("n_orders_30d"))


SQL_WINDOW_RANGE_INTERVAL = """
SELECT o_custkey, o_orderkey,
       CAST(COUNT(*) OVER (PARTITION BY o_custkey
            ORDER BY o_orderdate
            RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW)
            AS BIGINT) AS n_orders_30d
FROM orders
"""


def q_agg_grouping_sets(spark, sf):
    li = read_table(spark, sf, "lineitem")
    li.createOrReplaceTempView("__li_gs")
    return spark.sql("""
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
               COUNT(*) AS n_rows
        FROM __li_gs
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    """)


SQL_AGG_GROUPING_SETS = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
"""


def q_map_funcs(spark, sf):
    e = read_table(spark, sf, "events")
    m = F.from_json("props", "map<string,int>")
    return e.select(
        "event_id",
        F.concat_ws(",", F.map_keys(m)).alias("keys_csv"),
        F.element_at(m, "k").cast("bigint").alias("k_val"),
        F.size(m).cast("bigint").alias("n_keys"),
    )


SQL_MAP_FUNCS = """
SELECT event_id,
       ARRAY_TO_STRING(JSON_KEYS(props), ',') AS keys_csv,
       CAST(JSON_EXTRACT_STRING(props, '$.k') AS BIGINT) AS k_val,
       CAST(LEN(JSON_KEYS(props)) AS BIGINT) AS n_keys
FROM events
"""


def q_subquery_scalar(spark, sf):
    """Correlated-scalar-subquery semantics (max order per customer);
    declared in Spark as agg+join — Catalyst decorrelates the SQL form to
    the same plan anyway."""
    c = read_table(spark, sf, "customer")
    o = read_table(spark, sf, "orders")
    mx = o.groupBy(F.col("o_custkey").alias("c_custkey")).agg(
        F.max("o_totalprice").alias("max_order"))
    return c.join(mx, "c_custkey", "left").select(
        "c_custkey", "c_name", "max_order")


SQL_SUBQUERY_SCALAR = """
SELECT c_custkey, c_name,
       (SELECT MAX(o_totalprice) FROM orders o
        WHERE o.o_custkey = c.c_custkey) AS max_order
FROM customer c
"""


def q_conditional_funcs(spark, sf):
    o = read_table(spark, sf, "orders")
    return o.select(
        "o_orderkey",
        F.when(F.col("o_totalprice") > 200000, "big")
        .when(F.col("o_totalprice") > 50000, "mid")
        .otherwise("small").alias("bucket"),
        F.coalesce(F.nullif(F.col("o_orderstatus"), F.lit("O")),
                   F.lit("OPEN")).alias("status_x"),
        F.greatest(F.col("o_totalprice"), F.lit(100000.0)).alias("at_least_100k"),
        F.least(F.col("o_custkey"), F.col("o_orderkey")).alias("min_key"),
    )


SQL_CONDITIONAL_FUNCS = """
SELECT o_orderkey,
       CASE WHEN o_totalprice > 200000 THEN 'big'
            WHEN o_totalprice > 50000 THEN 'mid'
            ELSE 'small' END AS bucket,
       COALESCE(NULLIF(o_orderstatus, 'O'), 'OPEN') AS status_x,
       GREATEST(o_totalprice, 100000.0) AS at_least_100k,
       LEAST(o_custkey, o_orderkey) AS min_key
FROM orders
"""


def q_sort_nulls(spark, sf):
    """Explicit NULLS FIRST/LAST ordering over an outer-join's nulls."""
    n = read_table(spark, sf, "nation")
    s = read_table(spark, sf, "supplier")
    j = n.join(s, n.n_nationkey == s.s_nationkey, "left").select(
        "n_nationkey", "n_name", "s_suppkey")
    return j.orderBy(F.col("s_suppkey").asc_nulls_last(),
                     F.col("n_nationkey").asc()).limit(30)


SQL_SORT_NULLS = """
SELECT n_nationkey, n_name, s_suppkey
FROM nation LEFT JOIN supplier ON n_nationkey = s_nationkey
ORDER BY s_suppkey ASC NULLS LAST, n_nationkey ASC LIMIT 30
"""


def q_agg_salted_skew(spark, sf):
    """Salted two-phase aggregation on a deliberately skewed key (87% of
    lineitem rows share l_returnflag in {'N'}-heavy distribution) — the
    oracle is the PLAIN group-by, proving the salting is semantics-
    preserving (BASELINE.json skew handling)."""
    from ..operators.skew import salted_agg

    li = read_table(spark, sf, "lineitem").select(
        F.col("l_returnflag").alias("flag"),
        F.col("l_quantity").cast("decimal(18,2)").alias("qty"))
    out = salted_agg(li, ["flag"],
                     [("qty", "count", "n_rows"), ("qty", "sum", "sum_qty"),
                      ("qty", "max", "max_qty")])
    return out.select(
        "flag", F.col("n_rows").cast("bigint").alias("n_rows"),
        F.col("sum_qty").cast("double").alias("sum_qty"),
        F.col("max_qty").cast("double").alias("max_qty"))


SQL_AGG_SALTED_SKEW = """
SELECT l_returnflag AS flag, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(MAX(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS max_qty
FROM lineitem GROUP BY l_returnflag
"""



# --- round-2 additions: as-of agg form, streaming-as-batch, salted join,
#     IcebergLite snapshot pin (VERDICT.md items 7/9/10) --------------------


def q_join_asof_agg(spark, sf):
    """As-of via AGGREGATION instead of a window sort: the (date, key)
    pair is encoded into one sortable BIGINT and MAX-ed per event, so the
    range join feeds a partial-aggregatable HashAggregate (map-side
    combine shrinks the shuffle to one row per event) instead of a full
    window sort over every matching order. Same results as join_asof
    (driver-verified against the same logical oracle) — this is the form
    the 100 TB plan wants; the window variant stays as the category demo."""
    e = read_table(spark, sf, "events")
    o = read_table(spark, sf, "orders")
    code = (F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("date"))
            .cast("bigint") * F.lit(10_000_000_000).cast("bigint")
            + F.col("o_orderkey").cast("bigint"))
    j = e.join(o, (e.user_id == o.o_custkey) & (o.o_orderdate <= e.ts))
    agg = (j.groupBy("event_id", "user_id")
           .agg(F.max(code).alias("best")))
    return agg.select(
        "event_id", "user_id",
        F.pmod(F.col("best"), F.lit(10_000_000_000).cast("bigint"))
         .cast("bigint").alias("o_orderkey"),
        F.date_format(
            F.date_add(F.lit("1970-01-01").cast("date"),
                       (F.col("best") / F.lit(10_000_000_000).cast("bigint"))
                       .cast("int")),
            "yyyy-MM-dd").alias("o_orderdate"))


SQL_JOIN_ASOF_AGG = """
WITH j AS (
  SELECT e.event_id, e.user_id,
         CAST(DATEDIFF('day', DATE '1970-01-01', CAST(o.o_orderdate AS DATE))
              AS BIGINT) * 10000000000 + o.o_orderkey AS code
  FROM events e JOIN orders o
    ON e.user_id = o.o_custkey AND o.o_orderdate <= e.ts
), agg AS (
  SELECT event_id, user_id, MAX(code) AS best FROM j
  GROUP BY event_id, user_id
)
SELECT event_id, user_id,
       CAST(best % 10000000000 AS BIGINT) AS o_orderkey,
       STRFTIME(DATE '1970-01-01' + CAST(best // 10000000000 AS INT),
                '%Y-%m-%d') AS o_orderdate
FROM agg
"""


def q_stream_tumbling_batch(spark, sf):
    """The streaming tumbling-window aggregation (streaming/ingest.py
    windowed_lang_counts) expressed over a BATCH table with the same
    F.window operator — giving the driver a hash-checkable witness for the
    window semantics the streaming path uses (VERDICT.md item 7; the
    watermark/state-store behavior itself stays pytest-gated)."""
    e = read_table(spark, sf, "events")
    return (e.groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
            .agg(F.count("*").alias("n_events"),
                 _dec_sum("value", "sum_value"))
            .select(F.col("w.start").cast("timestamp").cast("long")
                    .alias("w_start_s"),
                    F.col("w.end").cast("timestamp").cast("long")
                    .alias("w_end_s"),
                    "event_type", "n_events", "sum_value"))


SQL_STREAM_TUMBLING_BATCH = """
SELECT CAST(FLOOR(EPOCH(ts) / 600) * 600 AS BIGINT) AS w_start_s,
       CAST(FLOOR(EPOCH(ts) / 600) * 600 + 600 AS BIGINT) AS w_end_s,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM events
GROUP BY 1, 2, 3
"""


def q_stream_sliding_batch(spark, sf):
    """Sliding-window aggregation (10-minute window, 5-minute slide) over a
    BATCH table with the same F.window operator the streaming path uses —
    the driver-gradable witness for SLIDING semantics (VERDICT r02 item 6;
    companion to q_stream_tumbling_batch). Every event lands in exactly two
    windows: starts floor(epoch/300)*300 and that minus 300."""
    e = read_table(spark, sf, "events")
    return (e.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"),
                      "event_type")
            .agg(F.count("*").alias("n_events"),
                 _dec_sum("value", "sum_value"))
            .select(F.col("w.start").cast("timestamp").cast("long")
                    .alias("w_start_s"),
                    F.col("w.end").cast("timestamp").cast("long")
                    .alias("w_end_s"),
                    "event_type", "n_events", "sum_value"))


SQL_STREAM_SLIDING_BATCH = """
WITH assigned AS (
  SELECT CAST(FLOOR(EPOCH(ts) / 300) * 300 - t.off AS BIGINT) AS w_start_s,
         event_type, value
  FROM events CROSS JOIN (VALUES (0), (300)) AS t(off)
)
SELECT w_start_s, w_start_s + 600 AS w_end_s, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM assigned
GROUP BY 1, 2, 3
"""


def q_stream_session_batch(spark, sf):
    """Gap-based session windows (F.session_window, 5-minute gap) per user
    over a BATCH table — the driver-gradable witness for SESSION semantics
    (VERDICT r02 item 6). Spark merges two events iff the later one starts
    strictly inside [ts, ts+gap), so a gap of exactly 300s opens a NEW
    session; the oracle's LAG-diff test mirrors that with >= 300."""
    e = read_table(spark, sf, "events")
    return (e.groupBy(F.session_window("ts", "5 minutes").alias("w"),
                      "user_id")
            .agg(F.count("*").alias("n_events"),
                 _dec_sum("value", "sum_value"))
            .select("user_id",
                    F.col("w.start").cast("timestamp").cast("long")
                    .alias("sess_start_s"),
                    F.col("w.end").cast("timestamp").cast("long")
                    .alias("sess_end_s"),
                    "n_events", "sum_value"))


SQL_STREAM_SESSION_BATCH = """
WITH g AS (
  SELECT user_id, ts, value,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR EPOCH(ts) - EPOCH(LAG(ts) OVER w) >= 300
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), s AS (
  SELECT user_id, ts, value,
         SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                             ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM g
)
SELECT user_id,
       -- FLOOR, not bare CAST: events carry fractional-second timestamps;
       -- Spark's timestamp→long cast truncates while DuckDB's CAST rounds
       CAST(FLOOR(EPOCH(MIN(ts))) AS BIGINT) AS sess_start_s,
       CAST(FLOOR(EPOCH(MAX(ts)) + 300) AS BIGINT) AS sess_end_s,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM s
GROUP BY user_id, sess_id
"""


def q_join_salted(spark, sf):
    """Salted skew join (operators/skew.py salted_join): the fact side is
    salted, the dim side replicated xS — the oracle is the PLAIN inner
    join, proving the salting is semantics-preserving (BASELINE.json skew
    handling; VERDICT.md item 7)."""
    from ..operators.skew import salted_join

    e = read_table(spark, sf, "events").select("event_id", "user_id")
    c = read_table(spark, sf, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_name", "c_nationkey")
    out = salted_join(e, c, "user_id", buckets=8)
    return out.select("event_id", "user_id", "c_name",
                      F.col("c_nationkey").cast("bigint").alias("c_nationkey"))


SQL_JOIN_SALTED = """
SELECT e.event_id, e.user_id, c.c_name,
       CAST(c.c_nationkey AS BIGINT) AS c_nationkey
FROM events e JOIN customer c ON e.user_id = c.c_custkey
"""


#: one demo table per (application, sf): repeated bench/correctness runs
#: used to mkdtemp a fresh two-snapshot table (with parquet files) on
#: EVERY invocation and never delete it (ADVICE r02). Prior applications'
#: dirs are removed when a new application first builds one.
_ICEBERG_DEMO_CACHE: dict = {}


def q_iceberg_snapshot_scan(spark, sf):
    """SRC2 as a driver-gradable query: build a two-snapshot IcebergLite
    table from `nation` (deterministic content), then read PINNED at the
    FIRST snapshot — time travel must see only the initial rows. The
    oracle is the equivalent filter over the source table."""
    import shutil
    import tempfile

    from ..sources import iceberglite as il

    key = (spark.sparkContext.applicationId, sf)
    if key not in _ICEBERG_DEMO_CACHE:
        if not _ICEBERG_DEMO_CACHE:  # first table this process: clean at exit
            import atexit

            atexit.register(lambda: [
                shutil.rmtree(root, ignore_errors=True)
                for root, _ in _ICEBERG_DEMO_CACHE.values()])
        for old in [k for k in _ICEBERG_DEMO_CACHE if k[0] != key[0]]:
            shutil.rmtree(_ICEBERG_DEMO_CACHE.pop(old)[0], ignore_errors=True)
        n = read_table(spark, sf, "nation")
        root = tempfile.mkdtemp(prefix="jers-iceberg-demo-")
        s1 = il.append(n.filter(F.col("n_regionkey") < 2), root,
                       ["n_regionkey"])
        il.append(n.filter(F.col("n_regionkey") >= 2), root, ["n_regionkey"])
        _ICEBERG_DEMO_CACHE[key] = (root, s1)
    root, s1 = _ICEBERG_DEMO_CACHE[key]
    return (il.read(spark, root, snapshot=s1)
            .select("n_nationkey", "n_name",
                    F.col("n_regionkey").cast("int").alias("n_regionkey")))


SQL_ICEBERG_SNAPSHOT_SCAN = """
SELECT n_nationkey, n_name, CAST(n_regionkey AS INT) AS n_regionkey
FROM nation WHERE n_regionkey < 2
"""


_ICEBERG_STATS_CACHE: dict = {}


def q_iceberg_stats_skipping(spark, sf):
    """Column-stats data skipping as a driver-gradable query (r04):
    `orders` appended in three totalprice-banded batches with
    stats_cols=["o_totalprice"], then read with a where_range that the
    manifest prunes against the recorded per-unit [min, max] bounds —
    only the overlapping band's files are ever listed — plus the exact
    row filter. Equality with the plain SQL filter proves the pruning
    lossless; tests/test_iceberglite.py pins that files ARE skipped."""
    import shutil
    import tempfile

    from ..sources import iceberglite as il

    key = (spark.sparkContext.applicationId, sf)
    if key not in _ICEBERG_STATS_CACHE:
        if not _ICEBERG_STATS_CACHE:
            import atexit

            atexit.register(lambda: [
                shutil.rmtree(root, ignore_errors=True)
                for root in _ICEBERG_STATS_CACHE.values()])
        for old in [k for k in _ICEBERG_STATS_CACHE if k[0] != key[0]]:
            shutil.rmtree(_ICEBERG_STATS_CACHE.pop(old), ignore_errors=True)
        o = read_table(spark, sf, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice")
        root = tempfile.mkdtemp(prefix="jers-iceberg-stats-")
        for lo, hi in ((None, 50_000.0), (50_000.0, 150_000.0),
                       (150_000.0, None)):
            band = o
            if lo is not None:
                band = band.filter(F.col("o_totalprice") >= lo)
            if hi is not None:
                band = band.filter(F.col("o_totalprice") < hi)
            il.append(band, root, [], stats_cols=["o_totalprice"])
        _ICEBERG_STATS_CACHE[key] = root
    root = _ICEBERG_STATS_CACHE[key]
    return (il.read(spark, root,
                    where_range={"o_totalprice": (60_000.0, 140_000.0)})
            .filter(F.col("o_totalprice").between(60_000.0, 140_000.0))
            .select("o_orderkey", "o_custkey", "o_totalprice"))


SQL_ICEBERG_STATS_SKIPPING = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders WHERE o_totalprice BETWEEN 60000.0 AND 140000.0
"""


_ICEBERG_INC_CACHE: dict = {}


def q_iceberg_incremental_scan(spark, sf):
    """Incremental append scan (Iceberg CDC-append read) as a
    driver-gradable query: `supplier` lands in three appends split by
    s_suppkey % 3, then read_incremental from the FIRST snapshot must
    return exactly the rows of appends 2+3 — decided metadata-only from
    the manifest's per-snapshot `added` unit lists (the per-batch-cost
    contract the streaming ingest relies on). Oracle: the complement
    filter over the source table. compact-skip / delete-raise semantics
    are pinned in tests/test_iceberglite.py. Registered in the r07 rotation (written
    after the r06 window froze; seats free up in r07)."""
    import shutil
    import tempfile

    from ..sources import iceberglite as il

    key = (spark.sparkContext.applicationId, sf)
    if key not in _ICEBERG_INC_CACHE:
        if not _ICEBERG_INC_CACHE:
            import atexit

            atexit.register(lambda: [
                shutil.rmtree(root, ignore_errors=True)
                for root, _ in _ICEBERG_INC_CACHE.values()])
        for old in [k for k in _ICEBERG_INC_CACHE if k[0] != key[0]]:
            shutil.rmtree(_ICEBERG_INC_CACHE.pop(old)[0], ignore_errors=True)
        s = read_table(spark, sf, "supplier").select(
            "s_suppkey", "s_name", "s_nationkey")
        root = tempfile.mkdtemp(prefix="jers-iceberg-inc-")
        s1 = il.append(s.filter(F.col("s_suppkey") % 3 == 0), root, [])
        il.append(s.filter(F.col("s_suppkey") % 3 == 1), root, [])
        il.append(s.filter(F.col("s_suppkey") % 3 == 2), root, [])
        _ICEBERG_INC_CACHE[key] = (root, s1)
    root, s1 = _ICEBERG_INC_CACHE[key]
    return il.read_incremental(spark, root, from_snapshot=s1)


SQL_ICEBERG_INCREMENTAL_SCAN = """
SELECT s_suppkey, s_name, s_nationkey
FROM supplier WHERE s_suppkey % 3 <> 0
"""


_ICEBERG_BLOOM_CACHE: dict = {}

#: point-lookup keys for the witness — literal on both engines; parity
#: holds whether or not an id exists (both sides return the same rows)
_BLOOM_LOOKUP_IDS = (7, 123, 400)


def q_iceberg_bloom_lookup(spark, sf):
    """Bloom-filter point-lookup file skipping as a driver-gradable
    query: `documents` lands in four doc_id-striped appends with
    bloom_cols=["doc_id"], then a three-key point lookup reads with
    where_point — units whose bloom provably excludes every key are never
    listed (min/max bounds cannot prune here: each stripe's doc_id range
    spans the whole domain). The exact row filter still applies, so a
    bloom false positive can only cost I/O, never correctness; that files
    ARE skipped is pinned in tests/test_iceberglite.py. Oracle: the
    equivalent IN-filter over the source table. Registered in the r07 rotation."""
    import shutil
    import tempfile

    from ..sources import iceberglite as il

    key = (spark.sparkContext.applicationId, sf)
    if key not in _ICEBERG_BLOOM_CACHE:
        if not _ICEBERG_BLOOM_CACHE:
            import atexit

            atexit.register(lambda: [
                shutil.rmtree(root, ignore_errors=True)
                for root in _ICEBERG_BLOOM_CACHE.values()])
        for old in [k for k in _ICEBERG_BLOOM_CACHE if k[0] != key[0]]:
            shutil.rmtree(_ICEBERG_BLOOM_CACHE.pop(old), ignore_errors=True)
        d = read_table(spark, sf, "documents").select(
            "doc_id", "lang", "source")
        root = tempfile.mkdtemp(prefix="jers-iceberg-bloom-")
        for stripe in range(4):
            il.append(d.filter(F.col("doc_id") % 4 == stripe), root, [],
                      bloom_cols=["doc_id"])
        _ICEBERG_BLOOM_CACHE[key] = root
    root = _ICEBERG_BLOOM_CACHE[key]
    ids = list(_BLOOM_LOOKUP_IDS)
    return (il.read(spark, root, where_point={"doc_id": ids})
            .filter(F.col("doc_id").isin(ids))
            .select("doc_id", "lang", "source"))


SQL_ICEBERG_BLOOM_LOOKUP = f"""
SELECT doc_id, lang, source
FROM documents WHERE doc_id IN {_BLOOM_LOOKUP_IDS}
"""


_ICEBERG_META_CACHE: dict = {}


def q_iceberg_metadata_snapshots(spark, sf):
    """Driver witness for the pytest-only IcebergLite maintenance
    surfaces (VERDICT r06 'What's missing' #4): one scripted lifecycle —
    append ×2 → compact → rollback → WAP stage+publish → WAP stage
    (audit never passes) — then the ``snapshots`` metadata table, which
    must show every operation label, unit accounting, the staged flag on
    the unpublished snapshot, and the current pointer parked on the
    PUBLISHED one (not the later staged one). Everything is
    manifest-derived (no data scan); ts/tag are wall-clock and excluded.
    The oracle is the literal expected history — deterministic because
    snapshot ids are sequential, every append is one unit, and compact
    of an unpartitioned table yields one unit. Staged for the r08
    rotation."""
    import shutil
    import tempfile

    from ..sources import iceberglite as il

    key = (spark.sparkContext.applicationId, sf)
    if key not in _ICEBERG_META_CACHE:
        if not _ICEBERG_META_CACHE:
            import atexit

            atexit.register(lambda: [
                shutil.rmtree(root, ignore_errors=True)
                for root in _ICEBERG_META_CACHE.values()])
        for old in [k for k in _ICEBERG_META_CACHE if k[0] != key[0]]:
            shutil.rmtree(_ICEBERG_META_CACHE.pop(old), ignore_errors=True)
        n = read_table(spark, sf, "nation").select(
            "n_nationkey", "n_name", "n_regionkey")
        root = tempfile.mkdtemp(prefix="jers-iceberg-meta-")
        il.append(n.filter(F.col("n_regionkey") < 2), root, [])       # 1
        s2 = il.append(n.filter(F.col("n_regionkey").isin(2, 3)),
                       root, [])                                      # 2
        il.compact(spark, root)                                       # 3
        il.rollback_to(root, s2)                                      # 4
        s5 = il.stage_append(n.filter(F.col("n_regionkey") == 4),
                             root, [])                                # 5
        il.publish(root, s5)
        il.stage_append(n.filter(F.col("n_regionkey") == 0), root, [])  # 6
        _ICEBERG_META_CACHE[key] = root
    root = _ICEBERG_META_CACHE[key]
    return (il.metadata_table(spark, root, "snapshots")
            .select("id",
                    F.coalesce(F.col("parent"), F.lit(0))
                    .alias("parent_id"),
                    "operation", "n_units", "n_added", "staged",
                    "is_current"))


SQL_ICEBERG_METADATA_SNAPSHOTS = """
SELECT * FROM (VALUES
  (1, 0, 'append',   1, 1, FALSE, FALSE),
  (2, 1, 'append',   2, 1, FALSE, FALSE),
  (3, 2, 'compact',  1, 1, FALSE, FALSE),
  (4, 3, 'rollback', 2, 0, FALSE, FALSE),
  (5, 4, 'append',   3, 1, FALSE, TRUE),
  (6, 5, 'append',   4, 1, TRUE,  FALSE)
) AS t(id, parent_id, operation, n_units, n_added, staged, is_current)
"""


def q_window_scd2(spark, sf):
    """SCD2 (type-2 slowly-changing-dimension) interval construction as
    a query (r06, registered in the r07 rotation): each user's event_type stream is
    collapsed to its CHANGE points (value != previous), and every change
    becomes a validity interval [effective_from, effective_to) closed by
    the next change, open (is_current) on the last. Two windows over ONE
    (user_id | ts, event_id) partitioning — Catalyst plans a single
    exchange+sort; per-user partitions bound the window state at corpus
    scale."""
    from pyspark.sql import Window

    e = read_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        e.select("user_id", "event_type", "ts", "event_id",
                 F.lag("event_type").over(w).alias("prev_type"))
        .filter(F.col("prev_type").isNull()
                | (F.col("event_type") != F.col("prev_type")))
    )
    w2 = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        changes.select(
            "user_id", "event_type",
            F.col("ts").alias("effective_from"),
            F.lead("ts").over(w2).alias("effective_to"))
        .withColumn("is_current", F.col("effective_to").isNull())
    )


SQL_WINDOW_SCD2 = """
WITH chg AS (
  SELECT user_id, event_type, ts, event_id,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev_type
  FROM events
)
SELECT user_id, event_type, ts AS effective_from,
       LEAD(ts) OVER (PARTITION BY user_id
                      ORDER BY ts, event_id) AS effective_to,
       LEAD(ts) OVER (PARTITION BY user_id
                      ORDER BY ts, event_id) IS NULL AS is_current
FROM chg
WHERE prev_type IS NULL OR event_type <> prev_type
"""


def q_unpivot_measures(spark, sf):
    """Wide→long melt (DataFrame.unpivot, Spark 4 API surface): lineitem
    measure columns to (measure, value) rows. The inverse of pivot —
    closes the reshape pair in the relational corpus."""
    li = read_table(spark, sf, "lineitem").filter(F.col("l_orderkey") < 1000)
    return (li.select("l_orderkey", "l_linenumber",
                      F.col("l_quantity").cast("double").alias("quantity"),
                      F.col("l_extendedprice").cast("double")
                      .alias("extendedprice"),
                      F.col("l_discount").cast("double").alias("discount"))
            .unpivot(["l_orderkey", "l_linenumber"],
                     ["quantity", "extendedprice", "discount"],
                     "measure", "value"))


SQL_UNPIVOT_MEASURES = """
SELECT l_orderkey, l_linenumber, measure, value FROM (
  SELECT l_orderkey, l_linenumber,
         CAST(l_quantity AS DOUBLE) AS quantity,
         CAST(l_extendedprice AS DOUBLE) AS extendedprice,
         CAST(l_discount AS DOUBLE) AS discount
  FROM lineitem WHERE l_orderkey < 1000
) UNPIVOT (value FOR measure IN (quantity, extendedprice, discount))
"""


def q_join_range_bucketed(spark, sf):
    """Interval-overlap join WITHOUT an equi key, bucketized: each event's
    trailing 7-day window explodes into the (at most two) week buckets it
    covers, orders map to exactly one bucket, and the join becomes a plain
    hash equi-join on the bucket id + an exact range post-filter. This is
    the 100 TB shape for range joins — the naive form is a nested-loop
    cross product (see q_join_theta, kept as the category demo), which no
    cluster survives on two corpus-sized sides. A pair can only meet in
    the order's own bucket, so no dedup is needed. The oracle is the
    PLAIN range join, proving the bucketing is semantics-preserving."""
    o = read_table(spark, sf, "orders").select(
        "o_orderkey", F.col("o_orderdate").cast("date").alias("od"))
    li = read_table(spark, sf, "lineitem").select(
        F.col("l_shipdate").cast("date").alias("sd"), "l_quantity")
    bucket_days = 7
    days_o = F.datediff(F.col("od"), F.lit("1970-01-01").cast("date"))
    # each order's [od, od+7] window covers at most two week buckets
    ob = o.select(
        "o_orderkey", "od",
        F.explode(F.sequence(
            F.floor(days_o / bucket_days),
            F.floor((days_o + F.lit(bucket_days)) / bucket_days)))
        .alias("bucket"))
    days_l = F.datediff(F.col("sd"), F.lit("1970-01-01").cast("date"))
    lb = li.withColumn("bucket", F.floor(days_l / bucket_days))
    j = ob.join(lb, "bucket").filter(
        (F.col("sd") >= F.col("od"))
        & (F.col("sd") <= F.date_add(F.col("od"), bucket_days)))
    return (j.groupBy("o_orderkey")
            .agg(F.count("*").alias("n_shipments"),
                 _dec_sum("l_quantity", "sum_qty")))


SQL_JOIN_RANGE_BUCKETED = """
SELECT o.o_orderkey,
       CAST(COUNT(*) AS BIGINT) AS n_shipments,
       CAST(SUM(CAST(l.l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
FROM orders o JOIN lineitem l
  ON CAST(l.l_shipdate AS DATE) >= CAST(o.o_orderdate AS DATE)
 AND CAST(l.l_shipdate AS DATE) <= CAST(o.o_orderdate AS DATE)
                                  + INTERVAL 7 DAY
GROUP BY o.o_orderkey
"""


def q_higher_order_funcs(spark, sf):
    """Higher-order array lambdas beyond transform/aggregate (already in
    q_array_funcs): filter, exists, forall, zip_with. Catalyst compiles
    the lambdas into codegen'd loops — the no-UDF way to compute over
    array<float> embedding columns at 100 TB. The square-norm rounds to 4
    places on both engines to absorb float summation-order differences
    (same rule as SQL_ARRAY_FUNCS). Empty-array divergence (ADVICE r03):
    Spark's F.aggregate returns the 0.0 init for an EMPTY array while
    DuckDB's correlated SUM over UNNEST returns NULL — the oracle wraps
    it in COALESCE(..., 0.0). NULL arrays would still diverge (F.size →
    NULL vs LEN semantics) — documented precondition: the embeddings
    corpus carries no NULL vectors (the driver testdata never emits
    them); a corpus that can should pre-filter `embedding IS NOT NULL`
    on both engines (cross-engine rules, top of this file)."""
    e = read_table(spark, sf, "embeddings")
    emb = F.col("embedding")
    dot_self = F.aggregate(
        F.zip_with(emb, emb,
                   lambda a, b: a.cast("double") * b.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x)
    return e.select(
        "vec_id",
        F.size(F.filter(emb, lambda x: x > 0)).cast("bigint").alias("n_pos"),
        F.exists(emb, lambda x: x.cast("double") > 0.9).alias("has_big"),
        F.forall(emb, lambda x: F.abs(x.cast("double")) <= 10.0)
        .alias("bounded"),
        F.round(dot_self, 4).alias("sq_norm_r4"),
    )


SQL_HIGHER_ORDER_FUNCS = """
SELECT vec_id,
       CAST(LEN(LIST_FILTER(embedding, x -> x > 0)) AS BIGINT) AS n_pos,
       LEN(LIST_FILTER(embedding,
                       x -> CAST(x AS DOUBLE) > 0.9)) > 0 AS has_big,
       LEN(LIST_FILTER(embedding,
                       x -> ABS(CAST(x AS DOUBLE)) > 10.0)) = 0 AS bounded,
       ROUND(COALESCE((SELECT SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))
                       FROM UNNEST(embedding) AS t(x)), 0.0), 4) AS sq_norm_r4
FROM embeddings
"""


def q_sample_stratified(spark, sf):
    """Per-stratum Bernoulli sampling (DataFrame.sampleBy): the
    training-data curation primitive — downsample overrepresented strata
    (languages/sources) at per-stratum rates. Engine-specific RNG → the
    driver's rows-only check; subset + per-stratum ±6σ count bands are
    pytest-gated (tests/test_relational_parity.py)."""
    li = read_table(spark, sf, "lineitem")
    return li.sampleBy("l_returnflag", {"A": 0.05, "N": 0.2, "R": 0.1},
                       seed=7).select(
        "l_orderkey", "l_linenumber", "l_returnflag")


def q_agg_exact_percentile(spark, sf):
    """EXACT order statistics (Spark `percentile`, linear interpolation —
    the non-sketch counterpart of agg_approx_percentile).
    DuckDB's QUANTILE_CONT interpolates identically; both sides round to
    4 dp to absorb float summation order. Exact percentiles need a full
    sort per group — fine for dashboard-sized groups, which is why the
    GK-sketch variant exists for corpus-scale columns."""
    li = read_table(spark, sf, "lineitem")
    price = F.col("l_extendedprice").cast("double")
    return (li.groupBy("l_returnflag")
            .agg(F.round(F.expr(
                     "percentile(CAST(l_extendedprice AS DOUBLE), 0.5)"),
                     4).alias("median_r4"),
                 F.round(F.expr(
                     "percentile(CAST(l_extendedprice AS DOUBLE), 0.9)"),
                     4).alias("p90_r4"),
                 F.min(F.col("l_linenumber")).cast("bigint")
                 .alias("min_line"),
                 F.round(F.avg(price), 4).alias("avg_r4")))


SQL_AGG_EXACT_PERCENTILE = """
SELECT l_returnflag,
       ROUND(QUANTILE_CONT(CAST(l_extendedprice AS DOUBLE), 0.5), 4)
         AS median_r4,
       ROUND(QUANTILE_CONT(CAST(l_extendedprice AS DOUBLE), 0.9), 4)
         AS p90_r4,
       CAST(MIN(l_linenumber) AS BIGINT) AS min_line,
       ROUND(AVG(CAST(l_extendedprice AS DOUBLE)), 4) AS avg_r4
FROM lineitem GROUP BY l_returnflag
"""


def q_join_null_safe(spark, sf):
    """Null-safe equality join (`eqNullSafe` / IS NOT DISTINCT FROM):
    NULL keys MATCH each other instead of dropping — the join you need
    when an outer join's null-extended key feeds a second join. Built on
    an outer join's nulls so the semantics actually differ from `=`."""
    o = read_table(spark, sf, "orders")
    c = read_table(spark, sf, "customer")
    # left join gives NULL c_mktsegment for unmatched orders
    oc = (o.join(c, F.col("o_custkey") == F.col("c_custkey"), "left")
          .select("o_orderkey",
                  F.when(F.col("o_orderkey") % 7 == 0, None)
                  .otherwise(F.col("o_orderpriority")).alias("prio")))
    dim = o.select(
        F.when(F.col("o_orderkey") % 3 == 0, None)
        .otherwise(F.col("o_orderpriority")).alias("prio")).distinct()
    return (oc.join(dim, oc["prio"].eqNullSafe(dim["prio"]))
            .groupBy(oc["prio"].alias("prio"))
            .agg(F.count("*").alias("n")))


SQL_JOIN_NULL_SAFE = """
WITH oc AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 7 = 0 THEN NULL
              ELSE o_orderpriority END AS prio
  FROM orders LEFT JOIN customer ON o_custkey = c_custkey
),
dim AS (
  SELECT DISTINCT CASE WHEN o_orderkey % 3 = 0 THEN NULL
                       ELSE o_orderpriority END AS prio
  FROM orders
)
SELECT oc.prio, CAST(COUNT(*) AS BIGINT) AS n
FROM oc JOIN dim ON oc.prio IS NOT DISTINCT FROM dim.prio
GROUP BY oc.prio
"""


def q_agg_approx_percentile(spark, sf):
    """Approximate percentiles (Greenwald-Khanna sketch, accuracy 1/1000):
    the mergeable-sketch aggregation shape — each partition builds a
    bounded-size sketch, sketches merge associatively, so the shuffle
    moves O(sketch) bytes however large the corpus is. Deterministic for
    fixed input but not equal to exact SQL percentiles → driver rows-only;
    the ε-rank error bound vs DuckDB's exact quantiles is pytest-gated
    (tests/test_relational_parity.py)."""
    li = read_table(spark, sf, "lineitem")
    return (li.groupBy("l_returnflag")
            .agg(*[F.approx_percentile(
                       F.col("l_extendedprice").cast("double"),
                       F.lit(p / 100.0), F.lit(1000))
                   .alias(f"p{p}") for p in (25, 50, 95)]))


SQL_JOIN_LATERAL = """
SELECT n.n_name, t.c_custkey, t.c_acctbal
FROM nation n,
LATERAL (SELECT c_custkey, c_acctbal FROM customer c
         WHERE c.c_nationkey = n.n_nationkey
         ORDER BY c_acctbal DESC, c_custkey LIMIT 2) t
"""


def q_join_lateral(spark, sf):
    """LATERAL correlated subquery (top-2 customers per nation) — the
    SQL-surface sibling of window_topk_per_group: the same semantics
    expressed as a correlated LATERAL, which Catalyst decorrelates into
    a ranked join rather than executing per-row. The IDENTICAL SQL text
    runs on both engines."""
    for t in ("nation", "customer"):
        read_table(spark, sf, t).createOrReplaceTempView(t)
    return spark.sql(SQL_JOIN_LATERAL)


def q_window_first_last(spark, sf):
    """first_value / last_value / nth_value window functions over the
    full per-user frame (ROWS UNBOUNDED PRECEDING..UNBOUNDED FOLLOWING —
    the default frame would make last_value degenerate), with a unique
    (ts, event_id) order so the picks are deterministic on both
    engines."""
    from pyspark.sql import Window

    e = read_table(spark, sf, "events")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    return e.select(
        "event_id", "user_id",
        F.first("event_type").over(w).alias("first_type"),
        F.last("event_type").over(w).alias("last_type"),
        F.nth_value("event_type", 2).over(w).alias("second_type"))


SQL_WINDOW_FIRST_LAST = """
SELECT event_id, user_id,
       FIRST_VALUE(event_type) OVER w AS first_type,
       LAST_VALUE(event_type) OVER w AS last_type,
       NTH_VALUE(event_type, 2) OVER w AS second_type
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


_ICEBERG_CLUSTER_CACHE: dict = {}


def q_iceberg_cluster_scan(spark, sf):
    """Sort-order rewrite (cluster_by) as a driver-gradable query (r05):
    `orders` appended in four ARRIVAL-ORDER batches (every unit spans
    the full o_totalprice range, so where_range can prove nothing),
    then cluster_by(["o_totalprice"]) rewrites into range-disjoint
    units — the same where_range scan now lists only the overlapping
    units. Equality with the plain SQL filter proves the clustered
    pruning lossless; tests/test_iceberglite.py pins that files ARE
    skipped post-cluster and the data stays bit-identical."""
    import shutil
    import tempfile

    from ..sources import iceberglite as il

    key = (spark.sparkContext.applicationId, sf)
    if key not in _ICEBERG_CLUSTER_CACHE:
        if not _ICEBERG_CLUSTER_CACHE:
            import atexit

            atexit.register(lambda: [
                shutil.rmtree(root, ignore_errors=True)
                for root in _ICEBERG_CLUSTER_CACHE.values()])
        for old in [k for k in _ICEBERG_CLUSTER_CACHE if k[0] != key[0]]:
            shutil.rmtree(_ICEBERG_CLUSTER_CACHE.pop(old),
                          ignore_errors=True)
        o = read_table(spark, sf, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice")
        root = tempfile.mkdtemp(prefix="jers-iceberg-cluster-")
        for k in range(4):
            il.append(o.filter(F.col("o_orderkey") % 4 == k), root, [],
                      stats_cols=["o_totalprice"])
        il.cluster_by(spark, root, ["o_totalprice"], n_units=8)
        _ICEBERG_CLUSTER_CACHE[key] = root
    root = _ICEBERG_CLUSTER_CACHE[key]
    return (il.read(spark, root,
                    where_range={"o_totalprice": (60_000.0, 140_000.0)})
            .filter(F.col("o_totalprice").between(60_000.0, 140_000.0))
            .select("o_orderkey", "o_custkey", "o_totalprice"))


SQL_ICEBERG_CLUSTER_SCAN = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
WHERE o_totalprice BETWEEN 60000.0 AND 140000.0
"""


_ICEBERG_ZORDER_CACHE: dict = {}


def q_iceberg_zorder_scan(spark, sf):
    """Z-order clustering as a driver-gradable query (r05): `orders`
    appended arrival-order, then cluster_by(["o_totalprice",
    "o_custkey"], zorder=True) rewrites on the Morton key — the
    where_range here predicates on o_custkey, the NON-leading column,
    which a lexicographic sort cannot prune at all (pytest pins 16/16 →
    4/16 units). Equality with the plain SQL filter proves the
    Z-curve-pruned scan lossless."""
    import shutil
    import tempfile

    from ..sources import iceberglite as il

    key = (spark.sparkContext.applicationId, sf)
    if key not in _ICEBERG_ZORDER_CACHE:
        if not _ICEBERG_ZORDER_CACHE:
            import atexit

            atexit.register(lambda: [
                shutil.rmtree(root, ignore_errors=True)
                for root in _ICEBERG_ZORDER_CACHE.values()])
        for old in [k for k in _ICEBERG_ZORDER_CACHE if k[0] != key[0]]:
            shutil.rmtree(_ICEBERG_ZORDER_CACHE.pop(old),
                          ignore_errors=True)
        o = read_table(spark, sf, "orders").select(
            "o_orderkey", "o_custkey", "o_totalprice")
        root = tempfile.mkdtemp(prefix="jers-iceberg-zorder-")
        for k in range(4):
            il.append(o.filter(F.col("o_orderkey") % 4 == k), root, [],
                      stats_cols=["o_totalprice", "o_custkey"])
        il.cluster_by(spark, root, ["o_totalprice", "o_custkey"],
                      n_units=16, zorder=True)
        _ICEBERG_ZORDER_CACHE[key] = root
    root = _ICEBERG_ZORDER_CACHE[key]
    return (il.read(spark, root, where_range={"o_custkey": (100, 400)})
            .filter(F.col("o_custkey").between(100, 400))
            .select("o_orderkey", "o_custkey", "o_totalprice"))


SQL_ICEBERG_ZORDER_SCAN = """
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
WHERE o_custkey BETWEEN 100 AND 400
"""


def q_stream_interval_join_batch(spark, sf):
    """View→purchase attribution via an event-time INTERVAL JOIN — the
    driver-gradable witness for the stream-stream join semantics of
    streaming.ingest.recrawl_interval_join (same condition shape: equi
    key + bounded time range, which is what lets the streaming state
    store evict): for each purchase, the views by the same user in the
    30 minutes before it. Epoch seconds via FLOOR on both engines
    (events carry fractional-second timestamps; Spark's long cast
    truncates, DuckDB's rounds — the session-batch witness rule)."""
    e = read_table(spark, sf, "events")
    v = (e.filter(F.col("event_type") == "view")
         .select(F.col("user_id").alias("v_user"),
                 F.col("ts").alias("v_ts")))
    p = (e.filter(F.col("event_type") == "purchase")
         .select("event_id", "user_id", F.col("ts").alias("p_ts")))
    j = p.join(v, (p["user_id"] == v["v_user"])
               & (v["v_ts"] <= p["p_ts"])
               & (v["v_ts"] > p["p_ts"] - F.expr("interval 30 minutes")))
    return (j.groupBy(F.col("event_id").alias("purchase_id"), "user_id")
            .agg(F.count("*").alias("n_views_30m"),
                 F.min(p["p_ts"].cast("timestamp").cast("long")
                       - v["v_ts"].cast("timestamp").cast("long"))
                 .alias("last_view_gap_s")))


SQL_STREAM_INTERVAL_JOIN_BATCH = """
SELECT p.event_id AS purchase_id, p.user_id,
       CAST(COUNT(*) AS BIGINT) AS n_views_30m,
       MIN(CAST(FLOOR(EPOCH(p.ts)) AS BIGINT)
           - CAST(FLOOR(EPOCH(v.ts)) AS BIGINT)) AS last_view_gap_s
FROM events p
JOIN events v
  ON v.user_id = p.user_id
 AND v.event_type = 'view'
 AND v.ts <= p.ts
 AND v.ts > p.ts - INTERVAL 30 MINUTE
WHERE p.event_type = 'purchase'
GROUP BY p.event_id, p.user_id
"""


def q_agg_stats_funcs(spark, sf):
    """Statistical aggregates: corr / covar / stddev / variance plus
    skewness and excess kurtosis per group. Spark's skewness/kurtosis
    are the POPULATION moments (g1 and g2−3; DuckDB's built-ins apply
    the sample bias correction, a different statistic), so the oracle
    reproduces them from raw power sums — verified equal to ~1e-13
    before rounding. All map-side-combinable aggregations."""
    li = read_table(spark, sf, "lineitem")
    q = F.col("l_quantity").cast("double")
    p = F.col("l_extendedprice").cast("double")
    return (li.groupBy("l_returnflag")
            .agg(F.round(F.corr(q, p), 6).alias("corr_qty_price"),
                 F.round(F.covar_samp(q, p), 6).alias("covar_qty_price"),
                 F.round(F.stddev_samp(q), 6).alias("stddev_qty"),
                 F.round(F.var_pop(q), 6).alias("varpop_qty"),
                 F.round(F.skewness(q), 6).alias("skew_qty"),
                 F.round(F.kurtosis(q), 6).alias("kurt_qty")))


SQL_AGG_STATS_FUNCS = """
WITH m AS (
  SELECT l_returnflag,
         CORR(CAST(l_quantity AS DOUBLE),
              CAST(l_extendedprice AS DOUBLE)) AS corr_qp,
         COVAR_SAMP(CAST(l_quantity AS DOUBLE),
                    CAST(l_extendedprice AS DOUBLE)) AS covar_qp,
         STDDEV_SAMP(CAST(l_quantity AS DOUBLE)) AS sd_q,
         VAR_POP(CAST(l_quantity AS DOUBLE)) AS vp_q,
         AVG(CAST(l_quantity AS DOUBLE)) AS e1,
         AVG(POW(CAST(l_quantity AS DOUBLE), 2)) AS e2,
         AVG(POW(CAST(l_quantity AS DOUBLE), 3)) AS e3,
         AVG(POW(CAST(l_quantity AS DOUBLE), 4)) AS e4
  FROM lineitem GROUP BY l_returnflag)
SELECT l_returnflag,
       ROUND(corr_qp, 6) AS corr_qty_price,
       ROUND(covar_qp, 6) AS covar_qty_price,
       ROUND(sd_q, 6) AS stddev_qty,
       ROUND(vp_q, 6) AS varpop_qty,
       ROUND((e3 - 3 * e1 * e2 + 2 * POW(e1, 3))
             / POW(e2 - e1 * e1, 1.5), 6) AS skew_qty,
       ROUND((e4 - 4 * e1 * e3 + 6 * e1 * e1 * e2 - 3 * POW(e1, 4))
             / POW(e2 - e1 * e1, 2) - 3, 6) AS kurt_qty
FROM m
"""


# --- registry ---------------------------------------------------------------

RELATIONAL_QUERIES = {
    # Since r06 the driver window is the EXPLICIT registry.WINDOW list —
    # dict order here no longer controls which queries the driver
    # hash-checks (the r02–r05 rotation history lives in the committed
    # CORRECTNESS_r0*.json files and the git log of this comment block).
    # Two tests pin the discipline: exact window membership
    # (test_driver_window_covers_priority_queries) and the stamp-age rule
    # (test_every_query_driver_checked_within_3_rounds — every query
    # needs a driver row from the last 3 rounds or a seat in the current
    # window).
    "stream_session_batch": q_stream_session_batch,
    "window_ntile_percent": q_window_ntile_percent,
    "iceberg_stats_skipping": q_iceberg_stats_skipping,
    "agg_exact_percentile": q_agg_exact_percentile,
    "join_null_safe": q_join_null_safe,
    "unpivot_measures": q_unpivot_measures,
    "join_range_bucketed": q_join_range_bucketed,
    "higher_order_funcs": q_higher_order_funcs,
    "sample_stratified": q_sample_stratified,
    "agg_approx_percentile": q_agg_approx_percentile,
    "scan_project": q_scan_project,
    "filter_pushdown": q_filter_pushdown,
    "join_asof": q_join_asof,
    "join_broadcast": q_join_broadcast,
    "join_sortmerge": q_join_sortmerge,
    "stream_sliding_batch": q_stream_sliding_batch,
    "join_shuffledhash": q_join_shuffledhash,
    "join_anti": q_join_anti,
    "join_theta": q_join_theta,
    "agg_group_multi": q_agg_group_multi,
    "agg_count_distinct": q_agg_count_distinct,
    "window_rank": q_window_rank,
    "window_lag_lead": q_window_lag_lead,
    "window_frame_sum": q_window_frame_sum,
    "sort_limit": q_sort_limit,
    "window_topk_per_group": q_window_topk_per_group,
    "set_union_all": q_set_union_all,
    "set_intersect": q_set_intersect,
    "set_except": q_set_except,
    "distinct_rows": q_distinct_rows,
    "date_funcs": q_date_funcs,
    "array_funcs": q_array_funcs,
    "json_funcs": q_json_funcs,
    "explode_array": q_explode_array,
    "pivot_event_type": q_pivot_event_type,
    "set_union_distinct": q_set_union_distinct,
    "window_range_interval": q_window_range_interval,
    "agg_grouping_sets": q_agg_grouping_sets,
    "map_funcs": q_map_funcs,
    "subquery_scalar": q_subquery_scalar,
    "conditional_funcs": q_conditional_funcs,
    "sort_nulls": q_sort_nulls,
    "agg_salted_skew": q_agg_salted_skew,
    "join_asof_agg": q_join_asof_agg,
    "stream_tumbling_batch": q_stream_tumbling_batch,
    "join_salted": q_join_salted,
    "iceberg_snapshot_scan": q_iceberg_snapshot_scan,
    "join_left": q_join_left,
    "join_full": q_join_full,
    "join_semi": q_join_semi,
    "agg_rollup": q_agg_rollup,
    "agg_cube": q_agg_cube,
    # rows-only by nature (engine RNG / sketch): driver rows-only checks
    # plus ±σ pytest bands
    "agg_approx_distinct": q_agg_approx_distinct,
    "sample_frac": q_sample_frac,
    "agg_stats_funcs": q_agg_stats_funcs,
    "stream_interval_join_batch": q_stream_interval_join_batch,
    "iceberg_cluster_scan": q_iceberg_cluster_scan,
    "join_lateral": q_join_lateral,
    "window_first_last": q_window_first_last,
    "iceberg_zorder_scan": q_iceberg_zorder_scan,
}

RELATIONAL_ORACLE = {
    "stream_sliding_batch": SQL_STREAM_SLIDING_BATCH,
    "stream_session_batch": SQL_STREAM_SESSION_BATCH,
    "scan_project": SQL_SCAN_PROJECT,
    "filter_pushdown": SQL_FILTER_PUSHDOWN,
    "join_broadcast": SQL_JOIN_BROADCAST,
    "join_sortmerge": SQL_JOIN_SORTMERGE,
    "join_shuffledhash": SQL_JOIN_SHUFFLEDHASH,
    "join_left": SQL_JOIN_LEFT,
    "join_full": SQL_JOIN_FULL,
    "join_semi": SQL_JOIN_SEMI,
    "join_anti": SQL_JOIN_ANTI,
    "join_theta": SQL_JOIN_THETA,
    "join_asof": SQL_JOIN_ASOF,
    "agg_group_multi": SQL_AGG_GROUP_MULTI,
    "agg_count_distinct": SQL_AGG_COUNT_DISTINCT,
    "agg_rollup": SQL_AGG_ROLLUP,
    "agg_cube": SQL_AGG_CUBE,
    "window_rank": SQL_WINDOW_RANK,
    "window_ntile_percent": SQL_WINDOW_NTILE_PERCENT,
    "iceberg_stats_skipping": SQL_ICEBERG_STATS_SKIPPING,
    "agg_exact_percentile": SQL_AGG_EXACT_PERCENTILE,
    "join_null_safe": SQL_JOIN_NULL_SAFE,
    "window_lag_lead": SQL_WINDOW_LAG_LEAD,
    "window_frame_sum": SQL_WINDOW_FRAME_SUM,
    "sort_limit": SQL_SORT_LIMIT,
    "window_topk_per_group": SQL_WINDOW_TOPK_PER_GROUP,
    "set_union_all": SQL_SET_UNION_ALL,
    "set_intersect": SQL_SET_INTERSECT,
    "set_except": SQL_SET_EXCEPT,
    "distinct_rows": SQL_DISTINCT_ROWS,
    "date_funcs": SQL_DATE_FUNCS,
    "array_funcs": SQL_ARRAY_FUNCS,
    "json_funcs": SQL_JSON_FUNCS,
    "explode_array": SQL_EXPLODE_ARRAY,
    "pivot_event_type": SQL_PIVOT_EVENT_TYPE,
    "set_union_distinct": SQL_SET_UNION_DISTINCT,
    "window_range_interval": SQL_WINDOW_RANGE_INTERVAL,
    "agg_grouping_sets": SQL_AGG_GROUPING_SETS,
    "map_funcs": SQL_MAP_FUNCS,
    "subquery_scalar": SQL_SUBQUERY_SCALAR,
    "conditional_funcs": SQL_CONDITIONAL_FUNCS,
    "sort_nulls": SQL_SORT_NULLS,
    "agg_salted_skew": SQL_AGG_SALTED_SKEW,
    "join_asof_agg": SQL_JOIN_ASOF_AGG,
    "stream_tumbling_batch": SQL_STREAM_TUMBLING_BATCH,
    "join_salted": SQL_JOIN_SALTED,
    "iceberg_snapshot_scan": SQL_ICEBERG_SNAPSHOT_SCAN,
    "unpivot_measures": SQL_UNPIVOT_MEASURES,
    "join_range_bucketed": SQL_JOIN_RANGE_BUCKETED,
    "higher_order_funcs": SQL_HIGHER_ORDER_FUNCS,
    "agg_stats_funcs": SQL_AGG_STATS_FUNCS,
    "stream_interval_join_batch": SQL_STREAM_INTERVAL_JOIN_BATCH,
    "iceberg_cluster_scan": SQL_ICEBERG_CLUSTER_SCAN,
    "join_lateral": SQL_JOIN_LATERAL,
    "window_first_last": SQL_WINDOW_FIRST_LAST,
    "iceberg_zorder_scan": SQL_ICEBERG_ZORDER_SCAN,
    # sample_stratified: engine-specific RNG → rows-only (bounded pytest)
    # approx_distinct / sample_frac: deliberately no oracle (nondeterministic
    # vs exact SQL) → driver rows-only check (bounded pytest checks in
    # tests/test_relational_parity.py)
}


# --- composite TPC-H-style witnesses (r07, staged for r08) -------------------
# The relational corpus covers every operator SHAPE individually; these
# three classic queries compose them (multi-way joins + grouped money
# aggregates + top-k) into end-to-end plans the optimizer must get right
# as a whole — pushdown below a 6-table join, broadcast of the dim chain,
# partial aggregation above the join. Revenue arithmetic stays in
# DECIMAL end-to-end (the corpus prices/discounts are 2dp-exact), so the
# double result is bit-identical across engines regardless of sum order.

def _dec2(col: str):
    return F.col(col).cast("decimal(18,2)")


def q_tpch_q1(spark, sf):
    """TPC-H Q1 (pricing summary report): one wide grouped aggregate
    over the fact table with derived decimal expressions — the canonical
    map-side-combinable scan-heavy aggregation."""
    li = read_table(spark, sf, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02"))
    disc_price = _dec2("l_extendedprice") * (F.lit(1).cast("decimal(18,2)")
                                             - _dec2("l_discount"))
    charge = disc_price * (F.lit(1).cast("decimal(18,2)")
                           + _dec2("l_tax"))
    return (li.groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum(_dec2("l_quantity")).cast("double").alias("sum_qty"),
                 F.sum(_dec2("l_extendedprice")).cast("double")
                 .alias("sum_base_price"),
                 F.sum(disc_price).cast("double").alias("sum_disc_price"),
                 F.sum(charge).cast("double").alias("sum_charge"),
                 # avg as exact-sum / count in DOUBLE: Spark's
                 # AVG(decimal) result scale (6) differs from DuckDB's
                 # full-precision double average — dividing the exact
                 # decimal sum by the count gives the identical double
                 # on both engines
                 (F.sum(_dec2("l_quantity")).cast("double")
                  / F.count("*")).alias("avg_qty"),
                 F.count("*").alias("count_order")))


SQL_TPCH_Q1 = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
         AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
            AS DOUBLE) AS sum_disc_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
                * (CAST(1 AS DECIMAL(18,2)) + CAST(l_tax AS DECIMAL(18,2))))
            AS DOUBLE) AS sum_charge,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)
         AS avg_qty,
       CAST(COUNT(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_tpch_q3(spark, sf):
    """TPC-H Q3 (shipping-priority top-10): segment-filtered 3-way join
    with a grouped revenue aggregate and a deterministic top-k — the
    filter must reach both parquet scans (plan-gated), the customer dim
    broadcasts, and the top-k plans as TakeOrderedAndProject."""
    c = read_table(spark, sf, "customer").filter(
        F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    o = read_table(spark, sf, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15"))
    li = read_table(spark, sf, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15"))
    rev = _dec2("l_extendedprice") * (F.lit(1).cast("decimal(18,2)")
                                      - _dec2("l_discount"))
    return (li.join(o, li["l_orderkey"] == o["o_orderkey"])
            .join(c, o["o_custkey"] == c["c_custkey"])
            .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
            .agg(F.sum(rev).cast("double").alias("revenue"))
            .orderBy(F.col("revenue").desc(), "o_orderdate", "l_orderkey")
            .limit(10))


SQL_TPCH_Q3 = """
SELECT l_orderkey, o_orderdate, o_orderpriority,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
            AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < '1995-03-15'
  AND l_shipdate > '1995-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderdate, l_orderkey
LIMIT 10
"""


def q_tpch_q5(spark, sf):
    """TPC-H Q5 (local-supplier revenue by nation): the 6-table join —
    region → nation → (customer, supplier) → orders → lineitem with the
    customer and supplier required to share a nation. The whole dim
    chain (region/nation/customer/supplier) is broadcast-sized at any
    SF; only orders ⋈ lineitem shuffles. Date window widened vs spec so
    the synthetic corpus keeps every nation populated."""
    r = read_table(spark, sf, "region").filter(F.col("r_name") == "ASIA")
    n = read_table(spark, sf, "nation")
    c = read_table(spark, sf, "customer")
    s = read_table(spark, sf, "supplier")
    o = read_table(spark, sf, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1994-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01")))
    li = read_table(spark, sf, "lineitem")
    rev = _dec2("l_extendedprice") * (F.lit(1).cast("decimal(18,2)")
                                      - _dec2("l_discount"))
    return (li.join(o, li["l_orderkey"] == o["o_orderkey"])
            .join(c, o["o_custkey"] == c["c_custkey"])
            .join(s, (li["l_suppkey"] == s["s_suppkey"])
                  & (c["c_nationkey"] == s["s_nationkey"]))
            .join(n, s["s_nationkey"] == n["n_nationkey"])
            .join(r, n["n_regionkey"] == r["r_regionkey"])
            .groupBy("n_name")
            .agg(F.sum(rev).cast("double").alias("revenue"))
            .orderBy(F.col("revenue").desc(), "n_name"))


SQL_TPCH_Q5 = """
SELECT n_name,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
            AS DOUBLE) AS revenue
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= '1994-01-01' AND o_orderdate < '1997-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


def q_funnel_steps(spark, sf):
    """Ordered conversion funnel over the event stream (r07, staged for
    r08): view → click-after-view → purchase-after-that-click, counting
    users who reach each step in ORDER (a click before the first view
    does not count) — the product-analytics query every event pipeline
    owes its users. Three conditional per-user aggregates chained by
    time: t1 = first view, t2 = first click ≥ t1, t3 = first purchase
    ≥ t2; step counts are the non-null tallies.

    Scale shape: ONE shuffle — everything is per-user conditional
    aggregation (min over CASE), so the events stream is hashed by
    user_id once and each step derives map-side; the step→count unpivot
    at the end is driver-bounded (3 rows)."""
    e = read_table(spark, sf, "events")
    per_user = e.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts")))
        .alias("t1"))
    per_user = (e.join(per_user, "user_id")
                .groupBy("user_id")
                .agg(F.min("t1").alias("t1"),
                     F.min(F.when((F.col("event_type") == "click")
                                  & (F.col("ts") >= F.col("t1")),
                                  F.col("ts"))).alias("t2")))
    per_user = (e.join(per_user, "user_id")
                .groupBy("user_id")
                .agg(F.min("t1").alias("t1"), F.min("t2").alias("t2"),
                     F.min(F.when((F.col("event_type") == "purchase")
                                  & (F.col("ts") >= F.col("t2")),
                                  F.col("ts"))).alias("t3")))
    counts = per_user.agg(
        F.count("t1").cast("bigint").alias("n_view"),
        F.count("t2").cast("bigint").alias("n_click_after_view"),
        F.count("t3").cast("bigint").alias("n_purchase_after_click"))
    steps = F.array(
        F.struct(F.lit(1).alias("step"), F.lit("view").alias("name"),
                 F.col("n_view").alias("n_users")),
        F.struct(F.lit(2).alias("step"), F.lit("click_after_view").alias("name"),
                 F.col("n_click_after_view").alias("n_users")),
        F.struct(F.lit(3).alias("step"), F.lit("purchase_after_click").alias("name"),
                 F.col("n_purchase_after_click").alias("n_users")))
    return (counts.select(F.explode(steps).alias("s"))
            .select(F.col("s.step").alias("step"),
                    F.col("s.name").alias("name"),
                    F.col("s.n_users").alias("n_users")))


SQL_FUNNEL_STEPS = """
WITH s1 AS (
  SELECT user_id, MIN(CASE WHEN event_type = 'view' THEN ts END) AS t1
  FROM events GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, MIN(s1.t1) AS t1,
         MIN(CASE WHEN e.event_type = 'click' AND e.ts >= s1.t1
                  THEN e.ts END) AS t2
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, MIN(s2.t1) AS t1, MIN(s2.t2) AS t2,
         MIN(CASE WHEN e.event_type = 'purchase' AND e.ts >= s2.t2
                  THEN e.ts END) AS t3
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  GROUP BY e.user_id
),
c AS (SELECT CAST(COUNT(t1) AS BIGINT) AS n_view,
             CAST(COUNT(t2) AS BIGINT) AS n_click,
             CAST(COUNT(t3) AS BIGINT) AS n_purchase
      FROM s3)
SELECT 1 AS step, 'view' AS name, n_view AS n_users FROM c
UNION ALL
SELECT 2, 'click_after_view', n_click FROM c
UNION ALL
SELECT 3, 'purchase_after_click', n_purchase FROM c
"""


def q_agg_string_concat(spark, sf):
    """Ordered string aggregation (r07, staged for r08) — LISTAGG /
    STRING_AGG semantics, the one aggregate family the corpus didn't yet
    cover. Determinism rule: collect_set + array_sort before the join,
    so both engines emit the identical comma-joined string regardless of
    aggregation order (a bare collect_list would hash-mismatch by
    arrival order). Map-side combinable; the per-group distinct set is
    bounded by the domain (order priorities), not the row count."""
    o = read_table(spark, sf, "orders")
    return (o.groupBy("o_orderstatus")
            .agg(F.array_join(F.array_sort(F.collect_set("o_orderpriority")),
                              ",").alias("priorities"),
                 F.countDistinct("o_orderpriority").cast("bigint")
                 .alias("n_priorities"),
                 F.count("*").alias("n_orders")))


SQL_AGG_STRING_CONCAT = """
SELECT o_orderstatus,
       STRING_AGG(DISTINCT o_orderpriority, ','
                  ORDER BY o_orderpriority) AS priorities,
       CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS n_priorities,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders GROUP BY o_orderstatus
"""


def q_agg_median_mad(spark, sf):
    """Robust per-group statistics (r07, staged for r08): exact MEDIAN
    and MAD (median absolute deviation) of order totals per status — the
    outlier-resistant pair quality dashboards prefer over mean/stddev on
    heavy-tailed money columns. MAD needs the group median joined back
    under the rows before a second median — two grouped sorts on the
    same (low-cardinality) key; at corpus scale both are the standard
    single-exchange percentile plans, and the join-back table is
    group-count-sized (broadcast)."""
    o = read_table(spark, sf, "orders").select("o_orderstatus",
                                               "o_totalprice")
    med = (o.groupBy("o_orderstatus")
           .agg(F.median("o_totalprice").alias("med")))
    return (o.join(F.broadcast(med), "o_orderstatus")
            .select("o_orderstatus", "med",
                    F.abs(F.col("o_totalprice") - F.col("med")).alias("ad"))
            .groupBy("o_orderstatus")
            .agg(F.round(F.min("med"), 6).alias("median_price"),
                 F.round(F.median("ad"), 6).alias("mad_price"),
                 F.count("*").alias("n_orders")))


SQL_AGG_MEDIAN_MAD = """
WITH med AS (
  SELECT o_orderstatus, MEDIAN(o_totalprice) AS med
  FROM orders GROUP BY o_orderstatus
)
SELECT o.o_orderstatus,
       ROUND(MIN(med.med), 6) AS median_price,
       ROUND(MEDIAN(ABS(o.o_totalprice - med.med)), 6) AS mad_price,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM orders o JOIN med USING (o_orderstatus)
GROUP BY o.o_orderstatus
"""


def q_json_variant(spark, sf):
    """VARIANT-type semi-structured access (r07, staged for r08) — the
    Spark 4 answer to schemaless JSON columns: parse once into the
    binary VARIANT encoding, then typed path extraction without a
    per-query schema. The witness splices a heterogeneous variant of
    the events ``props`` into odd rows (string-typed k plus an array —
    the shape drift VARIANT exists for; same expression both engines,
    the pii_scrub precedent), then extracts k as string (uniform over
    int/string payloads) and the array head as int (NULL where absent,
    via try_variant_get). Output stays scalar for the driver canon.

    Scale shape: map-only — parse_json + variant_get are codegen'd
    expressions; no shuffle, no Python."""
    e = read_table(spark, sf, "events").select("event_id", "props")
    props2 = F.when(
        F.col("event_id") % 2 == 1,
        F.concat(F.lit('{"k": "s'),
                 (F.col("event_id") % 100).cast("string"),
                 F.lit('", "extra": [7, 8]}')),
    ).otherwise(F.col("props"))
    v = F.parse_json(props2)
    return e.select(
        "event_id",
        F.variant_get(v, "$.k", "string").alias("k_str"),
        F.try_variant_get(v, "$.extra[0]", "int").alias("extra0"),
        F.try_variant_get(v, "$.missing", "string").alias("missing_val"))


SQL_JSON_VARIANT = """
SELECT event_id,
       CASE WHEN event_id % 2 = 1
            THEN json_extract_string(
                   '{"k": "s' || CAST(event_id % 100 AS VARCHAR)
                   || '", "extra": [7, 8]}', '$.k')
            ELSE json_extract_string(props, '$.k') END AS k_str,
       CASE WHEN event_id % 2 = 1 THEN CAST(7 AS INT)
            ELSE CAST(NULL AS INT) END AS extra0,
       CAST(NULL AS VARCHAR) AS missing_val
FROM events
"""


_WARCLITE_CACHE: dict = {}


def q_src_warclite_roundtrip(spark, sf):
    """Driver witness for the WARC-lite Python Data Source (r07, staged
    for r08): the documents table is written out as a 4-segment crawl
    drop (deterministic synthetic urls/headers, payload = utf-8 text
    bytes), read back through the registered datasource, and projected
    to scalar columns — a hash-green row here means the custom source's
    partitioning, record splitting, and Arrow batch path reproduce the
    corpus byte-for-byte. Oracle: the same projection straight off the
    source table."""
    import shutil
    import tempfile

    from ..sources import warclite as W

    key = (spark.sparkContext.applicationId, sf)
    if key not in _WARCLITE_CACHE:
        if not _WARCLITE_CACHE:
            import atexit

            atexit.register(lambda: [
                shutil.rmtree(root, ignore_errors=True)
                for root in _WARCLITE_CACHE.values()])
        for old in [k for k in _WARCLITE_CACHE if k[0] != key[0]]:
            shutil.rmtree(_WARCLITE_CACHE.pop(old), ignore_errors=True)
        rows = [(f"https://doc.example/p/{r.doc_id}", "2024-01-01T00:00:00",
                 r.lang, (r.text or "").encode("utf-8"))
                for r in read_table(spark, sf, "documents")
                .select("doc_id", "lang", "text").collect()]
        root = tempfile.mkdtemp(prefix="jers-warclite-")
        W.write_warclite(rows, root, n_files=4)
        _WARCLITE_CACHE[key] = root
    root = _WARCLITE_CACHE[key]
    from ..sources.warclite import WarcLiteDataSource

    spark.dataSource.register(WarcLiteDataSource)
    return (spark.read.format("warclite").option("path", root).load()
            .select("url", "lang",
                    F.octet_length("html").cast("bigint").alias("n_bytes"),
                    F.md5(F.col("html").cast("string")).alias("text_md5")))


SQL_SRC_WARCLITE_ROUNDTRIP = """
SELECT 'https://doc.example/p/' || CAST(doc_id AS VARCHAR) AS url, lang,
       CAST(OCTET_LENGTH(ENCODE(text)) AS BIGINT) AS n_bytes,
       MD5(text) AS text_md5
FROM documents
"""


def q_agg_grouping_id(spark, sf):
    """GROUPING SETS with grouping_id/grouping markers (r07, staged for
    r08): the disambiguation columns that make rollup NULLs readable —
    grouping(col) = 1 marks an aggregated-out dimension, so a NULL data
    value and a subtotal row are distinguishable. Completes the
    grouping-sets family next to agg_grouping_sets/rollup/cube."""
    li = read_table(spark, sf, "lineitem")
    return (li.cube("l_returnflag", "l_linestatus")
            .agg(F.grouping_id().cast("bigint").alias("gid"),
                 F.grouping("l_returnflag").cast("bigint").alias("g_rf"),
                 F.grouping("l_linestatus").cast("bigint").alias("g_ls"),
                 F.count("*").alias("n_rows")))


SQL_AGG_GROUPING_ID = """
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
       CAST(GROUPING(l_returnflag) AS BIGINT) AS g_rf,
       CAST(GROUPING(l_linestatus) AS BIGINT) AS g_ls,
       CAST(COUNT(*) AS BIGINT) AS n_rows
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
"""
