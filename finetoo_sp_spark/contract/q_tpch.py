"""Contract queries: TPC-H-style relational operators, windows, pivots, CDC/SCD.

Split from the round-3 contract.py monolith (VERDICT r03 item 7);
every query keeps its original name, Spark plan, and DuckDB twin.
"""

from __future__ import annotations

from finetoo_sp_spark.contract._core import (
    DataFrame,
    SparkSession,
    F,
    documents_to_pages,
    ts,
    ev,
    op_aggregate,
    op_compare,
    op_filter,
    op_group_by,
    op_join,
    op_match,
    op_project,
    op_traverse,
    T,
    tpch_graph,
    _CUSTOMER_COLS,
    _ORDERS_COLS,
    _q,
    _tmp_out,
)


# --- TPC-H classics ------------------------------------------------------


@_q(
    "q1_pricing_summary",
    """
SELECT l_returnflag, l_linestatus,
  round(sum(l_quantity), 2) AS sum_qty,
  round(sum(l_extendedprice), 2) AS sum_base_price,
  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
  round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
  round(avg(l_quantity), 4) AS avg_qty,
  round(avg(l_extendedprice), 4) AS avg_price,
  round(avg(l_discount), 4) AS avg_disc,
  count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus""",
    audit=[
        ("shipdate filter pushed to scan", r"PushedFilters: \[.*LessThanOrEqual\(l_shipdate"),
        ("column pruning (no l_orderkey read)", r"ReadSchema: [^\n]*l_returnflag"),
        ("whole-stage codegen", r"codegen id : "),
        ("partial aggregation", r"HashAggregate"),
    ],
)
def q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc), 2).alias("sum_disc_price"),
            F.round(F.sum(disc * (1 + F.col("l_tax"))), 2).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@_q(
    "q3_shipping_priority",
    """
SELECT l_orderkey,
  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
  o_orderdate, o_orderpriority
FROM customer JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1995-03-15'
  AND l_shipdate > TIMESTAMP '1995-03-15'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10""",
    audit=[
        ("customer segment filter pushed", r"PushedFilters: \[.*EqualTo\(c_mktsegment,BUILDING"),
        ("broadcast join for customer dim", r"BroadcastHashJoin"),
        ("whole-stage codegen", r"codegen id : "),
    ],
)
def q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = T(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    orders = T(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15").cast("timestamp")
    )
    li = T(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15").cast("timestamp")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
    )


@_q(
    "q5_local_supplier",
    """
SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
GROUP BY n_name""",
    audit=[
        ("region filter pushed", r"PushedFilters: \[.*EqualTo\(r_name,ASIA"),
        ("broadcast joins", r"BroadcastHashJoin"),
    ],
)
def q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = T(spark, sf_dir, "customer")
    orders = T(spark, sf_dir, "orders")
    li = T(spark, sf_dir, "lineitem")
    supp = T(spark, sf_dir, "supplier")
    nation = T(spark, sf_dir, "nation")
    region = T(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            F.broadcast(supp),
            (li.l_suppkey == supp.s_suppkey) & (cust.c_nationkey == supp.s_nationkey),
        )
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
    )


# --- the 8 primitives over the property graph ---------------------------


@_q(
    "match_customer",
    f"SELECT c_custkey AS node_id, {_CUSTOMER_COLS} FROM customer WHERE c_custkey = 42",
    audit=[
        ("point predicate pushed", r"PushedFilters: \[.*EqualTo\(c_custkey,42"),
        ("limit short-circuit present", r"CollectLimit"),
    ],
)
def q_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = tpch_graph(spark, sf_dir)
    out = op_match(g, "customer", "c_custkey", 42)
    return out.select("node_id", *[c.strip() for c in _CUSTOMER_COLS.split(",")])


@_q(
    "filter_customers",
    f"SELECT c_custkey AS node_id, {_CUSTOMER_COLS} FROM customer WHERE c_acctbal > 9900.0",
    audit=[
        ("range predicate pushed", r"PushedFilters: \[.*GreaterThan\(c_acctbal"),
    ],
)
def q_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = tpch_graph(spark, sf_dir)
    out = op_filter(g, "customer", "c_acctbal", "GT", 9900.0)
    return out.select("node_id", *[c.strip() for c in _CUSTOMER_COLS.split(",")])


@_q(
    "project_parts",
    "SELECT p_partkey, p_name, p_retailprice AS price FROM part",
    audit=[
        ("column pruning to 3 cols", r"ReadSchema: struct<p_partkey:bigint,p_name:string,p_retailprice:double>"),
    ],
)
def q_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = tpch_graph(spark, sf_dir)
    return op_project(
        g, "part", ["p_partkey", "p_name", "p_retailprice"], rename={"p_retailprice": "price"}
    )


@_q(
    "compare_acctbal",
    """
SELECT a.c_acctbal AS value_1, b.c_acctbal AS value_2,
  a.c_acctbal - b.c_acctbal AS difference,
  abs(a.c_acctbal - b.c_acctbal) <= 1000.0 AS within_tolerance
FROM (SELECT c_acctbal FROM customer WHERE c_custkey = 1) a,
     (SELECT c_acctbal FROM customer WHERE c_custkey = 2) b""",
)
def q_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = tpch_graph(spark, sf_dir)
    return op_compare(g, "customer", "c_acctbal", "c_custkey", 1, 2, tolerance=1000.0)


@_q(
    "traverse_placed",
    """
SELECT o_custkey AS origin, o_orderkey AS dst, 1 AS depth,
  o_custkey || ' -> ' || o_orderkey AS provenance
FROM orders WHERE o_custkey IN (1, 2, 3, 4, 5)""",
    audit=[
        ("start-set pushed as In filter", r"PushedFilters: \[.*In\(o_custkey"),
    ],
)
def q_traverse(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = tpch_graph(spark, sf_dir)
    return op_traverse(g, "PLACED", start_ids=[1, 2, 3, 4, 5])


@_q(
    "join_placed",
    f"""
SELECT c_custkey AS node_id, {_CUSTOMER_COLS},
  o_orderkey AS orders_node_id,
  {', '.join(f'{c.strip()} AS orders_{c.strip()}' for c in _ORDERS_COLS.split(','))}
FROM customer JOIN orders ON o_custkey = c_custkey
WHERE c_custkey <= 50""",
    audit=[
        ("key filter pushed", r"PushedFilters: \[.*LessThanOrEqual\(c_custkey,50"),
        ("hash join (broadcast or shuffled)", r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)"),
    ],
)
def q_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = tpch_graph(spark, sf_dir)
    left = g.nodes["customer"].filter(F.col("c_custkey") <= 50)
    out = op_join(g, "customer", "orders", "PLACED", left=left)
    cust_cols = ["node_id"] + [c.strip() for c in _CUSTOMER_COLS.split(",")]
    ord_cols = ["orders_node_id"] + [f"orders_{c.strip()}" for c in _ORDERS_COLS.split(",")]
    return out.select(*cust_cols, *ord_cols)


@_q(
    "aggregate_avg_quantity",
    "SELECT round(avg(l_quantity), 4) AS avg_l_quantity FROM lineitem",
)
def q_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = tpch_graph(spark, sf_dir)
    out = op_aggregate(g, "lineitem", "AVG", "l_quantity")
    return out.select(F.round("avg_l_quantity", 4).alias("avg_l_quantity"))


@_q(
    "group_by_priority",
    "SELECT o_orderpriority, count(*) AS count_nodes FROM orders GROUP BY o_orderpriority",
)
def q_group_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    g = tpch_graph(spark, sf_dir)
    return op_group_by(g, "orders", "o_orderpriority")


@_q(
    "aggregate_global",
    """
SELECT count(*) AS n_rows,
  round(sum(l_quantity), 2) AS sum_qty,
  round(avg(l_quantity), 4) AS avg_qty,
  min(l_quantity) AS min_qty,
  max(l_quantity) AS max_qty,
  round(stddev(l_quantity), 4) AS stddev_qty
FROM lineitem""",
)
def q_aggregate_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = T(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
        F.round(F.stddev("l_quantity"), 4).alias("stddev_qty"),
    )


# --- sorts / limits / set ops -------------------------------------------


@_q(
    "top_k_orders",
    """
SELECT o_orderkey, o_totalprice, o_orderdate FROM orders
ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""",
)
def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        T(spark, sf_dir, "orders")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_totalprice", "o_orderdate")
    )


@_q(
    "union_nation_keys",
    """
SELECT DISTINCT c_nationkey AS nationkey FROM customer
UNION SELECT DISTINCT s_nationkey FROM supplier""",
)
def q_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = T(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = T(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.unionByName(s).distinct()


@_q(
    "intersect_nation_keys",
    """
SELECT DISTINCT c_nationkey AS nationkey FROM customer
INTERSECT SELECT DISTINCT s_nationkey FROM supplier""",
)
def q_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = T(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey")).distinct()
    s = T(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey")).distinct()
    return c.intersect(s)


@_q(
    "plan_filter_groupby",
    """
SELECT c_mktsegment, count(*) AS count_nodes
FROM customer WHERE c_acctbal > 5000.0
GROUP BY c_mktsegment""",
)
def q_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """H2 plan interpreter: JSON plan -> one fused DataFrame (reference:
    ExecutePlan loop, query_service.cc:244-252)."""
    from finetoo_sp_spark.plans.interpreter import execute_plan

    g = tpch_graph(spark, sf_dir)
    plan = [
        {
            "type": "FILTER",
            "target_type": "customer",
            "property": "c_acctbal",
            "predicate": "GT",
            "value": 5000.0,
        },
        {"type": "GROUP_BY", "target_type": "customer", "property": "c_mktsegment"},
    ]
    return execute_plan(g, plan).df


# --- events: histogram, sessions, rollups, JSON --------------------------


@_q(
    "histogram_events",
    "SELECT event_type, count(*) AS n FROM events GROUP BY event_type",
)
def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    return T(spark, sf_dir, "events").groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))


@_q(
    "session_stats",
    """
WITH s AS (
  SELECT user_id, ts,
    CASE WHEN lag(ts) OVER w IS NULL
      OR date_diff('second', lag(ts) OVER w, ts) > 1800 THEN 1 ELSE 0 END AS is_start
  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), sid AS (
  SELECT user_id, ts,
    CAST(sum(is_start) OVER (PARTITION BY user_id ORDER BY ts) AS BIGINT) AS session_id
  FROM s
)
SELECT user_id, session_id, count(*) AS n_events,
  min(ts) AS start_ts, max(ts) AS end_ts,
  CAST(date_diff('second', min(ts), max(ts)) AS BIGINT) AS duration_s
FROM sid GROUP BY user_id, session_id""",
    audit=[
        ("one shuffle on user_id", r"hashpartitioning\(user_id"),
        ("window then aggregate", r"Window"),
    ],
)
def q_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ev.session_stats(T(spark, sf_dir, "events"))


@_q(
    "daily_rollup",
    """
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
  count(*) AS n_events, round(sum(value), 4) AS total_value
FROM events GROUP BY 1, 2""",
)
def q_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ev.daily_rollup(T(spark, sf_dir, "events"))


@_q(
    "json_prop_rollup",
    """
SELECT event_type, count(*) AS n_events,
  round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4) AS avg_k
FROM events GROUP BY event_type""",
)
def q_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ev.json_prop_rollup(T(spark, sf_dir, "events"))


@_q(
    "range_join_trial_events",
    """
WITH r AS (
  SELECT user_id, min(ts) AS trial_start,
    min(ts) + INTERVAL 1 DAY AS trial_end
  FROM events GROUP BY user_id
)
SELECT e.event_id, e.user_id, e.ts, e.event_type,
  r.trial_start, r.trial_end
FROM events e JOIN r
  ON e.user_id = r.user_id
 AND e.ts >= r.trial_start AND e.ts < r.trial_end""",
    audit=[
        ("bucketed equi-join (not a theta nested loop)", r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)"),
        ("NO nested-loop join", r"!BroadcastNestedLoopJoin"),
    ],
)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed point-in-interval range join (operators/asof.range_join):
    events inside each user's first-day trial window. A naive BETWEEN
    join plans as a nested loop; here intervals explode onto 6h time
    buckets and the join is a plain equi-join on (user_id, bucket) with
    the exact predicate applied after — no cross product (plan audit
    asserts it). Oracle = the naive theta join in DuckDB."""
    from finetoo_sp_spark.operators.asof import range_join

    ev = T(spark, sf_dir, "events")
    trials = ev.groupBy("user_id").agg(
        F.min("ts").alias("trial_start"),
        (F.min("ts") + F.expr("INTERVAL 1 DAY")).alias("trial_end"),
    )
    out = range_join(
        ev.select("event_id", "user_id", "ts", "event_type"),
        trials,
        point_col="ts",
        start_col="trial_start",
        end_col="trial_end",
        by="user_id",
    )
    return out.select(
        "event_id", "user_id", "ts", "event_type", "trial_start", "trial_end"
    )


@_q(
    "rollup_order_priority",
    """
SELECT o_orderpriority, o_orderstatus, count(*) AS n,
  round(sum(o_totalprice), 2) AS total_price
FROM orders
GROUP BY ROLLUP (o_orderpriority, o_orderstatus)""",
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical ROLLUP aggregation (beyond the reference's flat
    GROUP_BY — SURVEY D-notes list grouping sets as absent there; a
    complete engine needs them): per (priority, status), per priority,
    and grand total in one pass (Expand + single shuffle)."""
    return (
        T(spark, sf_dir, "orders")
        .rollup("o_orderpriority", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("total_price"),
        )
    )


@_q(
    "asof_last_purchase",
    """
WITH r AS (
  SELECT user_id, ts, max(value) AS asof_value
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
), l AS (
  SELECT event_id, ts, user_id, event_type, value FROM events
  WHERE event_type <> 'purchase'
)
SELECT l.event_id, l.ts, l.user_id, l.event_type, l.value, r.asof_value
FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts""",
    audit=[
        ("one window pass, no join at all", r"Window"),
        ("NO nested-loop join", r"!BroadcastNestedLoopJoin"),
    ],
)
def q_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operators/asof.py): every non-purchase event carries
    the value of the user's most recent prior-or-simultaneous purchase
    (null if none). One shuffle on user_id, one ordered window pass —
    no range cross product; the oracle is DuckDB's native ASOF JOIN."""
    from finetoo_sp_spark.operators.asof import asof_join

    ev = T(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") != "purchase").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    right = ev.filter(F.col("event_type") == "purchase")
    return asof_join(left, right, by="user_id", on="ts", value_col="value")


@_q(
    "asof_with_tolerance",
    """
WITH r AS (
  SELECT user_id, ts, max(value) AS v
  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2
), l AS (
  SELECT event_id, ts, user_id FROM events WHERE event_type <> 'purchase'
), j AS (
  SELECT l.event_id, l.ts, l.user_id, r.ts AS rts, r.v
  FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
)
SELECT event_id, ts, user_id,
  CASE WHEN rts IS NOT NULL AND date_diff('second', rts, ts) <= 86400 THEN v END AS asof_value,
  CASE WHEN rts IS NOT NULL AND date_diff('second', rts, ts) <= 86400 THEN rts END AS asof_ts
FROM j""",
)
def q_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with a staleness bound (merge_asof tolerance): matches
    older than 24h become null, and the matched timestamp is emitted so
    downstream logic can reason about snapshot age."""
    from finetoo_sp_spark.operators.asof import asof_join

    ev = T(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") != "purchase").select(
        "event_id", "ts", "user_id"
    )
    right = ev.filter(F.col("event_type") == "purchase")
    return asof_join(
        left,
        right,
        by="user_id",
        on="ts",
        value_col="value",
        tolerance_seconds=86400,
        ts_out_col="asof_ts",
    )


@_q(
    "q10_returned_items",
    """
SELECT c_custkey, c_name,
  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
  n_name
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey LIMIT 20""",
    audit=[
        ("returnflag filter pushed", r"PushedFilters: \[.*EqualTo\(l_returnflag,R"),
        ("nation dim broadcast", r"BroadcastHashJoin"),
    ],
)
def q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = T(spark, sf_dir, "customer")
    orders = T(spark, sf_dir, "orders")
    li = T(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = T(spark, sf_dir, "nation")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
    )


@_q(
    "window_rank_suppliers",
    """
SELECT * FROM (
  SELECT s_nationkey, s_suppkey, s_name, s_acctbal,
    CAST(row_number() OVER (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey) AS BIGINT) AS rk
  FROM supplier
) WHERE rk <= 2""",
    audit=[
        ("single exchange on nation key", r"hashpartitioning\(s_nationkey"),
        ("rank filter present", r"rk"),
    ],
)
def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k via window rank (no window top-k exists in the
    reference — SURVEY E-notes; this is the scalable replacement)."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("s_nationkey").orderBy(F.desc("s_acctbal"), F.asc("s_suppkey"))
    return (
        T(spark, sf_dir, "supplier")
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 2)
        .select("s_nationkey", "s_suppkey", "s_name", "s_acctbal", "rk")
    )


@_q(
    "except_sizes",
    """
SELECT DISTINCT p_size AS v FROM part
EXCEPT SELECT DISTINCT l_linenumber FROM lineitem""",
)
def q_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = T(spark, sf_dir, "part").select(F.col("p_size").alias("v")).distinct()
    b = T(spark, sf_dir, "lineitem").select(F.col("l_linenumber").alias("v")).distinct()
    return a.exceptAll(b).distinct()


@_q(
    "moving_avg_daily_value",
    """
WITH d AS (
  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
    round(sum(value), 4) AS day_value
  FROM events GROUP BY 1
)
SELECT day, day_value,
  round(avg(day_value) OVER (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS ma7
FROM d""",
)
def q_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    d = (
        T(spark, sf_dir, "events")
        .groupBy(F.date_trunc("DAY", F.col("ts")).alias("day"))
        .agg(F.round(F.sum("value"), 4).alias("day_value"))
    )
    w = Window.orderBy("day").rowsBetween(-6, 0)
    return d.withColumn("ma7", F.round(F.avg("day_value").over(w), 4))


@_q(
    "typed_fields",
    """
SELECT
  'https://' || source || '.example.com/doc/' || doc_id AS url,
  'document ' || doc_id || ' from ' || source AS title,
  'summary of document ' || doc_id || ' from ' || source AS meta_description,
  'https://' || source || '.example.com/doc/' || doc_id AS canonical_url,
  TIMESTAMP '2025-01-01 00:00:00' + to_seconds(doc_id) AS published_at,
  'author ' || doc_id AS author,
  lang AS lang_attr
FROM documents""",
)
def q_typed_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-rule-driven typed-field mapping (extraction/fields.py): the
    declared rule set compiles to pure Catalyst regexp_extract + cast
    expressions; the oracle recomputes every field from the template."""
    from finetoo_sp_spark.extraction.fields import map_fields

    pages = documents_to_pages(T(spark, sf_dir, "documents"))
    return map_fields(pages)


@_q(
    "traverse_links_2hop",
    """
WITH u AS (
  SELECT doc_id,
    'https://src' || CAST(doc_id % 20 AS VARCHAR) || '.example.com/doc/' || CAST(doc_id AS VARCHAR) AS url
  FROM documents
),
hop1 AS (
  SELECT s.url AS origin, t.url AS dst, s.doc_id AS sid, t.doc_id AS tid
  FROM u s JOIN u t ON t.doc_id IN (CAST(floor(s.doc_id / 2) AS BIGINT), CAST(floor(s.doc_id / 3) AS BIGINT))
  WHERE s.doc_id BETWEEN 100 AND 104
),
hop2 AS (
  SELECT h.origin, t.url AS dst
  FROM hop1 h JOIN u t ON t.doc_id IN (CAST(floor(h.tid / 2) AS BIGINT), CAST(floor(h.tid / 3) AS BIGINT))
)
SELECT origin, dst, 1 AS depth, origin || ' -> ' || dst AS provenance FROM (SELECT DISTINCT origin, dst FROM hop1)
UNION ALL
SELECT origin, dst, 2, origin || ' -> ' || dst FROM (SELECT DISTINCT origin, dst FROM hop2)""",
)
def q_traverse_2hop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-hop TRAVERSE over real extracted LINKS_TO edges (spec:
    proto/operations.proto:135-152 max_depth — the C++ executor is
    1-hop only; here depth=2 by iterated equi-join). The oracle derives
    both hops from the docpages parent-link rule."""
    from finetoo_sp_spark.extraction.graph import build_web_graph

    pages = documents_to_pages(T(spark, sf_dir, "documents"))
    g = build_web_graph(pages)
    start = pages.filter(F.col("doc_id").between(100, 104)).select("url")
    out = op_traverse(g, "LINKS_TO", start_ids=start, max_depth=2)
    return out.dropDuplicates(["origin", "dst", "depth"])


@_q(
    "graph_stats",
    """
SELECT 'page' AS kind, 'node' AS entity, count(*) AS n FROM documents
UNION ALL SELECT 'block', 'node', 10 * count(*) FROM documents
UNION ALL SELECT 'CONTAINS', 'edge', 10 * count(*) FROM documents
UNION ALL SELECT 'LINKS_TO', 'edge', 2 * count(*) FROM documents""",
)
def q_graph_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D5 graph stats (reference: graph_builder.cc:63-75,
    generate_full_bom.cc:132-143): nodes/edges per type, computed not
    stored. Oracle derives the constants from the fixed template (10
    blocks + 2 links per page)."""
    from finetoo_sp_spark.extraction.graph import build_web_graph

    pages = documents_to_pages(T(spark, sf_dir, "documents"))
    return build_web_graph(pages).stats()


@_q(
    "file_order_rank",
    """
SELECT 'https://' || source || '.example.com/doc/' || doc_id AS url,
  CAST(row_number() OVER (ORDER BY url) AS BIGINT) AS file_rank
FROM documents""",
)
def q_file_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """E2 file-order sort (reference: generate_full_bom.cc:68 sorted dir
    scan): deterministic rank over the input listing. The global window
    is deliberate — like the reference, this ranks the *file listing*
    (dimension-sized metadata), never corpus rows."""
    from pyspark.sql.window import Window

    pages = documents_to_pages(T(spark, sf_dir, "documents"))
    w = Window.orderBy("url")
    return pages.select("url").withColumn(
        "file_rank", F.row_number().over(w).cast("long")
    )


@_q(
    "numeric_parse_fallback",
    """
WITH r AS (
  SELECT doc_id, CASE CAST(doc_id % 4 AS INTEGER)
    WHEN 0 THEN CAST(doc_id AS VARCHAR) || '.25'
    WHEN 1 THEN '  ' || CAST(doc_id AS VARCHAR) || '  '
    WHEN 2 THEN 'x' || CAST(doc_id AS VARCHAR)
    ELSE '' END AS raw
  FROM documents
)
SELECT doc_id, raw, coalesce(TRY_CAST(raw AS DOUBLE), 0.0) AS parsed FROM r""",
)
def q_numeric_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 numeric parse with fallback (reference: GetDouble,
    dxf_text_parser.cc:31-49 — stod with fallback): well-formed,
    whitespace-padded, malformed and empty inputs all parse without a
    task failure; malformed -> 0.0."""
    from finetoo_sp_spark.extraction.fields import parse_double_with_fallback

    did = F.col("doc_id")
    raw = (
        F.when(did % 4 == 0, F.concat(did.cast("string"), F.lit(".25")))
        .when(did % 4 == 1, F.concat(F.lit("  "), did.cast("string"), F.lit("  ")))
        .when(did % 4 == 2, F.concat(F.lit("x"), did.cast("string")))
        .otherwise(F.lit(""))
    )
    return T(spark, sf_dir, "documents").select(
        "doc_id", raw.alias("raw"), parse_double_with_fallback(raw).alias("parsed")
    )


@_q(
    "value_percentiles",
    """
SELECT event_type,
  round(quantile_cont(value, 0.5), 4) AS p50,
  round(quantile_cont(value, 0.9), 4) AS p90,
  round(quantile_cont(value, 0.99), 4) AS p99
FROM events GROUP BY event_type""",
)
def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (Spark `percentile` and
    DuckDB `quantile_cont` share the continuous-quantile definition).
    At 10^12 rows swap in approx_percentile — same plan shape, sketch
    merge instead of sort."""
    return (
        T(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.5)"), 4).alias("p50"),
            F.round(F.expr("percentile(value, 0.9)"), 4).alias("p90"),
            F.round(F.expr("percentile(value, 0.99)"), 4).alias("p99"),
        )
    )


@_q(
    "window_lead_lag",
    """
SELECT event_id, user_id, ts,
  lag(event_type) OVER w AS prev_type,
  lead(event_type) OVER w AS next_type,
  CAST(ntile(4) OVER w AS INTEGER) AS quartile
FROM events
WHERE user_id < 50
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)""",
)
def q_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential-context window functions (lag/lead/ntile) over per-user
    event streams — deterministic total order via the (ts, event_id)
    tie-break."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        T(spark, sf_dir, "events")
        .filter(F.col("user_id") < 50)
        .select(
            "event_id",
            "user_id",
            "ts",
            F.lag("event_type").over(w).alias("prev_type"),
            F.lead("event_type").over(w).alias("next_type"),
            F.ntile(4).over(w).alias("quartile"),
        )
    )


# --- relational breadth: more TPC-H shapes --------------------------------


@_q(
    "q6_forecast_revenue",
    """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""",
)
def q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pure filter + aggregate — every predicate reaches the
    parquet scan (PushedFilters), zero shuffles beyond the final agg."""
    li = T(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))
    )


@_q(
    "q4_order_priority",
    """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1996-04-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
GROUP BY o_orderpriority""",
)
def q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS as a left-semi join (the C6 semi-join shape
    at relational breadth; the driver's lineitem has no commit/receipt
    dates, so the late-delivery predicate becomes returned-items)."""
    orders = T(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    late = T(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        orders.join(late, orders.o_orderkey == late.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@_q(
    "distinct_suppliers_by_part",
    """
SELECT p_brand, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM part JOIN lineitem ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#45' AND p_size IN (1, 4, 9, 14, 19)
GROUP BY p_brand, p_size""",
)
def q16ish(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16-shaped distinct-aggregation: NOT-equal + IN pushdown, then
    count(DISTINCT) per group (the one distinct-agg in SURVEY D-notes)."""
    part = T(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#45") & F.col("p_size").isin(1, 4, 9, 14, 19)
    )
    li = T(spark, sf_dir, "lineitem")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@_q(
    "q18_large_orders",
    """
WITH big AS (
  SELECT l_orderkey, round(sum(l_quantity), 2) AS total_qty
  FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 200
)
SELECT c_custkey, o_orderkey, o_totalprice, total_qty
FROM big JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
ORDER BY o_totalprice DESC, o_orderkey LIMIT 20""",
)
def q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING subquery -> join back to orders/customer
    (aggregate-then-join keeps the big side small before the joins)."""
    li = T(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("raw_qty"))
        .filter(F.col("raw_qty") > 200)
        .select("l_orderkey", F.round("raw_qty", 2).alias("total_qty"))
    )
    orders = T(spark, sf_dir, "orders")
    cust = T(spark, sf_dir, "customer")
    return (
        big.join(orders, big.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select("c_custkey", "o_orderkey", "o_totalprice", "total_qty")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(20)
    )


@_q(
    "q14_type_revenue_share",
    """
SELECT round(100.0 * sum(CASE WHEN p_type = 'ECONOMY'
    THEN l_extendedprice * (1 - l_discount) ELSE 0 END)
  / sum(l_extendedprice * (1 - l_discount)), 4) AS economy_share
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-03-01'""",
)
def q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: conditional-aggregation ratio (CASE inside SUM)
    over a broadcast part join."""
    li = T(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-03-01").cast("timestamp"))
    )
    part = T(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                100.0
                * F.sum(F.when(F.col("p_type") == "ECONOMY", rev).otherwise(0.0))
                / F.sum(rev),
                4,
            ).alias("economy_share")
        )
    )


@_q(
    "q19_or_of_ands",
    """
SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND l_quantity BETWEEN 1 AND 11 AND p_size BETWEEN 1 AND 5)
   OR (p_brand = 'Brand#23' AND l_quantity BETWEEN 10 AND 20 AND p_size BETWEEN 1 AND 10)
   OR (p_brand = 'Brand#34' AND l_quantity BETWEEN 20 AND 30 AND p_size BETWEEN 1 AND 15)""",
    audit=[
        ("part dim broadcast", r"BroadcastHashJoin"),
    ],
)
def q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunction of conjunctive predicates across both
    join sides — the classic OR-pushdown/CNF-conversion stressor."""
    li = T(spark, sf_dir, "lineitem")
    part = T(spark, sf_dir, "part")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    cond = (
        ((F.col("p_brand") == "Brand#12") & F.col("l_quantity").between(1, 11) & F.col("p_size").between(1, 5))
        | ((F.col("p_brand") == "Brand#23") & F.col("l_quantity").between(10, 20) & F.col("p_size").between(1, 10))
        | ((F.col("p_brand") == "Brand#34") & F.col("l_quantity").between(20, 30) & F.col("p_size").between(1, 15))
    )
    return j.filter(cond).agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "revenue"
        )
    )


@_q(
    "q12_priority_lines",
    """
SELECT l_linestatus,
  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders JOIN lineitem ON o_orderkey = l_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY l_linestatus""",
)
def q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: pivoted conditional counts after an equi-join."""
    li = T(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    orders = T(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@_q(
    "q17_small_quantity_revenue",
    """
WITH pa AS (
  SELECT l_partkey, 0.5 * avg(l_quantity) AS half_avg
  FROM lineitem GROUP BY l_partkey
)
SELECT round(sum(l_extendedprice) / 7.0, 2) AS avg_weekly
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN pa ON pa.l_partkey = lineitem.l_partkey
WHERE p_brand = 'Brand#23' AND l_quantity < half_avg""",
)
def q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: correlated scalar subquery (per-part average)
    decorrelated into an aggregate-then-join — the classic rewrite that
    keeps the plan a pair of hash joins instead of a per-row subquery."""
    li = T(spark, sf_dir, "lineitem")
    part = T(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#23")
    pa = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (0.5 * F.avg("l_quantity")).alias("half_avg")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(pa, li.l_partkey == pa.pk)
        .filter(F.col("l_quantity") < F.col("half_avg"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_weekly"))
    )


@_q(
    "q7_nation_volume",
    """
SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
  CAST(year(l_shipdate) AS BIGINT) AS l_year,
  round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
FROM lineitem
JOIN supplier ON s_suppkey = l_suppkey
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n1 ON s_nationkey = n1.n_nationkey
JOIN nation n2 ON c_nationkey = n2.n_nationkey
WHERE n1.n_name IN ('NATION_1', 'NATION_2') AND n2.n_name IN ('NATION_1', 'NATION_2')
  AND n1.n_name <> n2.n_name
GROUP BY 1, 2, 3""",
)
def q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: two roles of the same dimension (supplier nation
    vs customer nation) with a cross-role inequality, yearly rollup."""
    li = T(spark, sf_dir, "lineitem")
    supp = T(spark, sf_dir, "supplier")
    orders = T(spark, sf_dir, "orders")
    cust = T(spark, sf_dir, "customer")
    nation = T(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2")
    )
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), supp.s_nationkey == F.col("n1_key"))
        .join(F.broadcast(n2), cust.c_nationkey == F.col("n2_key"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", F.year("l_shipdate").cast("long").alias("l_year"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
                "revenue"
            )
        )
    )


@_q(
    "q15_top_supplier",
    """
WITH rev AS (
  SELECT l_suppkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_rev
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_rev
FROM supplier JOIN rev ON s_suppkey = l_suppkey
WHERE total_rev = (SELECT max(total_rev) FROM rev)""",
)
def q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: view + scalar max subquery -> the top revenue
    supplier(s). The scalar lands as a one-row broadcast, never a
    driver collect."""
    li = T(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    rev = li.groupBy("l_suppkey").agg(
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "total_rev"
        )
    )
    mx = rev.agg(F.max("total_rev").alias("mx"))
    supp = T(spark, sf_dir, "supplier")
    return (
        rev.crossJoin(F.broadcast(mx))
        .filter(F.col("total_rev") == F.col("mx"))
        .join(F.broadcast(supp), rev.l_suppkey == supp.s_suppkey)
        .select("s_suppkey", "s_name", "total_rev")
    )


@_q(
    "q22_idle_customers",
    """
WITH ab AS (SELECT avg(c_acctbal) AS a FROM customer WHERE c_acctbal > 0)
SELECT c_nationkey, count(*) AS numcust, round(sum(c_acctbal), 2) AS totacctbal
FROM customer, ab
WHERE c_acctbal > a
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
GROUP BY c_nationkey""",
)
def q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar average subquery + NOT EXISTS anti-join
    (above-average-balance customers with no urgent orders)."""
    cust = T(spark, sf_dir, "customer")
    ab = cust.filter(F.col("c_acctbal") > 0).agg(F.avg("c_acctbal").alias("a"))
    urgent = T(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return (
        cust.crossJoin(F.broadcast(ab))
        .filter(F.col("c_acctbal") > F.col("a"))
        .join(urgent, cust.c_custkey == urgent.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


# --- TPC-H optimizer-shape completion (q2/q8/q9/q11/q13/q16/q20/q21) -------
# Completes the 22-query optimizer-shape suite.  The driver tables lack
# partsupp and l_receiptdate/l_commitdate, so the four shapes that need
# them (q2/q11/q16/q20) derive the part-supplier relation from lineitem,
# and q21's "kept waiting" predicate maps to l_returnflag = 'R'.  The
# optimizer shape under test — correlated min, scalar-threshold HAVING,
# left-join histogram, distinct-count + NOT IN, nested semi-join, double
# EXISTS/NOT EXISTS self-join — is preserved exactly.


@_q(
    "q2_min_cost_supplier",
    """
WITH pscost AS (
  SELECT l_partkey, l_suppkey,
    round(min(l_extendedprice / l_quantity), 2) AS unit_cost
  FROM lineitem GROUP BY 1, 2
),
eligible AS (
  SELECT p_partkey, s_name, n_name, unit_cost
  FROM pscost
  JOIN part ON p_partkey = l_partkey
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation ON n_nationkey = s_nationkey
  JOIN region ON r_regionkey = n_regionkey
  WHERE r_name = 'EUROPE' AND p_size = 5
)
SELECT p_partkey, s_name, n_name, unit_cost FROM eligible e
WHERE unit_cost = (SELECT min(unit_cost) FROM eligible m
                   WHERE m.p_partkey = e.p_partkey)""",
    audit=[
        ("p_size filter pushed", r"PushedFilters: \[.*EqualTo\(p_size,5"),
        ("dimension joins broadcast", r"BroadcastHashJoin"),
        ("correlated min as one window pass (no re-join)", r"Window"),
    ],
)
def q2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: cheapest supplier per part within a region via a
    correlated-min subquery.  The part-supplier cost relation is derived
    from lineitem (min observed unit price per (part, supplier)); the
    correlated min collapses to one window pass over the already-joined
    frame — a single shuffle on p_partkey instead of a re-join, and all
    four dimension joins broadcast."""
    from pyspark.sql.window import Window

    li = T(spark, sf_dir, "lineitem")
    pscost = li.groupBy("l_partkey", "l_suppkey").agg(
        F.round(F.min(F.col("l_extendedprice") / F.col("l_quantity")), 2).alias(
            "unit_cost"
        )
    )
    part = T(spark, sf_dir, "part").filter(F.col("p_size") == 5)
    supp = T(spark, sf_dir, "supplier")
    nation = T(spark, sf_dir, "nation")
    region = T(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    eligible = (
        pscost.join(F.broadcast(part), pscost.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), pscost.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("p_partkey", "s_name", "n_name", "unit_cost")
    )
    w = Window.partitionBy("p_partkey")
    return (
        eligible.withColumn("mc", F.min("unit_cost").over(w))
        .filter(F.col("unit_cost") == F.col("mc"))
        .drop("mc")
    )


@_q(
    "q8_market_share",
    """
SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
  round(sum(CASE WHEN n2.n_name = 'NATION_1'
    THEN l_extendedprice * (1 - l_discount) ELSE 0 END), 2) AS nation_vol,
  round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_vol,
  round(round(sum(CASE WHEN n2.n_name = 'NATION_1'
      THEN l_extendedprice * (1 - l_discount) ELSE 0 END), 2)
    / round(sum(l_extendedprice * (1 - l_discount)), 2), 6) AS mkt_share
FROM lineitem
JOIN orders ON o_orderkey = l_orderkey
JOIN customer ON c_custkey = o_custkey
JOIN nation n1 ON n1.n_nationkey = c_nationkey
JOIN region ON r_regionkey = n1.n_regionkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation n2 ON n2.n_nationkey = s_nationkey
JOIN part ON p_partkey = l_partkey
WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
GROUP BY 1""",
    audit=[
        ("p_type filter pushed", r"PushedFilters: \[.*EqualTo\(p_type,ECONOMY"),
        ("dimension joins broadcast", r"BroadcastHashJoin"),
    ],
)
def q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's market share of a part type within a
    region, by order year.  The share divides the two ROUNDED sums so
    the quotient is a pure function of values both engines agree on
    (raw double sums differ in the last ulp with partition order)."""
    li = T(spark, sf_dir, "lineitem")
    orders = T(spark, sf_dir, "orders")
    cust = T(spark, sf_dir, "customer")
    supp = T(spark, sf_dir, "supplier")
    part = T(spark, sf_dir, "part").filter(F.col("p_type") == "ECONOMY")
    nation = T(spark, sf_dir, "nation")
    region = T(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("supp_nation")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    joined = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n1), cust.c_nationkey == F.col("n1_key"))
        .join(F.broadcast(region), F.col("n1_region") == region.r_regionkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n2), supp.s_nationkey == F.col("n2_key"))
    )
    grouped = joined.groupBy(
        F.year("o_orderdate").cast("long").alias("o_year")
    ).agg(
        F.round(
            F.sum(F.when(F.col("supp_nation") == "NATION_1", rev).otherwise(F.lit(0.0))),
            2,
        ).alias("nation_vol"),
        F.round(F.sum(rev), 2).alias("total_vol"),
    )
    return grouped.select(
        "o_year",
        "nation_vol",
        "total_vol",
        F.round(F.col("nation_vol") / F.col("total_vol"), 6).alias("mkt_share"),
    )


@_q(
    "q9_product_type_profit",
    """
SELECT n_name AS nation, CAST(year(l_shipdate) AS BIGINT) AS o_year,
  round(sum(l_extendedprice * (1 - l_discount)
            - 0.1 * p_retailprice * l_quantity), 2) AS profit
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN supplier ON s_suppkey = l_suppkey
JOIN nation ON n_nationkey = s_nationkey
WHERE p_name LIKE '%widget%'
GROUP BY 1, 2""",
    audit=[
        ("p_name LIKE pushed as StringContains", r"PushedFilters: \[.*StringContains\(p_name,widget"),
        ("all dims broadcast", r"BroadcastHashJoin"),
        ("partial aggregation", r"HashAggregate"),
    ],
)
def q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit on a product line by supplier nation and
    year.  Supply cost is modeled as 10% of retail price per unit (the
    driver tables have no partsupp); part/supplier/nation dims all
    broadcast, so the only shuffle is the final two-key aggregate."""
    li = T(spark, sf_dir, "lineitem")
    part = T(spark, sf_dir, "part").filter(F.col("p_name").like("%widget%"))
    supp = T(spark, sf_dir, "supplier")
    nation = T(spark, sf_dir, "nation")
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - 0.1 * F.col(
        "p_retailprice"
    ) * F.col("l_quantity")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("l_shipdate").cast("long").alias("o_year"),
        )
        .agg(F.round(F.sum(profit), 2).alias("profit"))
    )


@_q(
    "q11_important_parts",
    """
WITH val AS (
  SELECT l_partkey,
    sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS cents
  FROM lineitem
  JOIN supplier ON s_suppkey = l_suppkey
  JOIN nation ON n_nationkey = s_nationkey
  WHERE n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
  GROUP BY 1
)
SELECT l_partkey, round(cents / 100.0, 2) AS part_value FROM val
WHERE cents * (SELECT count(*) FROM val) > 2 * (SELECT sum(cents) FROM val)""",
    audit=[
        ("scalar threshold is a one-row broadcast (not a cartesian shuffle)", r"BroadcastNestedLoopJoin"),
        ("partial aggregation", r"HashAggregate"),
    ],
)
def q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-part value with a global scalar-subquery
    threshold (parts worth > 2x the mean part value — scale-invariant,
    so the query returns rows at every SF, unlike a fixed fraction of
    the total).  The scalar lands as a one-row broadcast cross join —
    never a driver collect — and the boundary test is all-integer
    (cents * n_parts > 2 * total_cents), exact in both engines where
    double summation order can flip round()'s last cent."""
    li = T(spark, sf_dir, "lineitem")
    supp = T(spark, sf_dir, "supplier")
    nation = T(spark, sf_dir, "nation").filter(
        F.col("n_name").isin("NATION_1", "NATION_2", "NATION_3")
    )
    val = (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy("l_partkey")
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                ).cast("bigint")
            ).alias("cents")
        )
    )
    thr = val.agg(
        F.sum("cents").alias("total_cents"), F.count(F.lit(1)).alias("n_parts")
    )
    return (
        val.crossJoin(F.broadcast(thr))
        .filter(F.col("cents") * F.col("n_parts") > 2 * F.col("total_cents"))
        .select("l_partkey", F.round(F.col("cents") / 100.0, 2).alias("part_value"))
    )


@_q(
    "q13_order_count_distribution",
    """
WITH c_orders AS (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY 1
)
SELECT c_count, count(*) AS custdist FROM c_orders GROUP BY 1""",
    audit=[
        ("zero-order customers kept (left outer)", r"LeftOuter"),
        ("priority exclusion pushed to orders scan", r"PushedFilters: \[.*Not\(EqualTo\(o_orderpriority"),
    ],
)
def q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: customer order-count histogram through a
    filtered LEFT JOIN (customers with zero qualifying orders must
    appear in the c_count = 0 bucket — an inner join would drop them).
    All-integer output, exactly portable."""
    cust = T(spark, sf_dir, "customer")
    orders = T(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") != "1-URGENT"
    )
    c_orders = (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return c_orders.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@_q(
    "q16_supplier_part_variety",
    """
SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE p_brand <> 'Brand#1' AND p_size IN (1, 2, 3, 4, 5)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY 1, 2, 3""",
    audit=[
        ("NOT IN as broadcast anti-join", r"LeftAnti"),
        ("p_size IN pushed", r"PushedFilters: \[.*In\(p_size"),
    ],
)
def q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: supplier variety per part attribute triple with
    a NOT IN exclusion list.  The exclusion is a broadcast LEFT ANTI
    join (s_suppkey is non-null so NOT IN and anti-join agree), and the
    distinct count shuffles once on the attribute triple."""
    li = T(spark, sf_dir, "lineitem")
    part = T(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1") & F.col("p_size").isin(1, 2, 3, 4, 5)
    )
    bad = T(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select(
        "s_suppkey"
    )
    return (
        li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@_q(
    "q20_excess_shippers",
    """
WITH shipped AS (
  SELECT l_suppkey, l_partkey, sum(l_quantity) AS qty
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  GROUP BY 1, 2
)
SELECT s_suppkey, s_name FROM supplier
JOIN nation ON n_nationkey = s_nationkey
WHERE n_name IN ('NATION_1', 'NATION_2', 'NATION_3', 'NATION_4', 'NATION_5')
  AND s_suppkey IN (
    SELECT l_suppkey FROM shipped JOIN part ON p_partkey = l_partkey
    WHERE p_name LIKE 'small%' AND qty > 30)""",
    audit=[
        ("shipdate range pushed", r"PushedFilters: \[.*GreaterThanOrEqual\(l_shipdate"),
        ("nested semi-join (IN subquery)", r"LeftSemi"),
    ],
)
def q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers who moved excess volume of a named
    part family in one year — a nested aggregate semi-join.  Quantities
    are small integers stored as doubles, so the sum is exact in both
    engines and the > 30 threshold is portable."""
    li = T(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    part = T(spark, sf_dir, "part").filter(F.col("p_name").like("small%"))
    shipped = li.groupBy("l_suppkey", "l_partkey").agg(
        F.sum("l_quantity").alias("qty")
    )
    excess = (
        shipped.join(F.broadcast(part), shipped.l_partkey == part.p_partkey)
        .filter(F.col("qty") > 30)
        .select("l_suppkey")
    )
    supp = T(spark, sf_dir, "supplier")
    nation = T(spark, sf_dir, "nation").filter(
        F.col("n_name").isin(
            "NATION_1", "NATION_2", "NATION_3", "NATION_4", "NATION_5"
        )
    )
    return (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(excess, supp.s_suppkey == excess.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
    )


@_q(
    "q21_waiting_suppliers",
    """
SELECT s_name, count(*) AS numwait
FROM lineitem l1
JOIN orders ON o_orderkey = l1.l_orderkey
JOIN supplier ON s_suppkey = l1.l_suppkey
JOIN nation ON n_nationkey = s_nationkey
WHERE l1.l_returnflag = 'R' AND o_orderstatus = 'F'
  AND n_name IN ('NATION_1', 'NATION_2', 'NATION_3', 'NATION_4', 'NATION_5')
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_returnflag = 'R')
GROUP BY 1""",
    audit=[
        ("returnflag filter pushed", r"PushedFilters: \[.*EqualTo\(l_returnflag,R"),
        ("EXISTS as left-semi self-join", r"LeftSemi"),
        ("NOT EXISTS as left-anti self-join", r"LeftAnti"),
    ],
)
def q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: the sole-blame self-join — lines that are 'late'
    (mapped to l_returnflag = 'R'; the driver tables have no
    receipt/commit dates) on multi-supplier finished orders where no
    OTHER supplier was late.  EXISTS/NOT EXISTS become left-semi /
    left-anti self-joins on l_orderkey with a supplier inequality in
    the join condition — no cartesian expansion."""
    li = T(spark, sf_dir, "lineitem")
    l1 = li.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey", "l_suppkey"
    )
    orders = T(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    supp = T(spark, sf_dir, "supplier")
    nation = T(spark, sf_dir, "nation").filter(
        F.col("n_name").isin(
            "NATION_1", "NATION_2", "NATION_3", "NATION_4", "NATION_5"
        )
    )
    l2 = li.select(
        F.col("l_orderkey").alias("l2_orderkey"), F.col("l_suppkey").alias("l2_suppkey")
    )
    l3 = li.filter(F.col("l_returnflag") == "R").select(
        F.col("l_orderkey").alias("l3_orderkey"), F.col("l_suppkey").alias("l3_suppkey")
    )
    return (
        l1.join(orders, l1.l_orderkey == orders.o_orderkey, "left_semi")
        .join(
            l2,
            (l1.l_orderkey == F.col("l2_orderkey"))
            & (l1.l_suppkey != F.col("l2_suppkey")),
            "left_semi",
        )
        .join(
            l3,
            (l1.l_orderkey == F.col("l3_orderkey"))
            & (l1.l_suppkey != F.col("l3_suppkey")),
            "left_anti",
        )
        .join(F.broadcast(supp), l1.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@_q(
    "zonemap_range_scan",
    """
SELECT event_id, ts, user_id, event_type, value FROM events
WHERE ts >= TIMESTAMP '2024-01-02 00:00:00' AND ts < TIMESTAMP '2024-01-02 12:00:00'""",
)
def q_zonemap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map partition elimination (sources/zonemap.py — the Iceberg
    manifest-stats idea): events are written range-bucketed on ts with
    per-bucket min/max manifests, and the scan consults the manifest to
    read only overlapping buckets. The result is boundary-independent
    (the oracle is a plain range filter); the pruning itself is pinned
    by tests/test_zonemap.py (buckets_scanned < buckets_total)."""
    import datetime as _dt

    from finetoo_sp_spark.sources.zonemap import scan_range, write_range_bucketed

    ev = T(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )
    out = _tmp_out("zonemap")
    write_range_bucketed(ev, out, "ts", n_buckets=16)
    df, _stats = scan_range(
        spark, out, "ts",
        _dt.datetime(2024, 1, 2, 0, 0, 0), _dt.datetime(2024, 1, 2, 12, 0, 0),
    )
    return df


@_q(
    "pivot_line_status",
    """
SELECT l_returnflag,
  sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END) AS O,
  sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END) AS F
FROM lineitem GROUP BY l_returnflag""",
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native .pivot() (wide conditional aggregation): one shuffle, the
    pivot columns become a map-side CASE fan-out — the guide's pivot
    pattern with an explicit value list so the plan needs no extra
    distinct-values job."""
    return (
        T(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .sum("l_quantity")
    )


@_q(
    "cube_order_status",
    """
SELECT o_orderpriority, o_orderstatus, count(*) AS n
FROM orders GROUP BY CUBE (o_orderpriority, o_orderstatus)""",
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE grouping sets (all 2^k subtotal combinations in ONE pass —
    Expand + a single shuffle, vs 4 separate group-bys)."""
    return (
        T(spark, sf_dir, "orders")
        .cube("o_orderpriority", "o_orderstatus")
        .agg(F.count(F.lit(1)).alias("n"))
    )


@_q(
    "unpivot_token_stats",
    """
SELECT doc_id AS id, 'n_chars' AS metric, CAST(length(text) AS BIGINT) AS value FROM documents
UNION ALL
SELECT doc_id, 'n_words', CAST(len(regexp_split_to_array(trim(regexp_replace(lower(text), '\\s+', ' ', 'g')), ' ')) AS BIGINT) FROM documents
UNION ALL
SELECT doc_id, 'n_tokens_est', CAST(ceil(length(text) / 4.0) AS BIGINT) FROM documents""",
)
def q_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native .unpivot()/melt (wide -> long without a UNION of scans:
    one Expand over the already-computed wide frame)."""
    tc = ts.token_counts(T(spark, sf_dir, "documents"), "doc_id", "text")
    wide = tc.select(
        "id",
        F.col("n_chars").cast("long").alias("n_chars"),
        F.col("n_words").cast("long").alias("n_words"),
        F.col("n_tokens_est").cast("long").alias("n_tokens_est"),
    )
    return wide.unpivot("id", ["n_chars", "n_words", "n_tokens_est"], "metric", "value")


@_q(
    "cdc_upsert_latest",
    """
WITH updates AS (
  SELECT event_id, user_id, event_type, ts + INTERVAL 1 HOUR AS ts,
    round(value + 100, 2) AS value
  FROM events WHERE event_id % 7 = 0
),
unioned AS (
  SELECT event_id, user_id, event_type, ts, value FROM events
  UNION ALL SELECT * FROM updates
)
SELECT event_id, user_id, event_type, ts, value FROM unioned
QUALIFY row_number() OVER (PARTITION BY event_id ORDER BY ts DESC) = 1""",
)
def q_cdc_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO emulation without a MERGE-capable table format (the
    guide's CDC pattern): base ∪ updates -> keep_latest per business
    key. Every 7th event arrives re-stated one hour later with a new
    value; the merged view must show exactly the newest row per key."""
    from finetoo_sp_spark.operators.windows import keep_latest

    base = T(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts", "value"
    )
    updates = base.filter(F.col("event_id") % 7 == 0).select(
        "event_id", "user_id", "event_type",
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("ts"),
        F.round(F.col("value") + 100, 2).alias("value"),
    )
    return keep_latest(base.unionByName(updates), ["event_id"], "ts")


@_q(
    "scd2_user_values",
    """
WITH o AS (
  SELECT user_id, ts, value,
    lag(value) OVER (PARTITION BY user_id ORDER BY ts) AS prev
  FROM events
),
ch AS (SELECT user_id, ts, value FROM o WHERE prev IS NULL OR value != prev)
SELECT user_id, value, ts AS valid_from,
  lead(ts) OVER (PARTITION BY user_id ORDER BY ts) AS valid_to
FROM ch""",
)
def q_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 dimension history from a change stream: per key each
    observed value gets a half-open [valid_from, valid_to) interval,
    consecutive duplicates collapse, NULL valid_to = current row."""
    from finetoo_sp_spark.operators.windows import scd2_history

    return scd2_history(T(spark, sf_dir, "events"), ["user_id"], "ts", "value")
