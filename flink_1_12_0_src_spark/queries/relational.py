"""Operator-by-operator batch relational coverage (SURVEY.md §2.2–2.6).

One registered query per Flink exec-node family, each with a DuckDB oracle.
These are deliberately small, targeted shapes (the reference's ITCase style —
flink-table/flink-table-planner-blink/src/test/scala/.../runtime/batch/sql/*ITCase)
rather than end-to-end workloads; TPC-H queries in tpch.py cover composition.

Scale notes: all plans are declarative DataFrame/Catalyst — two-phase aggs,
broadcast for dimension sides, semi/anti instead of DISTINCT+join, EXPAND for
grouping sets. Nothing collects to the driver.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from flink_1_12_0_src_spark.catalog import table
from flink_1_12_0_src_spark.queries import register
from flink_1_12_0_src_spark.queries._util import dec, dsum

# ---------------------------------------------------------------------------
# §2.2 Calc / Expand / Correlate / Values
# ---------------------------------------------------------------------------


@register(
    "calc_project_filter",
    oracle="""
SELECT l_orderkey, l_linenumber,
       CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(1 - CAST(l_discount AS DECIMAL(12,2)) AS DECIMAL(12,2)) AS DOUBLE) AS net_price,
       upper(l_returnflag) AS flag,
       l_quantity > 25 AS bulky
FROM lineitem
WHERE l_quantity BETWEEN 10 AND 20 AND l_returnflag <> 'N'
ORDER BY l_orderkey, l_linenumber
""",
    tags=("batch", "calc"),
    doc="Fused project+filter (Flink StreamExecCalc/BatchExecCalc — "
    "…/batch/BatchExecCalc.scala:38, codegen CalcCodeGenerator.scala). Spark: "
    "Catalyst collapses select+filter into one WholeStageCodegen span.",
)
def calc_project_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_quantity").between(10, 20) & (F.col("l_returnflag") != "N"))
        .select(
            "l_orderkey",
            "l_linenumber",
            (dec("l_extendedprice") * (F.lit(1) - dec("l_discount")).cast("decimal(12,2)"))
            .cast("double")
            .alias("net_price"),
            F.upper("l_returnflag").alias("flag"),
            (F.col("l_quantity") > 25).alias("bulky"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


@register(
    "values_inline",
    oracle="""
SELECT id, tag, CAST(score AS DOUBLE) AS score
FROM (VALUES (1, 'a', 1.5), (2, 'b', 2.5), (3, 'c', NULL))
  AS t(id, tag, score) ORDER BY id
""",
    tags=("batch", "values"),
    doc="Inline VALUES literal table (Flink StreamExecValues/BatchExecValues — "
    "…/batch/BatchExecValues.scala:41). Spark: spark.createDataFrame / SQL VALUES.",
)
def values_inline(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        "SELECT * FROM VALUES (1, 'a', 1.5D), (2, 'b', 2.5D), (3, 'c', CAST(NULL AS DOUBLE)) "
        "AS t(id, tag, score) ORDER BY id"
    )


GS_AGG = "CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE)"


@register(
    "expand_grouping_sets",
    oracle=f"""
SELECT l_returnflag, l_linestatus, {GS_AGG} AS sum_qty, COUNT(*) AS cnt
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
""",
    tags=("batch", "agg", "grouping_sets", "bench"),
    doc="GROUPING SETS → Expand + agg (Flink DecomposeGroupingSetsRule — "
    "…/rules/logical/DecomposeGroupingSetsRule.scala:205, StreamExecExpand). "
    "Spark: built-in Expand node.",
)
def expand_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem_gs")
    return spark.sql(
        f"""
SELECT l_returnflag, l_linestatus, {GS_AGG} AS sum_qty, COUNT(*) AS cnt
FROM lineitem_gs
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
"""
    )


@register(
    "expand_cube",
    oracle=f"""
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS cnt,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
""",
    tags=("batch", "agg", "grouping_sets"),
    doc="CUBE (4 grouping sets). Flink: DecomposeGroupingSetsRule; Spark: df.cube().",
)
def expand_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("cnt"), dsum(dec("o_totalprice")).alias("total"))
        .orderBy(
            F.col("o_orderstatus").asc_nulls_first(),
            F.col("o_orderpriority").asc_nulls_first(),
        )
    )


@register(
    "expand_rollup_grouping_id",
    oracle="""
SELECT l_returnflag, l_linestatus,
       GROUPING(l_returnflag) AS g_flag, GROUPING(l_linestatus) AS g_status,
       COUNT(*) AS cnt
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
""",
    tags=("batch", "agg", "grouping_sets"),
    doc="ROLLUP + GROUPING() marker functions (Flink GROUPING/GROUPING_ID in "
    "FlinkSqlOperatorTable.java). Spark: rollup + grouping().",
)
def expand_rollup_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        table(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").cast("int").alias("g_flag"),
            F.grouping("l_linestatus").cast("int").alias("g_status"),
            F.count("*").alias("cnt"),
        )
        .select("l_returnflag", "l_linestatus", "g_flag", "g_status", "cnt")
        .orderBy(
            F.col("l_returnflag").asc_nulls_first(),
            F.col("l_linestatus").asc_nulls_first(),
        )
    )


@register(
    "correlate_unnest",
    oracle="""
SELECT doc_id, w.word AS word
FROM documents, unnest(string_split(text, ' ')) AS w(word)
WHERE doc_id <= 50 AND length(w.word) > 4
ORDER BY doc_id, word
""",
    tags=("batch", "correlate", "unnest"),
    doc="Lateral correlate / UNNEST (Flink StreamExecCorrelate — "
    "…/batch/BatchExecCorrelate.scala:35, LogicalUnnestRule.scala). "
    "Spark: explode() = built-in Generate node.",
)
def correlate_unnest(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents").filter(F.col("doc_id") <= 50)
    return (
        docs.select("doc_id", F.explode(F.split("text", " ")).alias("word"))
        .filter(F.length("word") > 4)
        .orderBy("doc_id", "word")
    )


# ---------------------------------------------------------------------------
# §2.3 Joins — every join type / physical strategy
# ---------------------------------------------------------------------------


@register(
    "join_left_outer",
    oracle="""
SELECT n_nationkey, n_name, c_custkey, c_name
FROM nation LEFT JOIN customer ON c_nationkey = n_nationkey AND c_acctbal > 4900
ORDER BY n_nationkey, c_custkey NULLS FIRST
""",
    tags=("batch", "join"),
    doc="LEFT OUTER with residual join condition (Flink HashJoinOperator.java:58 "
    "LEFT). Non-matching nation rows padded with NULLs.",
)
def join_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = table(spark, sf_dir, "nation")
    c = table(spark, sf_dir, "customer")
    return (
        n.join(c, (c.c_nationkey == n.n_nationkey) & (c.c_acctbal > 4900), "left")
        .select("n_nationkey", "n_name", "c_custkey", "c_name")
        .orderBy("n_nationkey", F.col("c_custkey").asc_nulls_first())
    )


@register(
    "join_right_outer",
    oracle="""
SELECT s_suppkey, s_name, n_name
FROM supplier RIGHT JOIN nation ON s_nationkey = n_nationkey
ORDER BY n_name, s_suppkey NULLS FIRST
""",
    tags=("batch", "join"),
    doc="RIGHT OUTER join (Flink BatchExecHashJoin RIGHT).",
)
def join_right_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    return (
        s.join(n, s.s_nationkey == n.n_nationkey, "right")
        .select("s_suppkey", "s_name", "n_name")
        .orderBy("n_name", F.col("s_suppkey").asc_nulls_first())
    )


@register(
    "join_full_outer",
    oracle="""
WITH hi_cust AS (SELECT c_nationkey, COUNT(*) AS n_cust FROM customer
                 WHERE c_acctbal > 4000 GROUP BY c_nationkey),
     hi_supp AS (SELECT s_nationkey, COUNT(*) AS n_supp FROM supplier
                 WHERE s_acctbal > 4000 GROUP BY s_nationkey)
SELECT c_nationkey, s_nationkey, n_cust, n_supp
FROM hi_cust FULL JOIN hi_supp ON c_nationkey = s_nationkey
ORDER BY c_nationkey NULLS FIRST, s_nationkey NULLS FIRST
""",
    tags=("batch", "join"),
    doc="FULL OUTER join of two aggregates (Flink SortMergeJoinOperator.java:62 FULL). "
    "Spark: SortMergeJoin FullOuter.",
)
def join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 4000)
        .groupBy("c_nationkey")
        .agg(F.count("*").alias("n_cust"))
    )
    s = (
        table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 4000)
        .groupBy("s_nationkey")
        .agg(F.count("*").alias("n_supp"))
    )
    return (
        c.join(s, c.c_nationkey == s.s_nationkey, "full")
        .select("c_nationkey", "s_nationkey", "n_cust", "n_supp")
        .orderBy(
            F.col("c_nationkey").asc_nulls_first(), F.col("s_nationkey").asc_nulls_first()
        )
    )


@register(
    "join_cross",
    oracle="""
SELECT r_name, t AS tier, COUNT(*) AS cnt
FROM region CROSS JOIN (VALUES ('gold'), ('silver')) AS tiers(t)
CROSS JOIN nation
WHERE n_regionkey = r_regionkey OR t = 'gold'
GROUP BY r_name, t ORDER BY r_name, t
""",
    tags=("batch", "join"),
    doc="Cartesian product (Flink BatchExecNestedLoopJoin — "
    "…/batch/BatchExecNestedLoopJoin.scala:45). Spark: BroadcastNestedLoopJoin.",
)
def join_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = table(spark, sf_dir, "region")
    n = table(spark, sf_dir, "nation")
    tiers = spark.createDataFrame([("gold",), ("silver",)], "t string")
    return (
        r.crossJoin(tiers)
        .crossJoin(n)
        .filter((F.col("n_regionkey") == F.col("r_regionkey")) | (F.col("t") == "gold"))
        .groupBy("r_name", F.col("t").alias("tier"))
        .agg(F.count("*").alias("cnt"))
        .orderBy("r_name", "tier")
    )


@register(
    "join_theta_nonequi",
    oracle="""
SELECT p1.p_partkey AS pk1, p2.p_partkey AS pk2
FROM part p1 JOIN part p2
  ON p1.p_brand = p2.p_brand
 AND p1.p_size < p2.p_size
 AND p2.p_retailprice < p1.p_retailprice
WHERE p1.p_partkey <= 200 AND p2.p_partkey <= 200
ORDER BY pk1, pk2
""",
    tags=("batch", "join", "nonequi"),
    doc="Theta join: one equi key + range residuals (Flink NestedLoopJoinCodeGenerator "
    "when no equi key; here the equi part hashes and the ranges are residual filters).",
)
def join_theta_nonequi(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part").filter(F.col("p_partkey") <= 200)
    p1 = p.alias("p1")
    p2 = p.alias("p2")
    return (
        p1.join(
            p2,
            (F.col("p1.p_brand") == F.col("p2.p_brand"))
            & (F.col("p1.p_size") < F.col("p2.p_size"))
            & (F.col("p2.p_retailprice") < F.col("p1.p_retailprice")),
        )
        .select(F.col("p1.p_partkey").alias("pk1"), F.col("p2.p_partkey").alias("pk2"))
        .orderBy("pk1", "pk2")
    )


@register(
    "join_semi_in",
    oracle="""
SELECT s_suppkey, s_name FROM supplier
WHERE s_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey IN (0, 1))
ORDER BY s_suppkey
""",
    tags=("batch", "semi_join"),
    doc="IN-subquery → LEFT SEMI join (Flink FlinkSubQueryRemoveRule; runtime "
    "HashJoinType SEMI). Spark: RewritePredicateSubquery → left_semi.",
)
def join_semi_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation").filter(F.col("n_regionkey").isin(0, 1))
    return (
        s.join(n, s.s_nationkey == n.n_nationkey, "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


@register(
    "join_anti_not_in",
    oracle="""
SELECT c_custkey FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_totalprice > 100000)
ORDER BY c_custkey
""",
    tags=("batch", "anti_join"),
    doc="NOT IN → null-aware ANTI join (Flink StreamingSemiAntiJoinOperator.java; "
    "Spark: NullAwareAntiJoin). o_custkey is non-null here so plain anti works.",
)
def join_anti_not_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 100000)
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .select("c_custkey")
        .orderBy("c_custkey")
    )


@register(
    "join_scalar_subquery",
    oracle="""
SELECT p_partkey, p_name, CAST(p_retailprice AS DOUBLE) AS p_retailprice
FROM part
WHERE p_retailprice > 1.5 * (SELECT CAST(SUM(CAST(p_retailprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) FROM part)
ORDER BY p_partkey
""",
    tags=("batch", "scalar_subquery"),
    doc="Scalar subquery → single-row broadcast join (Flink "
    "BatchExecSingleRowJoinRule). Spark: scalar subquery in Catalyst.",
)
def join_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = table(spark, sf_dir, "part")
    avg_price = p.agg((dsum(dec("p_retailprice")) / F.count("*")).alias("ap"))
    return (
        p.crossJoin(F.broadcast(avg_price))
        .filter(F.col("p_retailprice") > 1.5 * F.col("ap"))
        .select("p_partkey", "p_name", F.col("p_retailprice").cast("double").alias("p_retailprice"))
        .orderBy("p_partkey")
    )


@register(
    "join_broadcast_hint",
    oracle="""
SELECT n_name, COUNT(*) AS n_suppliers
FROM supplier JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name ORDER BY n_name
""",
    tags=("batch", "join", "broadcast"),
    doc="Explicit broadcast of the dimension side (Flink broadcast threshold rule "
    "BatchExecHashJoinRule.scala:181). Spark: broadcast() hint → BroadcastHashJoin; "
    "plan shape asserted in tests/test_plans.py.",
)
def join_broadcast_hint(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(F.count("*").alias("n_suppliers"))
        .orderBy("n_name")
    )


@register(
    "interval_join_batch",
    oracle="""
SELECT a.event_id AS purchase_id, b.event_id AS view_id
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND a.event_type = 'purchase' AND b.event_type = 'view'
 AND b.ts BETWEEN a.ts - INTERVAL 1 HOUR AND a.ts
ORDER BY purchase_id, view_id
""",
    tags=("batch", "join", "interval"),
    doc="Interval join: L.time BETWEEN R.time - X AND R.time (Flink "
    "StreamExecIntervalJoin — …/operators/join/interval/TimeIntervalJoin.java:49). "
    "Batch form here; the streaming form (watermark-bounded stream-stream join) is in "
    "streamingq.py.",
)
def interval_join_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "purchase").alias("a")
    b = ev.filter(F.col("event_type") == "view").alias("b")
    return (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("b.ts") >= F.col("a.ts") - F.expr("INTERVAL 1 HOUR"))
            & (F.col("b.ts") <= F.col("a.ts")),
        )
        .select(F.col("a.event_id").alias("purchase_id"), F.col("b.event_id").alias("view_id"))
        .orderBy("purchase_id", "view_id")
    )


# ---------------------------------------------------------------------------
# §2.4 Aggregate function surface
# ---------------------------------------------------------------------------


@register(
    "agg_function_suite",
    oracle="""
SELECT l_returnflag,
       COUNT(*) AS cnt,
       COUNT(DISTINCT l_suppkey) AS cnt_distinct_supp,
       CAST(MIN(l_extendedprice) AS DOUBLE) AS min_price,
       CAST(MAX(l_extendedprice) AS DOUBLE) AS max_price,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_qty,
       MIN(l_shipdate) AS first_ship,
       MAX(l_shipdate) AS last_ship
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
""",
    tags=("batch", "agg"),
    doc="Core agg functions: COUNT/COUNT DISTINCT/MIN/MAX/SUM/AVG (Flink "
    "…/planner/functions/aggfunctions/; SURVEY §2.4). Two-phase partial/final agg "
    "in Spark = Flink's Local/Global split.",
)
def agg_function_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("cnt"),
            F.countDistinct("l_suppkey").alias("cnt_distinct_supp"),
            F.min("l_extendedprice").cast("double").alias("min_price"),
            F.max("l_extendedprice").cast("double").alias("max_price"),
            dsum(dec("l_quantity")).alias("sum_qty"),
            (dsum(dec("l_quantity")) / F.count("*")).alias("avg_qty"),
            F.min("l_shipdate").alias("first_ship"),
            F.max("l_shipdate").alias("last_ship"),
        )
        .orderBy("l_returnflag")
    )


@register(
    "agg_min_by_max_by",
    oracle="""
SELECT o_orderpriority,
       arg_min(o_orderkey, o_totalprice) AS cheapest_order,
       arg_max(o_orderkey, o_totalprice) AS priciest_order
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
""",
    tags=("batch", "agg"),
    doc="FIRST_VALUE/LAST_VALUE-by-order analog via min_by/max_by (Flink "
    "FirstValueWithRetractAggFunction — deterministic variant keyed on a value). "
    "o_totalprice is unique per priority group at these SFs → deterministic.",
)
def agg_min_by_max_by(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.min_by("o_orderkey", "o_totalprice").alias("cheapest_order"),
            F.max_by("o_orderkey", "o_totalprice").alias("priciest_order"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "agg_listagg_collect",
    oracle="""
SELECT n_regionkey,
       string_agg(n_name, ',' ORDER BY n_name) AS nations,
       COUNT(*) AS n
FROM nation GROUP BY n_regionkey ORDER BY n_regionkey
""",
    tags=("batch", "agg"),
    doc="LISTAGG / COLLECT (Flink ListAggFunction, CollectAggFunction — "
    "…/planner/functions/aggfunctions/). Spark: array_join(array_sort(collect_list)) "
    "— sorted for determinism (collect order is partition-dependent).",
)
def agg_listagg_collect(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = table(spark, sf_dir, "nation")
    return (
        n.groupBy("n_regionkey")
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations"),
            F.count("*").alias("n"),
        )
        .orderBy("n_regionkey")
    )


@register(
    "agg_multiset",
    oracle="""
SELECT l_returnflag,
       string_agg(pair, ';' ORDER BY pair) AS status_multiset
FROM (
  SELECT l_returnflag, l_linestatus || ':' || CAST(COUNT(*) AS VARCHAR) AS pair
  FROM lineitem GROUP BY l_returnflag, l_linestatus
) GROUP BY l_returnflag ORDER BY l_returnflag
""",
    tags=("batch", "agg"),
    doc="COLLECT → MULTISET (element→count map, Flink MULTISET type — "
    "…/types/logical/MultisetType.java). Surfaced as a sorted 'elem:count' string "
    "for engine-portable comparison; Spark-native form is map_from_entries.",
)
def agg_multiset(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    pairs = (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("c"))
        .select(
            "l_returnflag",
            F.concat_ws(":", "l_linestatus", F.col("c").cast("string")).alias("pair"),
        )
    )
    return (
        pairs.groupBy("l_returnflag")
        .agg(F.array_join(F.array_sort(F.collect_list("pair")), ";").alias("status_multiset"))
        .orderBy("l_returnflag")
    )


@register(
    "agg_stddev_var",
    oracle="""
WITH s AS (
  SELECT l_returnflag,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
         COUNT(*) AS n
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag,
       round((sxx - sx*sx/n) / (n-1), 6) AS var_samp_qty,
       round((sxx - sx*sx/n) / n, 6) AS var_pop_qty,
       round(sqrt((sxx - sx*sx/n) / (n-1)), 6) AS stddev_samp_qty
FROM s ORDER BY l_returnflag
""",
    tags=("batch", "agg"),
    doc="STDDEV_POP/SAMP, VAR_POP/SAMP (Flink …/aggfunctions; SURVEY §2.4) — "
    "computed from exact decimal moments so both engines agree bit-for-bit; the "
    "built-in F.stddev/F.var_samp forms are covered in tests with tolerance.",
)
def agg_stddev_var(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    d = F.col("l_quantity").cast("decimal(18,2)")
    s = li.groupBy("l_returnflag").agg(
        F.sum(d).cast("double").alias("sx"),
        F.sum(d * d).cast("double").alias("sxx"),
        F.count("*").alias("n"),
    )
    sx, sxx, n = F.col("sx"), F.col("sxx"), F.col("n")
    return s.select(
        "l_returnflag",
        F.round((sxx - sx * sx / n) / (n - 1), 6).alias("var_samp_qty"),
        F.round((sxx - sx * sx / n) / n, 6).alias("var_pop_qty"),
        F.round(F.sqrt((sxx - sx * sx / n) / (n - 1)), 6).alias("stddev_samp_qty"),
    ).orderBy("l_returnflag")


@register(
    "agg_distinct_multi",
    oracle="""
SELECT o_orderstatus,
       COUNT(DISTINCT o_custkey) AS uniq_cust,
       COUNT(DISTINCT o_orderpriority) AS uniq_prio,
       COUNT(*) AS cnt
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus
""",
    tags=("batch", "agg", "distinct"),
    doc="Multiple COUNT(DISTINCT) in one agg (Flink SplitAggregateRule splits into "
    "2-level agg; Spark: RewriteDistinctAggregates → Expand).",
)
def agg_distinct_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.countDistinct("o_custkey").alias("uniq_cust"),
            F.countDistinct("o_orderpriority").alias("uniq_prio"),
            F.count("*").alias("cnt"),
        )
        .orderBy("o_orderstatus")
    )


# ---------------------------------------------------------------------------
# §2.6 Sort / limit / set operations
# ---------------------------------------------------------------------------


@register(
    "sort_limit_offset",
    oracle="""
SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice
FROM orders ORDER BY o_totalprice DESC, o_orderkey
LIMIT 15 OFFSET 5
""",
    tags=("batch", "sort", "limit"),
    doc="Top-k sort with OFFSET (Flink BatchExecSortLimit — "
    "…/batch/BatchExecSortLimit.scala:52, SortLimitOperator). Spark: "
    "TakeOrderedAndProject with offset (3.4+). Unique tiebreak key → deterministic.",
)
def sort_limit_offset(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", F.col("o_totalprice").cast("double").alias("o_totalprice"))
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .offset(5)
        .limit(15)
    )


@register(
    "setop_union_all",
    oracle="""
SELECT c_custkey AS key, 'customer' AS src FROM customer WHERE c_acctbal > 4500
UNION ALL
SELECT s_suppkey AS key, 'supplier' AS src FROM supplier WHERE s_acctbal > 4500
ORDER BY key, src
""",
    tags=("batch", "setop"),
    doc="UNION ALL (Flink StreamExecUnion/BatchExecUnion — "
    "…/batch/BatchExecUnion.scala:41). No shuffle in Spark: plain unioned scan.",
)
def setop_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 4500)
        .select(F.col("c_custkey").alias("key"), F.lit("customer").alias("src"))
    )
    s = (
        table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") > 4500)
        .select(F.col("s_suppkey").alias("key"), F.lit("supplier").alias("src"))
    )
    return c.unionAll(s).orderBy("key", "src")


@register(
    "setop_union_distinct",
    oracle="""
SELECT c_nationkey AS nk FROM customer
UNION
SELECT s_nationkey AS nk FROM supplier
ORDER BY nk
""",
    tags=("batch", "setop"),
    doc="UNION (distinct) — rewritten to UNION ALL + distinct agg (Flink Calcite "
    "CoreRules.UNION_TO_DISTINCT, FlinkStreamRuleSets.scala:263).",
)
def setop_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk"))
    s = table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    return c.union(s).distinct().orderBy("nk")


@register(
    "setop_intersect",
    oracle="""
SELECT c_nationkey AS nk FROM customer WHERE c_acctbal > 4800
INTERSECT
SELECT s_nationkey AS nk FROM supplier
ORDER BY nk
""",
    tags=("batch", "setop"),
    doc="INTERSECT → distinct + semi join (Flink ReplaceIntersectWithSemiJoinRule; "
    "Spark has the identical rewrite).",
)
def setop_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 4800)
        .select(F.col("c_nationkey").alias("nk"))
    )
    s = table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    return c.intersect(s).orderBy("nk")


@register(
    "setop_intersect_all",
    oracle="""
SELECT l_suppkey AS sk FROM lineitem WHERE l_quantity > 45
INTERSECT ALL
SELECT l_suppkey AS sk FROM lineitem WHERE l_returnflag = 'R'
ORDER BY sk
""",
    tags=("batch", "setop"),
    doc="INTERSECT ALL → bag semantics via counted agg + replicate (Flink "
    "RewriteIntersectAllRule; same rewrite in Catalyst).",
)
def setop_intersect_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_quantity") > 45).select(F.col("l_suppkey").alias("sk"))
    b = li.filter(F.col("l_returnflag") == "R").select(F.col("l_suppkey").alias("sk"))
    return a.intersectAll(b).orderBy("sk")


@register(
    "setop_except",
    oracle="""
SELECT n_nationkey AS nk FROM nation
EXCEPT
SELECT c_nationkey AS nk FROM customer WHERE c_acctbal > 1000
ORDER BY nk
""",
    tags=("batch", "setop"),
    doc="EXCEPT → distinct + anti join (Flink ReplaceMinusWithAntiJoinRule).",
)
def setop_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = table(spark, sf_dir, "nation").select(F.col("n_nationkey").alias("nk"))
    c = (
        table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 1000)
        .select(F.col("c_nationkey").alias("nk"))
    )
    return n.exceptAll(c.distinct()).distinct().orderBy("nk")


@register(
    "setop_except_all",
    oracle="""
SELECT l_returnflag AS f FROM lineitem WHERE l_quantity > 48
EXCEPT ALL
SELECT l_returnflag AS f FROM lineitem WHERE l_quantity > 49
ORDER BY f
""",
    tags=("batch", "setop"),
    doc="EXCEPT ALL bag semantics (Flink RewriteMinusAllRule).",
)
def setop_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = table(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_quantity") > 48).select(F.col("l_returnflag").alias("f"))
    b = li.filter(F.col("l_quantity") > 49).select(F.col("l_returnflag").alias("f"))
    return a.exceptAll(b).orderBy("f")


@register(
    "join_salted_skew",
    oracle="""
SELECT n_name, COUNT(*) AS cnt,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
              JOIN nation ON s_nationkey = n_nationkey
GROUP BY n_name
ORDER BY n_name
""",
    tags=("batch", "join", "skew", "salting"),
    doc="Skew-salted join (SURVEY §4 scale techniques; Flink splits skewed aggs "
    "via SplitAggregateRule): the big side's keys spread over 8 salted shuffle "
    "partitions, the supplier side replicated per salt — row-identical to the "
    "plain join (deterministic salt), which the oracle proves. The manual tool "
    "for hot keys AQE's size-based skew split can't fix.",
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.operators.skew import salted_join

    li = table(spark, sf_dir, "lineitem").select(
        F.col("l_suppkey").alias("suppkey"), "l_quantity", "l_orderkey", "l_linenumber"
    )
    supp = (
        table(spark, sf_dir, "supplier")
        .join(
            F.broadcast(table(spark, sf_dir, "nation")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select(F.col("s_suppkey").alias("suppkey"), "n_name")
    )
    j = salted_join(li, supp, key="suppkey", salt_src="l_orderkey", n_salts=8)
    return (
        j.groupBy("n_name")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("l_quantity").cast("decimal(12,2)")).cast("double").alias("qty"),
        )
        .orderBy("n_name")
    )


@register(
    "join_bucketed_coloc",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS cnt,
       CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty
FROM orders JOIN lineitem ON l_orderkey = o_orderkey
GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
    tags=("batch", "join", "bucketing"),
    doc="Bucketed co-located join (the Spark analog of Flink's co-partitioned "
    "exchange reuse): both fact tables written bucketBy(8) on the join key, so "
    "the sort-merge join consumes pre-bucketed scans with NO shuffle exchange "
    "on either input — the pattern that turns the biggest repeated join at "
    "100 TB into a scan-local operation. Plan asserted in tests/test_plans.py.",
)
def join_bucketed_coloc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.streaming.run import scratch_dir

    tag = sf_dir.strip("/").replace("/", "_").replace(".", "_")
    li_t, o_t = f"li_bucketed_{tag}", f"orders_bucketed_{tag}"
    for name, src, key in ((li_t, "lineitem", "l_orderkey"), (o_t, "orders", "o_orderkey")):
        if spark.catalog.tableExists(name):
            continue
        # the bucketing metadata lives in the catalog and the files in a
        # scratch dir removed at exit: nothing is left in the warehouse dir
        (
            table(spark, sf_dir, src)
            .write.bucketBy(8, key)
            .sortBy(key)
            .option("path", scratch_dir(prefix="bucketed_"))
            .mode("overwrite")
            .saveAsTable(name)
        )
    li, orders = spark.table(li_t), spark.table(o_t)
    return (
        orders.hint("merge")
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("cnt"),
            F.sum(F.col("l_quantity").cast("decimal(12,2)")).cast("double").alias("qty"),
        )
        .orderBy("o_orderpriority")
    )


@register(
    "agg_two_stage_salted",
    oracle="""
SELECT l_suppkey, CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty
FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey
""",
    tags=("batch", "agg", "skew", "salting"),
    doc="Explicit two-stage salted aggregation (the SplitAggregateRule shape, "
    "SURVEY §2.4/§4.1): salt → partial sum → final sum, so even the reduce "
    "side of one pathologically hot key fans out over 16 partitions. "
    "Decomposable aggregates only; result provably equals the plain groupBy.",
)
def agg_two_stage_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_1_12_0_src_spark.operators.skew import two_stage_agg

    li = table(spark, sf_dir, "lineitem")
    return (
        two_stage_agg(li, "l_suppkey", F.col("l_quantity").cast("decimal(12,2)"), "qty_dec")
        .select("l_suppkey", F.col("qty_dec").cast("double").alias("qty"))
        .orderBy("l_suppkey")
    )


@register(
    "agg_single_value",
    oracle="""
SELECT n_nationkey, n_name, r_name AS region
FROM nation JOIN region ON n_regionkey = r_regionkey
ORDER BY n_nationkey
""",
    tags=("batch", "agg", "single_value"),
    doc="SINGLE_VALUE aggregate (Flink …/functions/aggfunctions/"
    "SingleValueAggFunction.java — errors when a group holds more than one "
    "row; how the planner enforces scalar subqueries): max guarded by a "
    "count==1 check that raises otherwise, evaluated lazily per group.",
)
def agg_single_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    g = (
        n.join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("n_nationkey", "n_name")
        .agg(F.max("r_name").alias("_v"), F.count("*").alias("_c"))
    )
    single = F.when(F.col("_c") == 1, F.col("_v")).otherwise(
        F.raise_error(F.lit("SINGLE_VALUE: group has more than one row"))
    )
    return (
        g.select("n_nationkey", "n_name", single.alias("region"))
        .orderBy("n_nationkey")
    )


@register(
    "agg_filter_clause",
    oracle="""
SELECT o_orderpriority,
       COUNT(*) AS cnt,
       COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS cnt_finished,
       CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
                     FILTER (WHERE o_orderstatus = 'O'), 0) AS DOUBLE) AS total_open,
       COUNT(DISTINCT o_custkey) FILTER (WHERE o_totalprice > 100000) AS big_custs
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
""",
    tags=("batch", "agg", "sql"),
    doc="SQL:2003 aggregate FILTER clause (Calcite-parsed in the reference's "
    "Blink planner — per-aggregate conditional inputs without CASE "
    "contortions): plain, DECIMAL-summed, and DISTINCT aggregates each "
    "under their own FILTER, identical syntax in both engines; Catalyst "
    "folds the filters into the partial aggregate (no extra scan).",
)
def agg_filter_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql("""
        SELECT o_orderpriority,
               COUNT(*) AS cnt,
               COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS cnt_finished,
               CAST(COALESCE(SUM(CAST(o_totalprice AS DECIMAL(12,2)))
                             FILTER (WHERE o_orderstatus = 'O'), 0) AS DOUBLE) AS total_open,
               COUNT(DISTINCT o_custkey) FILTER (WHERE o_totalprice > 100000) AS big_custs
        FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """)
