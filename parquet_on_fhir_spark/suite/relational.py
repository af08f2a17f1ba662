"""Relational core queries (SURVEY.md §2B Q1-Q29, Q34-Q40).

Each entry implements one operator Spark-first and, where ANSI-SQL
expressible, carries a DuckDB oracle string with identically-aliased
columns (driver contract in /root/repo/__spark_entry__.py).

Scale notes are inline per query: what shuffles, what broadcasts, what
pushes down — written against the 100 TB target, verified on the local
test data.
"""

from __future__ import annotations

import os
import tempfile
from pathlib import Path

from pyspark.sql import functions as F

from parquet_on_fhir_spark.operators.joins import as_of_join
from parquet_on_fhir_spark.streaming.jobs import scratch_dir
from parquet_on_fhir_spark.suite.common import Q, d2, d4, t, ts_str

EVENT_TS_SPARK = "yyyy-MM-dd HH:mm:ss.SSSSSS"
EVENT_TS_DUCK = "%Y-%m-%d %H:%M:%S.%f"


# --- flagship (entry): shipping-priority — scan×3, 2 joins, agg, top-k ----
def flagship(spark, sf_dir):
    """Customer ⋈ orders ⋈ lineitem, filter, groupBy-agg, ordered top-10.

    Plan shape at scale: segment filter pushed into the customer scan;
    customer→orders join shuffles on custkey; orders→lineitem on orderkey;
    partial aggregation map-side; TakeOrderedAndProject for the limit (no
    global sort materialization).
    """
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    l = t(spark, sf_dir, "lineitem")
    return (
        c.filter(F.col("c_mktsegment") == "BUILDING")
        .join(o, c["c_custkey"] == o["o_custkey"])
        .filter(o["o_orderdate"] < F.lit("1998-07-01").cast("timestamp"))
        .join(l, F.col("l_orderkey") == o["o_orderkey"])
        .filter(F.col("l_shipdate") > F.lit("1998-07-01").cast("timestamp"))
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        # sum in DECIMAL: product terms have 4-6 decimal digits, so their FP
        # sums can land exactly on round-half boundaries where engines
        # disagree; exact decimal summation makes the rounding deterministic
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(38,6)"
                    )
                ),
                2,
            )
            .cast("double")
            .alias("revenue")
        )
        .select(
            "o_orderkey",
            "revenue",
            ts_str("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(10)
    )


FLAGSHIP_ORACLE = """
SELECT o_orderkey,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))), 2) AS DOUBLE) AS revenue,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-07-01'
  AND l_shipdate > TIMESTAMP '1998-07-01'
GROUP BY o_orderkey, o_orderdate, o_orderpriority
ORDER BY revenue DESC, o_orderkey
LIMIT 10
"""


# --- Q1: parquet scan with projection + predicate pushdown ---------------
def q01(spark, sf_dir):
    l = t(spark, sf_dir, "lineitem")
    return l.select("l_orderkey", "l_linenumber", "l_quantity").filter(
        (F.col("l_shipdate") >= "1996-01-01")
        & (F.col("l_shipdate") < "1997-01-01")
        & (F.col("l_quantity") < 10)
    )


Q01_ORACLE = """
SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_quantity < 10
"""


# --- Q2: schema-merged multi-file scan (spec merge, README.md:20-22) ------
def q02(spark, sf_dir):
    r = t(spark, sf_dir, "region")
    base = scratch_dir("pofs_merge_")
    r.select("r_regionkey", "r_name").write.mode("overwrite").parquet(f"{base}/a")
    r.select(
        "r_regionkey", F.upper("r_name").alias("r_name_upper")
    ).write.mode("overwrite").parquet(f"{base}/b")
    return spark.read.option("mergeSchema", "true").parquet(f"{base}/a", f"{base}/b")


Q02_ORACLE = """
SELECT r_regionkey, r_name, NULL AS r_name_upper FROM region
UNION ALL BY NAME
SELECT r_regionkey, NULL AS r_name, upper(r_name) AS r_name_upper FROM region
"""


# --- Q3: NDJSON source with explicit schema -------------------------------
def q03(spark, sf_dir):
    n = t(spark, sf_dir, "nation")
    base = scratch_dir("pofs_ndjson_")
    n.write.mode("overwrite").json(base)
    schema = "n_nationkey INT, n_name STRING, n_regionkey INT"
    return spark.read.schema(schema).json(base).select(
        "n_nationkey", "n_name", "n_regionkey"
    )


Q03_ORACLE = "SELECT n_nationkey, n_name, n_regionkey FROM nation"


# --- Q4: CSV source --------------------------------------------------------
def q04(spark, sf_dir):
    r = t(spark, sf_dir, "region")
    base = scratch_dir("pofs_csv_")
    r.write.mode("overwrite").option("header", "true").csv(base)
    schema = "r_regionkey INT, r_name STRING"
    return spark.read.option("header", "true").schema(schema).csv(base)


Q04_ORACLE = "SELECT r_regionkey, r_name FROM region"


# --- Q5: parquet sink (snappy; round-trips values) ------------------------
def q05(spark, sf_dir):
    l = t(spark, sf_dir, "lineitem")
    agg = l.groupBy("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"), d2(F.sum("l_extendedprice")).alias("total")
    )
    base = scratch_dir("pofs_sink_")
    agg.write.mode("overwrite").option("compression", "snappy").parquet(base)
    return spark.read.parquet(base)


Q05_ORACLE = """
SELECT l_returnflag, l_linestatus, count(*) AS n, round(sum(l_extendedprice), 2) AS total
FROM lineitem GROUP BY l_returnflag, l_linestatus
"""


# --- Q6: partitioned sink (hive-style dirs; partition pruning on read) ----
def q06(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    base = scratch_dir("pofs_part_")
    o.write.mode("overwrite").partitionBy("o_orderstatus").parquet(base)
    back = spark.read.parquet(base)
    # partition-pruned read: only the 'F' directory is scanned
    return (
        back.filter(F.col("o_orderstatus") == "F")
        .groupBy("o_orderstatus")
        .agg(F.count("*").alias("n"), d2(F.sum("o_totalprice")).alias("total"))
    )


Q06_ORACLE = """
SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS total
FROM orders WHERE o_orderstatus = 'F' GROUP BY o_orderstatus
"""


# --- Q7: projection incl. nested struct/array access ----------------------
def q07(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    nested = d.select(
        "doc_id",
        F.struct(F.col("lang"), F.col("source")).alias("meta"),
        F.split("text", " ").alias("tokens"),
    )
    return nested.select(
        "doc_id",
        F.col("meta.lang").alias("lang"),
        F.col("meta.source").alias("source"),
        F.col("tokens")[0].alias("first_token"),
    )


Q07_ORACLE = """
SELECT doc_id, lang, source, string_split(text, ' ')[1] AS first_token FROM documents
"""


# --- Q8: comparison/boolean predicate filters ------------------------------
def q08(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    return c.filter(
        ((F.col("c_acctbal") > 5000) & (F.col("c_mktsegment") == "BUILDING"))
        | (F.col("c_acctbal") < 0)
    ).select("c_custkey", "c_mktsegment", d2(F.col("c_acctbal")).alias("acctbal"))


Q08_ORACLE = """
SELECT c_custkey, c_mktsegment, round(c_acctbal, 2) AS acctbal FROM customer
WHERE (c_acctbal > 5000 AND c_mktsegment = 'BUILDING') OR c_acctbal < 0
"""


# --- Q9: IN / BETWEEN / LIKE / IS NULL -------------------------------------
def q09(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    return o.filter(
        F.col("o_orderstatus").isin("F", "P")
        & F.col("o_totalprice").between(1000, 50000)
        & F.col("o_orderpriority").like("%URGENT%")
        & F.col("o_custkey").isNotNull()
    ).select("o_orderkey", "o_orderstatus", "o_orderpriority")


Q09_ORACLE = """
SELECT o_orderkey, o_orderstatus, o_orderpriority FROM orders
WHERE o_orderstatus IN ('F', 'P') AND o_totalprice BETWEEN 1000 AND 50000
  AND o_orderpriority LIKE '%URGENT%' AND o_custkey IS NOT NULL
"""


# --- Q10: conditional expressions ------------------------------------------
def q10(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, "neg")
        .when(F.col("c_acctbal") < 5000, "mid")
        .otherwise("high")
        .alias("bal_bucket"),
        F.coalesce(F.nullif(F.col("c_mktsegment"), F.lit("BUILDING")), F.lit("(bldg)")).alias(
            "segment_or_default"
        ),
    )


Q10_ORACLE = """
SELECT c_custkey,
       CASE WHEN c_acctbal < 0 THEN 'neg' WHEN c_acctbal < 5000 THEN 'mid' ELSE 'high' END AS bal_bucket,
       coalesce(nullif(c_mktsegment, 'BUILDING'), '(bldg)') AS segment_or_default
FROM customer
"""


# --- Q11: distinct projection ----------------------------------------------
def q11(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    return c.select("c_nationkey", "c_mktsegment").distinct()


Q11_ORACLE = "SELECT DISTINCT c_nationkey, c_mktsegment FROM customer"


# --- Q12: 3-way inner equi-join + agg --------------------------------------
def q12(spark, sf_dir):
    """customer ⋈ nation ⋈ region. nation/region are tiny at every scale
    factor → Catalyst broadcasts them; the only shuffle is the final agg."""
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    r = t(spark, sf_dir, "region")
    return (
        c.join(n, c["c_nationkey"] == n["n_nationkey"])
        .join(r, n["n_regionkey"] == r["r_regionkey"])
        .groupBy("r_name", "n_name")
        .agg(F.count("*").alias("n_customers"), d4(F.avg("c_acctbal")).alias("avg_bal"))
    )


Q12_ORACLE = """
SELECT r_name, n_name, count(*) AS n_customers, round(avg(c_acctbal) + 1e-9, 4) AS avg_bal
FROM customer JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, n_name
"""


# --- Q13: left outer join ---------------------------------------------------
def q13(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    return (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            d2(F.coalesce(F.sum("o_totalprice"), F.lit(0.0))).alias("total_spend"),
        )
    )


Q13_ORACLE = """
SELECT c_custkey, count(o_orderkey) AS n_orders,
       round(coalesce(sum(o_totalprice), 0), 2) AS total_spend
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey
"""


# --- Q13b: full outer join ---------------------------------------------------
def q13_full(spark, sf_dir):
    s = t(spark, sf_dir, "supplier")
    n = t(spark, sf_dir, "nation")
    per_nation = s.groupBy("s_nationkey").agg(F.count("*").alias("n_suppliers"))
    return (
        per_nation.join(n, per_nation["s_nationkey"] == n["n_nationkey"], "full")
        .select(
            "n_name",
            F.coalesce(F.col("n_suppliers"), F.lit(0)).cast("long").alias("n_suppliers"),
        )
    )


Q13_FULL_ORACLE = """
SELECT n_name, CAST(coalesce(n_suppliers, 0) AS BIGINT) AS n_suppliers
FROM (SELECT s_nationkey, count(*) AS n_suppliers FROM supplier GROUP BY s_nationkey) s
FULL OUTER JOIN nation ON s_nationkey = n_nationkey
"""


# --- Q14: left-semi / left-anti ---------------------------------------------
def q14(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    anti = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left_anti")
        .select("c_custkey", F.lit("no_orders").alias("tag"))
    )
    semi = (
        c.filter(F.col("c_acctbal") < 0)
        .join(o, c["c_custkey"] == o["o_custkey"], "left_semi")
        .select("c_custkey", F.lit("neg_with_orders").alias("tag"))
    )
    return anti.unionAll(semi)


Q14_ORACLE = """
SELECT c_custkey, 'no_orders' AS tag FROM customer c
WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
UNION ALL
SELECT c_custkey, 'neg_with_orders' AS tag FROM customer c
WHERE c_acctbal < 0 AND EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
"""


# --- Q15: explicit broadcast hash join --------------------------------------
def q15(spark, sf_dir):
    """Fact ⋈ broadcast(dim): no shuffle of lineitem for the join — the
    100 TB-critical pattern (part fits on every executor)."""
    l = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part")
    return (
        l.join(F.broadcast(p), l["l_partkey"] == p["p_partkey"])
        .groupBy("p_brand")
        .agg(F.count("*").alias("n"), d2(F.sum("l_quantity")).alias("total_qty"))
    )


Q15_ORACLE = """
SELECT p_brand, count(*) AS n, round(sum(l_quantity), 2) AS total_qty
FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY p_brand
"""


# --- Q16: theta / non-equi range join ----------------------------------------
def q16(spark, sf_dir):
    """Equi component (nationkey) keeps this a hash join with a residual
    range predicate — never a cross-product."""
    s = t(spark, sf_dir, "supplier")
    c = t(spark, sf_dir, "customer")
    return (
        s.join(
            c,
            (s["s_nationkey"] == c["c_nationkey"]) & (s["s_acctbal"] > c["c_acctbal"]),
        )
        .groupBy("s_suppkey")
        .agg(F.count("*").alias("n_poorer_customers"))
    )


Q16_ORACLE = """
SELECT s_suppkey, count(*) AS n_poorer_customers
FROM supplier JOIN customer
  ON s_nationkey = c_nationkey AND s_acctbal > c_acctbal
GROUP BY s_suppkey
"""


# --- Q17: cross join ----------------------------------------------------------
def q17(spark, sf_dir):
    r = t(spark, sf_dir, "region")
    o = t(spark, sf_dir, "orders")
    statuses = o.select("o_orderstatus").distinct()
    return r.crossJoin(statuses).select("r_name", "o_orderstatus")


Q17_ORACLE = """
SELECT r_name, o_orderstatus FROM region
CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s
"""


# --- Q18: as-of join (funnel: last view before each purchase) -----------------
def q18(spark, sf_dir):
    """Uses the union-sort as-of operator (operators/joins.py): ONE shuffle
    on user_id, no range cross-product — scale-safe vs the naive
    join-then-argmax plan."""
    e = t(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = e.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id", "value"
    )
    res = as_of_join(
        purchases,
        views,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_cols=["event_id", "value"],
        tiebreak="event_id",
    )
    return res.select(
        "event_id",
        "user_id",
        ts_str("ts", EVENT_TS_SPARK).alias("purchase_ts"),
        ts_str("asof_ts", EVENT_TS_SPARK).alias("view_ts"),
        F.col("asof_event_id").alias("view_event_id"),
        d4(F.col("asof_value")).alias("view_value"),
    )


Q18_ORACLE = f"""
WITH p AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'),
v AS (SELECT user_id, ts, event_id, value FROM events WHERE event_type = 'view'),
j AS (
  SELECT p.event_id, p.user_id, p.ts, v.ts AS vts, v.event_id AS vid, v.value AS vval,
         row_number() OVER (PARTITION BY p.event_id ORDER BY v.ts DESC, v.event_id DESC) AS rn
  FROM p LEFT JOIN v ON v.user_id = p.user_id AND v.ts <= p.ts
)
SELECT event_id, user_id,
       strftime(ts, '{EVENT_TS_DUCK}') AS purchase_ts,
       strftime(vts, '{EVENT_TS_DUCK}') AS view_ts,
       vid AS view_event_id, round(vval + 1e-9, 4) AS view_value
FROM j WHERE rn = 1
"""


# --- Q19: interval-overlap join ------------------------------------------------
def q19(spark, sf_dir):
    """Clicks within ±1h of each error, same user: equi key + residual
    range predicates (hash join, no cross-product)."""
    e = t(spark, sf_dir, "events")
    errors = e.filter(F.col("event_type") == "error").select(
        F.col("event_id"), F.col("user_id"), F.col("ts")
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user_id"),
        F.col("ts").alias("c_ts"),
        F.col("event_id").alias("c_event_id"),
    )
    joined = errors.join(
        clicks,
        (errors["user_id"] == clicks["c_user_id"])
        & (clicks["c_ts"] >= errors["ts"] - F.expr("INTERVAL 1 HOUR"))
        & (clicks["c_ts"] <= errors["ts"] + F.expr("INTERVAL 1 HOUR")),
        "left",
    )
    return joined.groupBy("event_id").agg(F.count("c_event_id").alias("n_clicks_1h"))


Q19_ORACLE = """
SELECT e.event_id, count(c.event_id) AS n_clicks_1h
FROM (SELECT * FROM events WHERE event_type = 'error') e
LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
  ON c.user_id = e.user_id
 AND c.ts >= e.ts - INTERVAL 1 HOUR AND c.ts <= e.ts + INTERVAL 1 HOUR
GROUP BY e.event_id
"""


# --- Q20: self-join --------------------------------------------------------------
def q20(spark, sf_dir):
    l = t(spark, sf_dir, "lineitem")
    l1 = l.select("l_orderkey", "l_linenumber")
    l2 = l.select(
        F.col("l_orderkey").alias("r_orderkey"), F.col("l_linenumber").alias("r_linenumber")
    )
    return (
        l1.join(
            l2,
            (l1["l_orderkey"] == l2["r_orderkey"])
            & (l1["l_linenumber"] < l2["r_linenumber"]),
        )
        .groupBy("l_orderkey")
        .agg(F.count("*").alias("n_pairs"))
    )


Q20_ORACLE = """
SELECT l1.l_orderkey, count(*) AS n_pairs
FROM lineitem l1 JOIN lineitem l2
  ON l1.l_orderkey = l2.l_orderkey AND l1.l_linenumber < l2.l_linenumber
GROUP BY l1.l_orderkey
"""


# --- Q21: TPC-H Q1 pricing summary (hash aggregate, 8 aggs) ----------------------
def q21(spark, sf_dir):
    l = t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    # product sums in exact decimal (see flagship note); plain 2-decimal
    # money/qty sums are exact multiples of 0.01 and safe in FP
    return (
        l.filter(F.col("l_shipdate") <= "2001-09-01")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            d2(F.sum("l_quantity")).alias("sum_qty"),
            d2(F.sum("l_extendedprice")).alias("sum_base_price"),
            F.round(F.sum(disc_price.cast("decimal(38,6)")), 2)
            .cast("double")
            .alias("sum_disc_price"),
            F.round(
                F.sum((disc_price * (1 + F.col("l_tax"))).cast("decimal(38,6)")), 2
            )
            .cast("double")
            .alias("sum_charge"),
            d4(F.avg("l_quantity")).alias("avg_qty"),
            d4(F.avg("l_extendedprice")).alias("avg_price"),
            d4(F.avg("l_discount")).alias("avg_disc"),
            F.count("*").alias("count_order"),
        )
    )


Q21_ORACLE = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))), 2) AS DOUBLE) AS sum_disc_price,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) * (1 + l_tax) AS DECIMAL(38,6))), 2) AS DOUBLE) AS sum_charge,
       round(avg(l_quantity) + 1e-9, 4) AS avg_qty,
       round(avg(l_extendedprice) + 1e-9, 4) AS avg_price,
       round(avg(l_discount) + 1e-9, 4) AS avg_disc,
       count(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-09-01'
GROUP BY l_returnflag, l_linestatus
"""


# --- Q22: distinct aggregates ------------------------------------------------------
def q22(spark, sf_dir):
    l = t(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.countDistinct("l_suppkey").alias("n_supps"),
        F.count("*").alias("n_rows"),
    )


Q22_ORACLE = """
SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts,
       count(DISTINCT l_suppkey) AS n_supps, count(*) AS n_rows
FROM lineitem GROUP BY l_returnflag
"""


# --- Q23: approx count-distinct (HLL++) — checked against the exact count -----------
# HLL++ is deterministic for a fixed input set, and its rsd=0.02 estimate
# sits within 3·rsd of truth; emitting the exact count plus that bound as
# a boolean makes the approximate operator oracle-checkable (the oracle
# states the exact counts and TRUE).
def q23(spark, sf_dir):
    l = t(spark, sf_dir, "lineitem")
    agg = l.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_partkey", 0.02).alias("approx_parts"),
        F.countDistinct("l_partkey").alias("exact_parts"),
    )
    return agg.select(
        "l_returnflag",
        "exact_parts",
        (
            F.abs(F.col("approx_parts") - F.col("exact_parts"))
            / F.col("exact_parts")
            <= 0.06
        ).alias("approx_within_tol"),
    )


Q23_ORACLE = """
SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts,
       TRUE AS approx_within_tol
FROM lineitem GROUP BY l_returnflag
"""


# --- Q24: rollup + grouping id --------------------------------------------------------
def q24(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            d2(F.sum("o_totalprice")).alias("total"),
            F.grouping_id().cast("int").alias("gid"),
        )
    )


Q24_ORACLE = """
SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
       round(sum(o_totalprice), 2) AS total,
       CAST(GROUPING(o_orderstatus, o_orderpriority) AS INT) AS gid
FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
"""


# --- Q25: statistical aggregates --------------------------------------------------------
def q25(spark, sf_dir):
    l = t(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        d4(F.stddev("l_quantity")).alias("sd_qty"),
        d4(F.var_samp("l_quantity")).alias("var_qty"),
        d4(F.corr("l_quantity", "l_extendedprice")).alias("corr_qty_price"),
        d4(F.covar_samp("l_quantity", "l_extendedprice")).alias("covar_qty_price"),
    )


Q25_ORACLE = """
SELECT l_returnflag,
       round(stddev_samp(l_quantity) + 1e-9, 4) AS sd_qty,
       round(var_samp(l_quantity) + 1e-9, 4) AS var_qty,
       round(corr(l_quantity, l_extendedprice) + 1e-9, 4) AS corr_qty_price,
       round(covar_samp(l_quantity, l_extendedprice) + 1e-9, 4) AS covar_qty_price
FROM lineitem GROUP BY l_returnflag
"""


# --- Q26: exact median + interpolated percentile --------------------------------------------
def q26(spark, sf_dir):
    l = t(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        d4(F.median("l_quantity")).alias("median_qty"),
        d4(F.percentile("l_quantity", 0.9)).alias("p90_qty"),
    )


Q26_ORACLE = """
SELECT l_returnflag, round(median(l_quantity) + 1e-9, 4) AS median_qty,
       round(quantile_cont(l_quantity, 0.9) + 1e-9, 4) AS p90_qty
FROM lineitem GROUP BY l_returnflag
"""


# --- Q27: min_by/max_by + ordered collect ---------------------------------------------------
def q27(spark, sf_dir):
    """max_by with a struct ordering key → deterministic argmax even under
    acctbal ties; collect_list is sorted+sliced so the value is order-free."""
    c = t(spark, sf_dir, "customer")
    return c.groupBy("c_nationkey").agg(
        d2(F.max("c_acctbal")).alias("max_bal"),
        F.max_by("c_custkey", F.struct("c_acctbal", "c_custkey")).alias("rich_custkey"),
        F.min_by("c_custkey", F.struct("c_acctbal", "c_custkey")).alias("poor_custkey"),
        F.array_join(F.slice(F.sort_array(F.collect_list("c_name")), 1, 3), "|").alias(
            "first_names"
        ),
    )


Q27_ORACLE = """
WITH ranked AS (
  SELECT c_nationkey, c_acctbal, c_custkey, c_name,
         row_number() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal DESC, c_custkey DESC) AS rmax,
         row_number() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal ASC, c_custkey ASC) AS rmin
  FROM customer
)
SELECT c_nationkey, round(max(c_acctbal), 2) AS max_bal,
       max(CASE WHEN rmax = 1 THEN c_custkey END) AS rich_custkey,
       max(CASE WHEN rmin = 1 THEN c_custkey END) AS poor_custkey,
       array_to_string(list_sort(list(c_name))[1:3], '|') AS first_names
FROM ranked GROUP BY c_nationkey
"""


# --- Q28: global (no-key) aggregate ------------------------------------------------------------
def q28(spark, sf_dir):
    l = t(spark, sf_dir, "lineitem")
    return l.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("l_partkey").alias("n_parts"),
        d2(F.sum("l_extendedprice")).alias("total_price"),
        d4(F.avg("l_discount")).alias("avg_disc"),
        d2(F.min("l_quantity")).alias("min_qty"),
        d2(F.max("l_quantity")).alias("max_qty"),
    )


Q28_ORACLE = """
SELECT count(*) AS n_rows, count(DISTINCT l_partkey) AS n_parts,
       round(sum(l_extendedprice), 2) AS total_price,
       round(avg(l_discount) + 1e-9, 4) AS avg_disc,
       round(min(l_quantity), 2) AS min_qty, round(max(l_quantity), 2) AS max_qty
FROM lineitem
"""


# --- Q29: pivot ---------------------------------------------------------------------------------
def q29(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    pv = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(d2(F.sum("o_totalprice")))
    )
    return pv.select(
        "o_orderpriority",
        F.col("F").alias("total_f"),
        F.col("O").alias("total_o"),
        F.col("P").alias("total_p"),
    )


Q29_ORACLE = """
SELECT o_orderpriority,
       round(sum(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END), 2) AS total_f,
       round(sum(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END), 2) AS total_o,
       round(sum(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END), 2) AS total_p
FROM orders GROUP BY o_orderpriority
"""


# --- Q34: global multi-key sort (hash is order-insensitive; exercises the sort plan) -------------
def q34(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    return c.orderBy(
        F.col("c_mktsegment").asc_nulls_last(), F.col("c_acctbal").desc(), "c_custkey"
    ).select("c_custkey", "c_mktsegment", d2(F.col("c_acctbal")).alias("acctbal"))


Q34_ORACLE = """
SELECT c_custkey, c_mktsegment, round(c_acctbal, 2) AS acctbal FROM customer
"""


# --- Q35: top-k limit (TakeOrderedAndProject) ------------------------------------------------------
def q35(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", d2(F.col("o_totalprice")).alias("price"))
        .orderBy(F.desc("price"), "o_orderkey")
        .limit(20)
    )


Q35_ORACLE = """
SELECT o_orderkey, round(o_totalprice, 2) AS price FROM orders
ORDER BY price DESC, o_orderkey LIMIT 20
"""


# --- Q36: partition-local sort (no global shuffle) --------------------------------------------------
# sortWithinPartitions permutes rows but never changes the row SET, and
# the driver's value-hash is order-insensitive — so the oracle is the
# plain projection. (The no-global-shuffle plan shape is asserted in
# tests/test_scale_plans.py.)
def q36(spark, sf_dir):
    l = t(spark, sf_dir, "lineitem")
    return (
        l.repartition(8, "l_orderkey")
        .sortWithinPartitions("l_orderkey", "l_linenumber")
        .select("l_orderkey", "l_linenumber")
    )


Q36_ORACLE = """
SELECT l_orderkey, l_linenumber FROM lineitem
"""


# --- Q37: union all / union distinct ----------------------------------------------------------------
def q37(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = c.filter(F.col("c_acctbal") > 9000).select("c_custkey")
    return a.unionAll(b)


Q37_ORACLE = """
SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
UNION ALL
SELECT c_custkey FROM customer WHERE c_acctbal > 9000
"""


def q37_distinct(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    a = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    b = c.filter(F.col("c_acctbal") > 9000).select("c_custkey")
    return a.union(b).distinct()


Q37_DISTINCT_ORACLE = """
SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
UNION
SELECT c_custkey FROM customer WHERE c_acctbal > 9000
"""


# --- Q38: union by name with missing columns (spec schema merge, README.md:20-22) --------------------
def q38(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    a = c.filter(F.col("c_custkey") <= 100).select(
        "c_custkey", d2(F.col("c_acctbal")).alias("acctbal")
    )
    b = c.filter(F.col("c_custkey") > 100).select("c_custkey", "c_mktsegment")
    return a.unionByName(b, allowMissingColumns=True)


Q38_ORACLE = """
SELECT c_custkey, round(c_acctbal, 2) AS acctbal, NULL AS c_mktsegment
FROM customer WHERE c_custkey <= 100
UNION ALL BY NAME
SELECT c_custkey, NULL AS acctbal, c_mktsegment FROM customer WHERE c_custkey > 100
"""


# --- Q39: intersect -----------------------------------------------------------------------------------
def q39(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    building = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    ordering = o.select(F.col("o_custkey").alias("c_custkey"))
    return building.intersect(ordering)


Q39_ORACLE = """
SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
INTERSECT
SELECT o_custkey AS c_custkey FROM orders
"""


# --- Q40: except all ------------------------------------------------------------------------------------
def q40(spark, sf_dir):
    """EXCEPT ALL with real multiset semantics: every customer's order
    keys minus the 'F'-status subset — each surviving key keeps
    (total − F-count) occurrences, so per-occurrence removal is
    actually exercised. (The original customer-minus-orderers form ran
    vacuously at 0 rows: this SF's generator gives every customer at
    least one order.)"""
    o = t(spark, sf_dir, "orders")
    all_keys = o.select(F.col("o_custkey").alias("custkey"))
    fulfilled = o.filter(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("custkey")
    )
    return all_keys.exceptAll(fulfilled)


Q40_ORACLE = """
SELECT o_custkey AS custkey FROM orders
EXCEPT ALL
SELECT o_custkey AS custkey FROM orders WHERE o_orderstatus = 'F'
"""


QUERIES = [
    Q("q00_flagship_shipping_priority", flagship, FLAGSHIP_ORACLE),
    Q("q01_parquet_scan_pushdown", q01, Q01_ORACLE),
    Q("q02_schema_merged_scan", q02, Q02_ORACLE),
    Q("q03_ndjson_source", q03, Q03_ORACLE),
    Q("q04_csv_source", q04, Q04_ORACLE),
    Q("q05_parquet_sink_roundtrip", q05, Q05_ORACLE),
    Q("q06_partitioned_sink", q06, Q06_ORACLE),
    Q("q07_nested_projection", q07, Q07_ORACLE),
    Q("q08_filter_predicates", q08, Q08_ORACLE),
    Q("q09_in_between_like", q09, Q09_ORACLE),
    Q("q10_conditional_expr", q10, Q10_ORACLE),
    Q("q11_distinct", q11, Q11_ORACLE),
    Q("q12_join_inner_3way", q12, Q12_ORACLE),
    Q("q13_join_left_outer", q13, Q13_ORACLE),
    Q("q13b_join_full_outer", q13_full, Q13_FULL_ORACLE),
    Q("q14_join_semi_anti", q14, Q14_ORACLE),
    Q("q15_join_broadcast", q15, Q15_ORACLE),
    Q("q16_join_theta_range", q16, Q16_ORACLE),
    Q("q17_join_cross", q17, Q17_ORACLE),
    Q("q18_join_asof", q18, Q18_ORACLE),
    Q("q19_join_interval_overlap", q19, Q19_ORACLE),
    Q("q20_join_self", q20, Q20_ORACLE),
    Q("q21_agg_tpch_q1", q21, Q21_ORACLE),
    Q("q22_agg_distinct", q22, Q22_ORACLE),
    Q("q23_agg_approx_distinct", q23, Q23_ORACLE),
    Q("q24_agg_rollup_grouping", q24, Q24_ORACLE),
    Q("q25_agg_stats", q25, Q25_ORACLE),
    Q("q26_agg_median", q26, Q26_ORACLE),
    Q("q27_agg_minby_maxby_collect", q27, Q27_ORACLE),
    Q("q28_agg_global", q28, Q28_ORACLE),
    Q("q29_pivot", q29, Q29_ORACLE),
    Q("q34_sort_multikey", q34, Q34_ORACLE),
    Q("q35_limit_topk", q35, Q35_ORACLE),
    Q("q36_sort_within_partitions", q36, Q36_ORACLE),
    Q("q37_union_all", q37, Q37_ORACLE),
    Q("q37b_union_distinct", q37_distinct, Q37_DISTINCT_ORACLE),
    Q("q38_union_by_name", q38, Q38_ORACLE),
    Q("q39_intersect", q39, Q39_ORACLE),
    Q("q40_except_all", q40, Q40_ORACLE),
]


# --- Q75: SQL entry path — TPC-H Q5 (local supplier volume) -----------------------
TPCH_Q5_SQL = """
SELECT n_name, CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))), 2) AS DOUBLE) AS revenue
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey AND l_suppkey = s_suppkey
  AND c_nationkey = s_nationkey AND s_nationkey = n_nationkey
  AND n_regionkey = r_regionkey
  AND r_name = 'ASIA'
  AND o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1997-01-01'
GROUP BY n_name
"""


def q75(spark, sf_dir):
    """Same SQL text runs on Spark's parser/Catalyst and on the oracle —
    the engine's spark.sql(...) entry path (SURVEY.md §3 Path B)."""
    for name in ("customer", "orders", "lineitem", "supplier", "nation", "region"):
        t(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(TPCH_Q5_SQL)


# --- Q76: cube + grouping sets ------------------------------------------------------
def q76(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n"),
        d2(F.sum("o_totalprice")).alias("total"),
        F.grouping_id().cast("int").alias("gid"),
    )


Q76_ORACLE = """
SELECT o_orderstatus, o_orderpriority, count(*) AS n,
       round(sum(o_totalprice), 2) AS total,
       CAST(GROUPING(o_orderstatus, o_orderpriority) AS INT) AS gid
FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
"""


# --- Q77: ORC source/sink round-trip ---------------------------------------------------
def q77(spark, sf_dir):
    n = t(spark, sf_dir, "nation")
    base = scratch_dir("pofs_orc_")
    n.write.mode("overwrite").orc(base)
    return spark.read.orc(base)


Q77_ORACLE = "SELECT * FROM nation"


# --- Q78: salted join (skew mitigation; result identical to plain join) ------------------
def q78(spark, sf_dir):
    from parquet_on_fhir_spark.operators.skew import salted_join

    l = t(spark, sf_dir, "lineitem")
    p = t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    joined = salted_join(
        l.select(F.col("l_partkey").alias("p_partkey"), "l_quantity"), p, "p_partkey"
    )
    return joined.groupBy("p_brand").agg(
        F.count("*").alias("n"), d2(F.sum("l_quantity")).alias("total_qty")
    )


Q78_ORACLE = """
SELECT p_brand, count(*) AS n, round(sum(l_quantity), 2) AS total_qty
FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY p_brand
"""


# --- Q79: array construction — sequence / sorted collect equality -------------------------
def q79(spark, sf_dir):
    l = t(spark, sf_dir, "lineitem")
    return l.groupBy("l_orderkey").agg(
        F.count("*").cast("long").alias("n_lines"),
        (
            F.sort_array(F.collect_list("l_linenumber"))
            == F.sequence(F.lit(1), F.count("*").cast("int"))
        ).alias("contiguous"),
    )


Q79_ORACLE = """
SELECT l_orderkey, count(*) AS n_lines,
       list_sort(list(l_linenumber)) = range(1, CAST(count(*) AS INT) + 1) AS contiguous
FROM lineitem GROUP BY l_orderkey
"""

QUERIES.extend(
    [
        Q("q75_sql_tpch_q5", q75, TPCH_Q5_SQL),
        Q("q76_agg_cube", q76, Q76_ORACLE),
        Q("q77_orc_source_sink", q77, Q77_ORACLE),
        Q("q78_join_salted_skew", q78, Q78_ORACLE),
        Q("q79_array_sequence_collect", q79, Q79_ORACLE),
    ]
)


# --- Q80: unpivot / melt ---------------------------------------------------------------
def q80(spark, sf_dir):
    l = t(spark, sf_dir, "lineitem")
    wide = l.groupBy("l_returnflag").agg(
        d2(F.sum("l_extendedprice")).alias("price"),
        d2(F.sum("l_quantity")).alias("qty"),
        d2(F.sum("l_discount")).alias("disc"),
    )
    return wide.unpivot(
        ids=["l_returnflag"],
        values=["price", "qty", "disc"],
        variableColumnName="metric",
        valueColumnName="val",
    )


Q80_ORACLE = """
UNPIVOT (
  SELECT l_returnflag,
         round(sum(l_extendedprice), 2) AS price,
         round(sum(l_quantity), 2) AS qty,
         round(sum(l_discount), 2) AS disc
  FROM lineitem GROUP BY l_returnflag
) ON price, qty, disc INTO NAME metric VALUE val
"""


# --- Q81: scalar + correlated + IN subqueries --------------------------------------------
SUBQUERY_SQL = """
SELECT c_custkey, round(c_acctbal, 2) AS acctbal
FROM customer c
WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer i
                   WHERE i.c_mktsegment = c.c_mktsegment)
  AND c_custkey IN (SELECT o_custkey FROM orders WHERE o_totalprice > 400000)
"""


def q81(spark, sf_dir):
    """Correlated scalar + IN subqueries — Catalyst decorrelates these
    into joins (RewriteCorrelatedScalarSubquery, SURVEY.md §4)."""
    t(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(SUBQUERY_SQL)


QUERIES.extend(
    [
        Q("q80_unpivot", q80, Q80_ORACLE),
        Q("q81_subqueries", q81, SUBQUERY_SQL),
    ]
)


# --- Q82/Q83: two more TPC-H classics through the SQL entry path -------------------
TPCH_Q6_SQL = """
SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue
FROM lineitem
WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1997-01-01'
  AND l_discount BETWEEN 0.03 AND 0.07 AND l_quantity < 25
"""


def q82(spark, sf_dir):
    t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(TPCH_Q6_SQL)


TPCH_Q14_SQL = """
SELECT round(100.00 * sum(CASE WHEN p_type LIKE 'PROMO%'
                               THEN l_extendedprice * (1 - l_discount)
                               ELSE 0 END)
             / sum(l_extendedprice * (1 - l_discount)) + 1e-9, 4) AS promo_revenue
FROM lineitem, part
WHERE l_partkey = p_partkey
  AND l_shipdate >= DATE '1997-01-01' AND l_shipdate < DATE '1997-02-01'
"""


def q83(spark, sf_dir):
    t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    t(spark, sf_dir, "part").createOrReplaceTempView("part")
    return spark.sql(TPCH_Q14_SQL)


QUERIES.extend(
    [
        Q("q82_tpch_q6", q82, TPCH_Q6_SQL),
        Q("q83_tpch_q14", q83, TPCH_Q14_SQL),
    ]
)


# --- Q84: TPC-H Q10 (returned-item reporting; join×3 + top-k) ---------------------
TPCH_Q10_SQL = """
SELECT c_custkey, c_name,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))), 2) AS DOUBLE) AS revenue, n_name
FROM customer, orders, lineitem, nation
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1996-04-01'
  AND l_returnflag = 'R' AND c_nationkey = n_nationkey
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def q84(spark, sf_dir):
    for name in ("customer", "orders", "lineitem", "nation"):
        t(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(TPCH_Q10_SQL)


# --- Q85: TPC-H Q19-style (disjunctive brand/quantity predicates over a join) ------
TPCH_Q19_SQL = """
SELECT CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))), 2) AS DOUBLE) AS revenue
FROM lineitem, part
WHERE p_partkey = l_partkey
  AND ((p_brand = 'Brand#12' AND l_quantity BETWEEN 1 AND 11)
    OR (p_brand = 'Brand#23' AND l_quantity BETWEEN 10 AND 20)
    OR (p_brand = 'Brand#34' AND l_quantity BETWEEN 20 AND 30))
"""


def q85(spark, sf_dir):
    for name in ("lineitem", "part"):
        t(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(TPCH_Q19_SQL)


# --- Q89: TPC-H Q18 (large-volume orders: HAVING over a 1-per-order group, -------
# then 3-way join + top-k). The heavy-shuffle benchmark anchor: the
# lineitem groupBy(l_orderkey) is a full-table exchange on the finest
# key in the schema, and the IN-subquery join is a second one.
TPCH_Q18_SQL = """
SELECT c_name, c_custkey, o_orderkey,
       CAST(o_orderdate AS STRING) AS o_orderdate,
       CAST(round(o_totalprice, 2) AS DOUBLE) AS o_totalprice,
       CAST(sum(l_quantity) AS BIGINT) AS sum_qty
FROM customer, orders, lineitem
WHERE o_orderkey IN (
        SELECT l_orderkey FROM lineitem
        GROUP BY l_orderkey HAVING sum(l_quantity) > 200)
  AND c_custkey = o_custkey AND o_orderkey = l_orderkey
GROUP BY c_name, c_custkey, o_orderkey, o_orderdate, o_totalprice
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 100
"""


def q89(spark, sf_dir):
    for name in ("customer", "orders", "lineitem"):
        t(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(TPCH_Q18_SQL)


TPCH_Q18_ORACLE = TPCH_Q18_SQL.replace("AS STRING", "AS VARCHAR")


# --- Q90: x10 replicated heavy aggregate (scale probe as a first-class query) -------
# lineitem is replicated 10x JVM-side (explode of a literal sequence — a
# zero-shuffle flatMap) and re-aggregated: the bench entry that shows the
# agg pipeline's wall-clock growing sublinearly with input volume.
def q90(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    rep = li.withColumn("__rep", F.explode(F.sequence(F.lit(1), F.lit(10))))
    return (
        rep.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.count("*").alias("n"),
            d2(F.sum("l_quantity")).alias("sum_qty"),
            d2(F.sum("l_extendedprice")).alias("sum_price"),
        )
    )


Q90_ORACLE = """
SELECT l_returnflag, l_linestatus, count(*) AS n,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_price
FROM lineitem CROSS JOIN generate_series(1, 10)
GROUP BY l_returnflag, l_linestatus
"""


# --- Q92: TPC-H Q4-style (EXISTS decorrelation -> left-semi join) -----------------
# (adapted: testdata lineitem has no commit/receipt dates, so the
# correlated predicate is l_shipdate > o_orderdate)
TPCH_Q4_SQL = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders
WHERE o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1996-04-01'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q92(spark, sf_dir):
    """Correlated EXISTS — Catalyst rewrites to a left-semi hash join
    (RewritePredicateSubquery); no per-row subquery execution."""
    for name in ("orders", "lineitem"):
        t(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(TPCH_Q4_SQL)


# --- Q93: TPC-H Q22-style (NOT EXISTS + scalar subquery -> anti join) ---------------
# (adapted: no c_phone in testdata; nation-key subset replaces the
# phone-prefix cntrycode)
TPCH_Q22_SQL = """
SELECT c_nationkey, count(*) AS numcust,
       CAST(round(sum(c_acctbal), 2) AS DOUBLE) AS totacctbal
FROM customer c
WHERE c_nationkey IN (1, 2, 3, 10, 15)
  AND c_acctbal > (SELECT avg(c_acctbal) FROM customer
                   WHERE c_acctbal > 0.0 AND c_nationkey IN (1, 2, 3, 10, 15))
  AND NOT EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderdate >= DATE '2001-01-01')
GROUP BY c_nationkey
ORDER BY c_nationkey
"""


def q93(spark, sf_dir):
    """NOT EXISTS -> left-anti join; uncorrelated scalar avg -> one-row
    broadcast. The full TPC-H subquery triad with q81 (scalar+IN) and
    q92 (EXISTS). (Adapted predicate: 'no orders since 2001' — in this
    testdata every customer has orders, so the classic bare NOT EXISTS
    would be empty at every SF.)"""
    for name in ("customer", "orders"):
        t(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(TPCH_Q22_SQL)


# --- Q94: range-clustered write (data-skipping layout) -------------------------------
def q94(spark, sf_dir):
    """write_clustered round-trip: range-partition + sort on the
    clustering key before writing, so per-file min-max footers prune
    selective scans (tests/test_scale_plans.py asserts the disjoint
    ranges; here the row set round-trips exactly)."""
    from parquet_on_fhir_spark.operators.layout import write_clustered

    l = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_linenumber", "l_quantity")
    base = scratch_dir("pofs_layout_")
    write_clustered(l, base, ["l_orderkey"], n_files=8)
    back = spark.read.parquet(base)
    return back.filter(F.col("l_orderkey") < 1000)


Q94_ORACLE = """
SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_orderkey < 1000
"""


QUERIES.extend(
    [
        Q("q84_tpch_q10", q84, TPCH_Q10_SQL),
        Q("q85_tpch_q19", q85, TPCH_Q19_SQL),
        Q("q89_tpch_q18", q89, TPCH_Q18_ORACLE),
        Q("q90_scale10_agg", q90, Q90_ORACLE),
        Q("q92_tpch_q4_exists", q92, TPCH_Q4_SQL),
        Q("q93_tpch_q22_not_exists", q93, TPCH_Q22_SQL),
        Q("q94_clustered_write", q94, Q94_ORACLE),
    ]
)


# --- Q87: MERGE-style upsert (CDC emulation: anti-join + union) -----------------------
def q87(spark, sf_dir):
    from parquet_on_fhir_spark.operators.upsert import merge_upsert

    o = t(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey",
        F.col("o_orderstatus").alias("status"),
        d2(F.col("o_totalprice")).alias("price"),
    )
    updates = (
        o.filter(F.col("o_orderstatus") == "P")
        .select(
            "o_orderkey",
            F.lit("U").alias("status"),
            d2(F.col("o_totalprice") + 5.0).alias("price"),
        )
        .unionByName(
            o.filter(F.col("o_orderkey") < 100).select(
                (F.col("o_orderkey") + 1000000000).alias("o_orderkey"),
                F.lit("I").alias("status"),
                d2(F.col("o_totalprice")).alias("price"),
            )
        )
    )
    return merge_upsert(base, updates, ["o_orderkey"])


Q87_ORACLE = """
WITH base AS (
  SELECT o_orderkey, o_orderstatus AS status, round(o_totalprice, 2) AS price FROM orders
),
u AS (
  SELECT o_orderkey, 'U' AS status, round(o_totalprice + 5.0, 2) AS price
  FROM orders WHERE o_orderstatus = 'P'
  UNION ALL
  SELECT o_orderkey + 1000000000 AS o_orderkey, 'I' AS status, round(o_totalprice, 2) AS price
  FROM orders WHERE o_orderkey < 100
)
SELECT * FROM base WHERE o_orderkey NOT IN (SELECT o_orderkey FROM u)
UNION ALL
SELECT * FROM u
"""

QUERIES.append(Q("q87_merge_upsert", q87, Q87_ORACLE))


# ======================================================================
# Round 5: the remaining partsupp-free TPC-H queries (Q7, Q8, Q12, Q13,
# Q15, Q17, Q21).  Q2/Q9/Q11/Q16/Q20 need the PARTSUPP table, which the
# testdata schema does not ship — documented as N/A in COVERAGE.md.
# Q12/Q21 are adapted (no l_shipmode / l_commitdate / l_receiptdate in
# the trimmed schema); the operator shape (CASE-sum join, double
# EXISTS/NOT-EXISTS correlation) is preserved.
# ======================================================================


# --- Q100: TPC-H Q7 (volume shipping between two nations) -------------------------
# Scale shape: 4 equi-joins; nation (25 rows) broadcasts twice; the
# lineitem->orders->customer chain shuffles on orderkey then custkey;
# the disjunctive nation-pair predicate is applied post-broadcast-join
# so it never blocks pushdown of the l_shipdate range into the scan.
TPCH_Q7_SQL = """
SELECT supp_nation, cust_nation, l_year,
       CAST(round(sum(CAST(volume AS DECIMAL(38,6))), 2) AS DOUBLE) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(year(l_shipdate) AS INT) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM supplier, lineitem, orders, customer, nation n1, nation n2
  WHERE s_suppkey = l_suppkey AND o_orderkey = l_orderkey
    AND c_custkey = o_custkey AND s_nationkey = n1.n_nationkey
    AND c_nationkey = n2.n_nationkey
    AND ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
      OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
    AND l_shipdate BETWEEN DATE '1996-01-01' AND DATE '1997-12-31'
) shipping
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


def q100(spark, sf_dir):
    for name in ("supplier", "lineitem", "orders", "customer", "nation"):
        t(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(TPCH_Q7_SQL)


# --- Q101: TPC-H Q8 (national market share) ---------------------------------------
# Ratio-of-sums: numerator and denominator are summed EXACTLY in
# DECIMAL(38,6); only the final share divides as double (identical
# operands -> identical quotient in both engines; +1e-9 absorbs the
# round-half boundary).
TPCH_Q8_SQL = """
SELECT o_year,
       CAST(round(CAST(sum(CAST(CASE WHEN nation = 'NATION_1' THEN volume ELSE 0 END
                                AS DECIMAL(38,6))) AS DOUBLE)
                  / CAST(sum(CAST(volume AS DECIMAL(38,6))) AS DOUBLE)
                  + 1e-9, 4) AS DOUBLE) AS mkt_share
FROM (
  SELECT CAST(year(o_orderdate) AS INT) AS o_year,
         l_extendedprice * (1 - l_discount) AS volume,
         n2.n_name AS nation
  FROM part, supplier, lineitem, orders, customer, nation n1, nation n2, region
  WHERE p_partkey = l_partkey AND s_suppkey = l_suppkey
    AND l_orderkey = o_orderkey AND o_custkey = c_custkey
    AND c_nationkey = n1.n_nationkey AND n1.n_regionkey = r_regionkey
    AND r_name = 'AMERICA' AND s_nationkey = n2.n_nationkey
    AND o_orderdate BETWEEN DATE '1996-01-01' AND DATE '1997-12-31'
    AND p_type = 'ECONOMY'
) all_nations
GROUP BY o_year
ORDER BY o_year
"""


def q101(spark, sf_dir):
    for name in ("part", "supplier", "lineitem", "orders", "customer", "nation", "region"):
        t(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(TPCH_Q8_SQL)


# --- Q102: TPC-H Q12-style (late-shipment CASE-sum; adapted: the trimmed ----------
# schema has no l_shipmode/l_commitdate/l_receiptdate, so the grouping
# dimension is l_linestatus and "late" = shipped >60 days after order).
def q102(spark, sf_dir):
    o = t(spark, sf_dir, "orders")
    l = t(spark, sf_dir, "lineitem")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .filter(late)
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(urgent, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(~urgent, 1).otherwise(0)).cast("bigint").alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


TPCH_Q12_ORACLE = """
SELECT l_linestatus,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate > o_orderdate + INTERVAL 60 DAY
GROUP BY l_linestatus
ORDER BY l_linestatus
"""


# --- Q103: TPC-H Q13 (customer order-count distribution; left outer + ------------
# double aggregation).  Adapted filter: o_orderpriority <> '5-LOW'
# replaces the o_comment NOT LIKE (no comment column in testdata).
def q103(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "5-LOW")
    per_cust = (
        c.join(o, c["c_custkey"] == o["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


TPCH_Q13_ORACLE = """
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM (
  SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
  FROM customer LEFT JOIN orders
    ON c_custkey = o_custkey AND o_orderpriority <> '5-LOW'
  GROUP BY c_custkey
) c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


# --- Q104: TPC-H Q15 (top supplier by quarterly revenue; scalar-max ---------------
# subquery over a reused aggregate).  Revenue is rounded IN the CTE so
# the max-equality join compares exact 2-decimal values, not raw FP.
TPCH_Q15_SQL = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))), 2) AS DOUBLE) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= DATE '1996-01-01' AND l_shipdate < DATE '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier, revenue
WHERE s_suppkey = supplier_no
  AND total_revenue = (SELECT max(total_revenue) FROM revenue)
ORDER BY s_suppkey
"""


def q104(spark, sf_dir):
    """Catalyst plans the scalar max as a one-row subquery broadcast; the
    revenue aggregate shuffles once on l_suppkey (100 distinct keys at
    any SF — supplier cardinality, not lineitem's)."""
    for name in ("supplier", "lineitem"):
        t(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(TPCH_Q15_SQL)


# --- Q105: TPC-H Q17 (small-quantity revenue; correlated avg subquery -------------
# decorrelated by Catalyst into an aggregate + join).  l_quantity values
# are small integers stored as double, so avg() is exact in FP in both
# engines and the 0.2*avg threshold comparison is deterministic.
TPCH_Q17_SQL = """
SELECT CAST(round(CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) / 7.0 + 1e-9, 2) AS DOUBLE) AS avg_yearly
FROM lineitem, part
WHERE p_partkey = l_partkey
  AND p_brand = 'Brand#13' AND p_type = 'ECONOMY'
  AND l_quantity < (SELECT 0.2 * avg(l_quantity) FROM lineitem l2
                    WHERE l2.l_partkey = p_partkey)
"""


def q105(spark, sf_dir):
    for name in ("lineitem", "part"):
        t(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(TPCH_Q17_SQL)


# --- Q106: TPC-H Q21-style (suppliers who shipped last; adapted: no ---------------
# commit/receipt dates, so "kept waiting" = this supplier's line is the
# strictly-latest ship in a multi-supplier finished order).  The double
# correlated EXISTS / NOT-EXISTS on the same table is the operator under
# test; Catalyst turns both into semi/anti joins on l_orderkey.
TPCH_Q21_SQL = """
SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
FROM supplier, lineitem l1, orders, nation
WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
  AND o_orderstatus = 'F' AND s_nationkey = n_nationkey
  AND n_name IN ('NATION_1', 'NATION_3', 'NATION_5')
  AND EXISTS (SELECT 1 FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT 1 FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > l1.l_shipdate)
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 20
"""


def q106(spark, sf_dir):
    for name in ("supplier", "lineitem", "orders", "nation"):
        t(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(TPCH_Q21_SQL)


QUERIES.extend(
    [
        Q("q100_tpch_q7_volume_shipping", q100, TPCH_Q7_SQL),
        Q("q101_tpch_q8_market_share", q101, TPCH_Q8_SQL),
        Q("q102_tpch_q12_late_lines", q102, TPCH_Q12_ORACLE),
        Q("q103_tpch_q13_custdist", q103, TPCH_Q13_ORACLE),
        Q("q104_tpch_q15_top_supplier", q104, TPCH_Q15_SQL),
        Q("q105_tpch_q17_small_qty", q105, TPCH_Q17_SQL),
        Q("q106_tpch_q21_waiting_supplier", q106, TPCH_Q21_SQL),
    ]
)



# --- Q117: multi-resolution rollup chain (continuous-aggregate pattern) -----------
def q117(spark, sf_dir):
    """1h → 6h → 1d rollups where each level RE-AGGREGATES the previous
    one (sums of sums — associative, exact), never rescanning the base
    table: the materialized-rollup maintenance pattern (TimescaleDB-style
    continuous aggregates / Druid rollup).  At 100 TB the 1h level is
    ~5 orders of magnitude smaller than events, so the 6h/1d levels are
    near-free; the oracle aggregates the base table directly at 1d —
    equality IS the test that the chain loses nothing."""
    e = t(spark, sf_dir, "events")
    h1 = e.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("h"), "event_type"
    ).agg(F.count("*").alias("n"), F.sum("value").alias("sv"))
    h6 = h1.groupBy(
        F.timestamp_seconds(
            F.floor(F.unix_timestamp("h") / 21600) * 21600
        ).alias("h6"),
        "event_type",
    ).agg(F.sum("n").alias("n"), F.sum("sv").alias("sv"))
    d1 = h6.groupBy(
        F.date_trunc("day", F.col("h6")).alias("day"), "event_type"
    ).agg(F.sum("n").alias("n"), F.sum("sv").alias("sv"))
    return d1.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "event_type",
        F.col("n").cast("bigint").alias("n"),
        F.round(F.col("sv") + F.lit(1e-9), 2).alias("total_value"),
        F.round(F.col("sv") / F.col("n") + F.lit(1e-9), 4).alias("avg_value"),
    )


Q117_ORACLE = """
SELECT strftime(time_bucket(INTERVAL '1 day', ts), '%Y-%m-%d') AS day,
       event_type,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(value) + 1e-9, 2) AS total_value,
       round(sum(value) / count(*) + 1e-9, 4) AS avg_value
FROM events
GROUP BY 1, 2
"""


QUERIES.append(Q("q117_rollup_chain", q117, Q117_ORACLE))


# --- Q118: Z-ordered write (two-column data-skipping layout) ----------------------
def q118(spark, sf_dir):
    """write_zordered round-trip: rows land in Morton-range tiles so
    min-max footers prune on EITHER clustered column
    (tests/test_scale_plans.py asserts tile disjointness); the Z-key
    arithmetic itself is oracle-checked bit-for-bit and the filtered
    round-trip row set is exact."""
    from parquet_on_fhir_spark.operators.layout import write_zordered, zorder_key

    l = t(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey", "l_quantity")
    base = scratch_dir("pofs_zorder_")
    write_zordered(l, base, "l_orderkey", "l_partkey", bits=21, n_files=8)
    back = spark.read.parquet(base)
    return back.filter(
        (F.col("l_orderkey") < 500) | (F.col("l_partkey") < 50)
    ).withColumn("zkey", zorder_key("l_orderkey", "l_partkey", bits=21))


Q118_ORACLE = """
SELECT l_orderkey, l_partkey, l_quantity,
       CAST(list_sum(list_transform(generate_series(0, 20),
         i -> (((l_orderkey >> i) & 1) << (i * 2))
            + (((l_partkey >> i) & 1) << (i * 2 + 1)))) AS BIGINT) AS zkey
FROM lineitem
WHERE l_orderkey < 500 OR l_partkey < 50
"""


QUERIES.append(Q("q118_zorder_write", q118, Q118_ORACLE))


# --- Q124: edit-distance fuzzy join (FastSS deletion-neighborhood blocking) ----------
def q124(spark, sf_dir):
    """Customer-name self-link at edit distance 1 (sequential TPC-H
    names differ by single digits — dense true matches). Deletion-
    variant equi-join candidates, exact levenshtein verification;
    never the O(n^2) cross join (operators/joins.py::fuzzy_join)."""
    from parquet_on_fhir_spark.operators.joins import fuzzy_join

    c = t(spark, sf_dir, "customer").select("c_custkey", "c_name").filter(
        F.col("c_custkey") < 300
    )
    out = fuzzy_join(
        c, c, "c_name", "c_name", max_dist=1,
        left_id="c_custkey", right_id="c_custkey",
    )
    return out.filter(F.col("c_custkey_l") < F.col("c_custkey_r")).select(
        "c_custkey_l", "c_custkey_r", "dist"
    )


# The oracle verifies the pair SET with the exact quadratic formulation
# the operator exists to avoid — sound blocking means identical output.
Q124_ORACLE = """
SELECT a.c_custkey AS c_custkey_l, b.c_custkey AS c_custkey_r,
       levenshtein(a.c_name, b.c_name) AS dist
FROM customer a JOIN customer b
  ON a.c_custkey < b.c_custkey
WHERE a.c_custkey < 300 AND b.c_custkey < 300
  AND abs(len(a.c_name) - len(b.c_name)) <= 1
  AND levenshtein(a.c_name, b.c_name) <= 1
"""


QUERIES.append(Q("q124_fuzzy_join", q124, Q124_ORACLE))


# --- Q125: time-series resample + locf gap fill (hypertable surface) -----------------
def q125(spark, sf_dir):
    """Events resampled to 6-hour buckets per event_type, then
    densified over each type's [first, last] bucket range with
    last-observation-carried-forward (operators/timeseries.py).
    Dense grid is generated distributed (sequence+explode per key);
    carry-forward is one ordered window per key."""
    from parquet_on_fhir_spark.operators.timeseries import (
        gap_fill_locf,
        resample,
    )

    e = t(spark, sf_dir, "events").filter(F.col("value") > 4.9)
    r = resample(
        e, "ts", "6 hours", ["event_type"],
        {"n": F.count("*"), "avg_value": d4(F.avg("value"))},
    )
    out = gap_fill_locf(r, ["event_type"], ["n", "avg_value"], "6 hours")
    return out.select(
        "event_type",
        ts_str("bucket_start").alias("bucket_start"),
        "n",
        "avg_value",
        "is_gap",
    )


Q125_ORACLE = """
WITH r AS (
  SELECT event_type, time_bucket(INTERVAL '6 hours', ts) AS b,
         count(*) AS n, round(avg(value) + 1e-9, 4) AS avg_value
  FROM events WHERE value > 4.9 GROUP BY 1, 2
),
bounds AS (SELECT event_type, min(b) AS lo, max(b) AS hi FROM r GROUP BY 1),
grid AS (
  SELECT event_type, unnest(generate_series(lo, hi, INTERVAL '6 hours')) AS b
  FROM bounds
),
j AS (
  SELECT g.event_type, g.b, r.n, r.avg_value, r.b IS NOT NULL AS obs
  FROM grid g LEFT JOIN r ON g.event_type = r.event_type AND g.b = r.b
)
SELECT event_type,
       strftime(b, '%Y-%m-%d %H:%M:%S') AS bucket_start,
       last_value(n IGNORE NULLS)
         OVER (PARTITION BY event_type ORDER BY b
               ROWS UNBOUNDED PRECEDING) AS n,
       last_value(avg_value IGNORE NULLS)
         OVER (PARTITION BY event_type ORDER BY b
               ROWS UNBOUNDED PRECEDING) AS avg_value,
       NOT obs AS is_gap
FROM j
"""


QUERIES.append(Q("q125_resample_gapfill", q125, Q125_ORACLE))


# --- Q126-Q130: the remaining TPC-H shapes, adapted to the trimmed schema ------------
# The testdata has no partsupp table, so Q2/Q9/Q11/Q16/Q20 are adapted
# (documented per query) with lineitem as the part-supplier relationship
# and cost proxies where ps_supplycost/ps_availqty are unavailable. The
# QUERY SHAPES — correlated scalar subquery (Q2), multi-join profit agg
# (Q9), HAVING against a global scalar (Q11), count-distinct + NOT IN
# (Q16), nested IN with a correlated HAVING threshold (Q20) — are the
# point; the same SQL text runs on Spark temp views and as the oracle.

# Q2: min-cost supplier per part. Adaptation: unit cost = min observed
# lineitem unit price per (part, supplier) in place of ps_supplycost.
TPCH_Q2_SQL = """
WITH cost AS (
  SELECT l_partkey AS ck_part, l_suppkey AS ck_supp,
         min(l_extendedprice / l_quantity) AS unit_cost
  FROM lineitem GROUP BY l_partkey, l_suppkey
)
SELECT s_acctbal, s_name, n_name, p_partkey, p_type,
       CAST(round(unit_cost + 1e-9, 4) AS DOUBLE) AS min_cost
FROM part, supplier, nation, region, cost
WHERE p_partkey = ck_part AND s_suppkey = ck_supp
  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = 'EUROPE' AND p_type = 'SMALL' AND p_size <= 10
  AND unit_cost = (
    SELECT min(c2.unit_cost)
    FROM cost c2, supplier s2, nation n2, region r2
    WHERE c2.ck_part = p_partkey AND c2.ck_supp = s2.s_suppkey
      AND s2.s_nationkey = n2.n_nationkey AND n2.n_regionkey = r2.r_regionkey
      AND r2.r_name = 'EUROPE')
ORDER BY s_acctbal DESC, n_name, s_name, p_partkey
LIMIT 100
"""


def q126(spark, sf_dir):
    for name in ("part", "supplier", "nation", "region", "lineitem"):
        t(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(TPCH_Q2_SQL)


QUERIES.append(Q("q126_tpch_q2_min_cost_supplier", q126, TPCH_Q2_SQL))


# Q9: profit by nation and year. Adaptation: supply cost proxy =
# 0.6 * p_retailprice (ps_supplycost unavailable).
TPCH_Q9_SQL = """
SELECT nation, o_year,
       CAST(round(CAST(profit AS DOUBLE) + 1e-9, 2) AS DOUBLE) AS sum_profit
FROM (
  SELECT n_name AS nation, CAST(year(o_orderdate) AS INT) AS o_year,
         sum(CAST(l_extendedprice * (1 - l_discount)
                  - 0.6 * p_retailprice * l_quantity AS DECIMAL(38,6))) AS profit
  FROM part, supplier, lineitem, orders, nation
  WHERE s_suppkey = l_suppkey AND p_partkey = l_partkey
    AND o_orderkey = l_orderkey AND s_nationkey = n_nationkey
    AND p_name LIKE '%gear%'
  GROUP BY n_name, CAST(year(o_orderdate) AS INT)
) profit_by
ORDER BY nation, o_year DESC
"""


def q127(spark, sf_dir):
    for name in ("part", "supplier", "lineitem", "orders", "nation"):
        t(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(TPCH_Q9_SQL)


QUERIES.append(Q("q127_tpch_q9_profit", q127, TPCH_Q9_SQL))


# Q11: important parts by value. Adaptation: part value = lineitem
# revenue via suppliers of three nations (ps_availqty*ps_supplycost
# unavailable); the Q11 shape is HAVING against a global scalar.
TPCH_Q11_SQL = """
SELECT l_partkey AS p_partkey,
       CAST(round(CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE)
                  + 1e-9, 2) AS DOUBLE) AS part_value
FROM lineitem, supplier, nation
WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
  AND n_name IN ('NATION_1', 'NATION_2', 'NATION_3')
GROUP BY l_partkey
HAVING sum(CAST(l_extendedprice AS DECIMAL(38,6))) > (
  SELECT sum(CAST(l_extendedprice AS DECIMAL(38,6))) * 0.0008
  FROM lineitem, supplier, nation
  WHERE l_suppkey = s_suppkey AND s_nationkey = n_nationkey
    AND n_name IN ('NATION_1', 'NATION_2', 'NATION_3'))
ORDER BY part_value DESC, p_partkey
"""


def q128(spark, sf_dir):
    for name in ("lineitem", "supplier", "nation"):
        t(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(TPCH_Q11_SQL)


QUERIES.append(Q("q128_tpch_q11_important_parts", q128, TPCH_Q11_SQL))


# Q16: supplier-relationship count per part group. Adaptations:
# lineitem as the part-supplier relationship; the excluded-supplier
# subquery keys on negative account balance (no s_comment).
TPCH_Q16_SQL = """
SELECT p_brand, p_type, p_size, count(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem, part
WHERE p_partkey = l_partkey
  AND p_brand <> 'Brand#2' AND p_size IN (1, 2, 3, 4, 5, 6, 7, 8)
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p_brand, p_type, p_size
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
"""


def q129(spark, sf_dir):
    for name in ("lineitem", "part", "supplier"):
        t(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(TPCH_Q16_SQL)


QUERIES.append(Q("q129_tpch_q16_supplier_cnt", q129, TPCH_Q16_SQL))


# Q20: suppliers with excess shipped volume of a part family in a
# year. Adaptation: shipped lineitem quantity stands in for the
# ps_availqty half-stock comparison; the nested-IN + correlated
# HAVING threshold shape is preserved.
TPCH_Q20_SQL = """
SELECT s_name, s_acctbal
FROM supplier, nation
WHERE s_suppkey IN (
    SELECT l_suppkey FROM lineitem
    WHERE l_partkey IN (SELECT p_partkey FROM part WHERE p_name LIKE 'small%')
      AND l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY l_suppkey
    HAVING sum(l_quantity) > 100)
  AND s_nationkey = n_nationkey
  AND n_name IN ('NATION_1', 'NATION_2', 'NATION_3', 'NATION_4')
ORDER BY s_name
"""


def q130(spark, sf_dir):
    for name in ("supplier", "nation", "lineitem", "part"):
        t(spark, sf_dir, name).createOrReplaceTempView(name)
    return spark.sql(TPCH_Q20_SQL)


QUERIES.append(Q("q130_tpch_q20_excess_shipments", q130, TPCH_Q20_SQL))


# --- Q132: linear-interpolation gap fill (hypertable interpolate()) ------------------
def q132(spark, sf_dir):
    """Same dense grid as q125 but interior gaps fill by linear
    interpolation between bracketing observations
    (operators/timeseries.py::gap_fill_interpolate)."""
    from parquet_on_fhir_spark.operators.timeseries import (
        gap_fill_interpolate,
        resample,
    )

    e = t(spark, sf_dir, "events").filter(F.col("value") > 4.9)
    r = resample(
        e, "ts", "6 hours", ["event_type"],
        {"avg_value": F.avg("value")},
    )
    out = gap_fill_interpolate(r, ["event_type"], ["avg_value"], "6 hours")
    return out.select(
        "event_type",
        ts_str("bucket_start").alias("bucket_start"),
        d4(F.col("avg_value")).alias("avg_value"),
        "is_gap",
    )


Q132_ORACLE = """
WITH r AS (
  SELECT event_type, time_bucket(INTERVAL '6 hours', ts) AS b,
         avg(value) AS avg_value
  FROM events WHERE value > 4.9 GROUP BY 1, 2
),
bounds AS (SELECT event_type, min(b) AS lo, max(b) AS hi FROM r GROUP BY 1),
grid AS (
  SELECT event_type, unnest(generate_series(lo, hi, INTERVAL '6 hours')) AS b
  FROM bounds
),
j AS (
  SELECT g.event_type, g.b, r.avg_value, r.b IS NOT NULL AS obs
  FROM grid g LEFT JOIN r ON g.event_type = r.event_type AND g.b = r.b
),
w AS (
  SELECT event_type, b, avg_value, obs,
         last_value(CASE WHEN obs THEN epoch(b) END IGNORE NULLS)
           OVER (PARTITION BY event_type ORDER BY b
                 ROWS UNBOUNDED PRECEDING) AS prev_ts,
         first_value(CASE WHEN obs THEN epoch(b) END IGNORE NULLS)
           OVER (PARTITION BY event_type ORDER BY b
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_ts,
         last_value(CASE WHEN obs THEN avg_value END IGNORE NULLS)
           OVER (PARTITION BY event_type ORDER BY b
                 ROWS UNBOUNDED PRECEDING) AS prev_v,
         first_value(CASE WHEN obs THEN avg_value END IGNORE NULLS)
           OVER (PARTITION BY event_type ORDER BY b
                 ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_v
  FROM j
)
SELECT event_type,
       strftime(b, '%Y-%m-%d %H:%M:%S') AS bucket_start,
       round(COALESCE(avg_value,
                      prev_v + (next_v - prev_v) *
                        (CASE WHEN next_ts - prev_ts > 0
                              THEN (epoch(b) - prev_ts) / (next_ts - prev_ts)
                              ELSE 0 END),
                      prev_v, next_v) + 1e-9, 4) AS avg_value,
       NOT obs AS is_gap
FROM w
"""


QUERIES.append(Q("q132_resample_interpolate", q132, Q132_ORACLE))


# --- Q136: trailing z-score anomaly detection ----------------------------------------
def q136(spark, sf_dir):
    """Per-user trailing z-score over event values
    (operators/timeseries.py::detect_anomalies). The window orders by
    a tie-broken composite (ts, event_id) so trailing stats are
    deterministic under equal timestamps."""
    from parquet_on_fhir_spark.operators.timeseries import detect_anomalies

    e = t(spark, sf_dir, "events").withColumn(
        "__ord", F.struct(F.col("ts"), F.col("event_id"))
    )
    out = detect_anomalies(
        e, "__ord", "value", ["user_id"], lookback=10, z_threshold=2.0
    )
    return out.filter(F.col("z_score").isNotNull()).select(
        "event_id",
        "user_id",
        d4(F.col("z_score")).alias("z_score"),
        "is_anomaly",
    )


Q136_ORACLE = """
WITH w AS (
  SELECT event_id, user_id, value,
         avg(value) OVER win AS m,
         stddev_samp(value) OVER win AS s,
         count(value) OVER win AS n
  FROM events
  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 10 PRECEDING AND 1 PRECEDING)
)
SELECT event_id, user_id,
       round((value - m) / s + 1e-9, 4) AS z_score,
       abs((value - m) / s) > 2.0 AS is_anomaly
FROM w
WHERE n >= 5 AND s > 0
"""


QUERIES.append(Q("q136_anomaly_detection", q136, Q136_ORACLE))


# --- Q137: event sessionization (labelling, not aggregation) -------------------------
def q137(spark, sf_dir):
    """Label every event with its 30-minute-gap session
    (operators/timeseries.py::sessionize); session_id = epoch of the
    session's first event, identical to session_window.start."""
    from parquet_on_fhir_spark.operators.timeseries import sessionize

    e = t(spark, sf_dir, "events")
    out = sessionize(e, "ts", ["user_id"], gap="30 minutes", tie_cols=["event_id"])
    return out.select("event_id", "user_id", "session_id", "session_seq")


Q137_ORACLE = """
WITH l AS (
  SELECT event_id, user_id, ts, epoch_us(ts) AS e,
         lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_e
  FROM events
),
m AS (
  SELECT *, CASE WHEN prev_e IS NULL OR e - prev_e > 1800000000
                 THEN 1 ELSE 0 END AS ns
  FROM l
),
s AS (
  SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS sess_n
  FROM m
)
SELECT event_id, user_id,
       min(e) OVER (PARTITION BY user_id, sess_n) AS session_id,
       row_number() OVER (PARTITION BY user_id, sess_n
                          ORDER BY ts, event_id) AS session_seq
FROM s
"""


QUERIES.append(Q("q137_sessionize", q137, Q137_ORACLE))


# --- Q138: fixed-iteration PageRank (second graph fixpoint) --------------------------
def q138(spark, sf_dir):
    """PageRank over a deterministic order->part graph derived from
    lineitem (operators/graph.py::pagerank), 5 power iterations with
    dangling-mass redistribution. The fixed iteration count makes the
    result a pure function of the graph, so the oracle unrolls the same
    5 iterations as chained CTEs (recursive CTEs cannot aggregate over
    the recursive reference)."""
    from parquet_on_fhir_spark.operators.graph import pagerank

    li = t(spark, sf_dir, "lineitem")
    edges = li.select(
        (F.col("l_orderkey") % 500).alias("src"),
        (F.col("l_partkey") % 500).alias("dst"),
    )
    out = pagerank(edges, iterations=5, damping=0.85)
    return out.select("node", d4(F.col("rank") * 1000).alias("rank_k"))


def _pagerank_oracle(
    iters: int = 5, d: float = 0.85, edge_cte: str | None = None
) -> str:
    """Unrolled fixed-iteration PageRank as chained CTEs (recursive
    CTEs cannot aggregate over the recursive reference). ``edge_cte``
    parameterizes the edge set — ``e`` must expose (u, v); q330 reuses
    the chain over the crawl-link host graph."""
    e = edge_cte or (
        "e AS (SELECT l_orderkey % 500 AS u, l_partkey % 500 AS v "
        "FROM lineitem)"
    )
    parts = [
        f"WITH {e}",
        "nodes AS (SELECT DISTINCT u FROM (SELECT u FROM e UNION ALL SELECT v FROM e))",
        "nn AS (SELECT count(*) AS n FROM nodes)",
        "deg AS (SELECT u, count(*) AS dd FROM e GROUP BY u)",
        "r0 AS (SELECT nodes.u AS node, 1.0 / nn.n AS rank FROM nodes, nn)",
    ]
    for k in range(1, iters + 1):
        p = k - 1
        parts.append(
            f"dang{k} AS (SELECT COALESCE(sum(r.rank), 0) AS dm "
            f"FROM r{p} r LEFT JOIN deg ON r.node = deg.u WHERE deg.u IS NULL)"
        )
        parts.append(
            f"contrib{k} AS (SELECT e.v AS node, sum(r.rank / deg.dd) AS cin "
            f"FROM e JOIN r{p} r ON e.u = r.node JOIN deg ON e.u = deg.u "
            f"GROUP BY e.v)"
        )
        parts.append(
            f"r{k} AS (SELECT nodes.u AS node, "
            f"(1 - {d}) / nn.n + {d} * dang{k}.dm / nn.n "
            f"+ {d} * COALESCE(contrib{k}.cin, 0) AS rank "
            f"FROM nodes CROSS JOIN nn CROSS JOIN dang{k} "
            f"LEFT JOIN contrib{k} ON nodes.u = contrib{k}.node)"
        )
    body = ",\n".join(parts)
    return (
        f"{body}\n"
        f"SELECT node, round(rank * 1000 + 1e-9, 4) AS rank_k FROM r{iters}"
    )


QUERIES.append(Q("q138_pagerank", q138, _pagerank_oracle()))


# --- Q140: EWMA smoothing (truncated-window form) ------------------------------------
def q140(spark, sf_dir):
    """Per-user EWMA over event values, tie-broken ordering
    (operators/timeseries.py::ewma) — windowed collect_list + one
    aggregate HOF, no UDF."""
    from parquet_on_fhir_spark.operators.timeseries import ewma

    e = t(spark, sf_dir, "events").withColumn(
        "__ord", F.struct(F.col("ts"), F.col("event_id"))
    )
    out = ewma(e, "__ord", "value", ["user_id"], alpha=0.3, lookback=20)
    return out.select("event_id", "user_id", d4(F.col("ewma")).alias("ewma"))


Q140_ORACLE = """
WITH l AS (
  SELECT event_id, user_id,
         list(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS BETWEEN 20 PRECEDING AND CURRENT ROW) AS trail
  FROM events
)
SELECT event_id, user_id,
       round(
         list_sum(list_transform(range(1, len(trail) + 1),
                  i -> trail[i] * pow(0.7, len(trail) - i)))
         / list_sum(list_transform(range(1, len(trail) + 1),
                  i -> pow(0.7, len(trail) - i)))
         + 1e-9, 4) AS ewma
FROM l
"""


QUERIES.append(Q("q140_ewma", q140, Q140_ORACLE))


# --- Q141: snapshot diff (row-level CDC audit) ---------------------------------------
def q141(spark, sf_dir):
    """Diff two deterministic snapshots of customer: rows dropped,
    added, and mutated between them (operators/layout.py::
    snapshot_diff) — (id, hash) pairs meet at one full outer join."""
    from parquet_on_fhir_spark.operators.layout import snapshot_diff

    c = t(spark, sf_dir, "customer")
    old = c.filter(F.col("c_custkey") % 10 != 0)  # "removed" rows are added back in new
    new = c.filter(F.col("c_custkey") % 7 != 0).withColumn(
        "c_acctbal",
        F.when(F.col("c_custkey") % 3 == 0, F.col("c_acctbal") + 1).otherwise(
            F.col("c_acctbal")
        ),
    )
    return snapshot_diff(old, new, ["c_custkey"])


Q141_ORACLE = """
WITH o AS (SELECT * FROM customer WHERE c_custkey % 10 <> 0),
n AS (
  SELECT c_custkey, c_name, c_nationkey,
         CASE WHEN c_custkey % 3 = 0 THEN c_acctbal + 1 ELSE c_acctbal END
           AS c_acctbal,
         c_mktsegment
  FROM customer WHERE c_custkey % 7 <> 0
)
SELECT COALESCE(o.c_custkey, n.c_custkey) AS c_custkey,
       CASE WHEN o.c_custkey IS NULL THEN 'added'
            WHEN n.c_custkey IS NULL THEN 'removed'
            WHEN o.c_name <> n.c_name OR o.c_nationkey <> n.c_nationkey
                 OR o.c_acctbal <> n.c_acctbal
                 OR o.c_mktsegment <> n.c_mktsegment THEN 'changed'
            ELSE 'unchanged' END AS change
FROM o FULL OUTER JOIN n USING (c_custkey)
"""


QUERIES.append(Q("q141_snapshot_diff", q141, Q141_ORACLE))


# --- Q142: shuffle-key skew diagnostic -----------------------------------------------
def q142(spark, sf_dir):
    """Top-10 heaviest keys for the columns the suite shuffles on most
    (operators/skew.py::skew_report) — one pass however many columns
    are probed."""
    from parquet_on_fhir_spark.operators.skew import skew_report

    li = t(spark, sf_dir, "lineitem")
    out = skew_report(li, ["l_orderkey", "l_partkey", "l_returnflag"], k=10)
    return out.select(
        "column", "key_value", "n_rows", d4(F.col("share")).alias("share"), "rank"
    )


Q142_ORACLE = """
WITH total AS (SELECT count(*) AS n FROM lineitem),
e AS (
  SELECT 'l_orderkey' AS "column", CAST(l_orderkey AS VARCHAR) AS key_value
  FROM lineitem
  UNION ALL
  SELECT 'l_partkey', CAST(l_partkey AS VARCHAR) FROM lineitem
  UNION ALL
  SELECT 'l_returnflag', l_returnflag FROM lineitem
),
c AS (SELECT "column", key_value, count(*) AS n_rows FROM e GROUP BY 1, 2),
r AS (
  SELECT *, row_number() OVER (PARTITION BY "column"
              ORDER BY n_rows DESC, key_value ASC NULLS LAST) AS rank
  FROM c
)
SELECT "column", key_value, n_rows,
       round(n_rows / CAST(total.n AS DOUBLE) + 1e-9, 4) AS share, rank
FROM r, total WHERE rank <= 10
"""


QUERIES.append(Q("q142_skew_report", q142, Q142_ORACLE))


# --- Q149: TPC-H Q5 (local supplier volume), DataFrame-API form -------------------
# q75 runs the same query through spark.sql (SURVEY.md §3 Path B); this
# is the Path-A twin — the full 6-table join expressed declaratively
# with an explicit broadcast hint, verifying both entry paths produce
# the same result.  Scale shape: region (5 rows) and nation (25)
# broadcast into a 30-row asia_nations dim; the orderdate range filter
# pushes into the orders scan; lineitem→orders shuffles on orderkey,
# then →customer on custkey; the supplier join carries the Q5 twist —
# the equi-key is (l_suppkey, c_nationkey=s_nationkey), so the "local"
# constraint rides the join condition instead of a post-filter, and
# Catalyst prunes non-local rows during the hash probe.  No hint on the
# supplier side: at bench SF AQE picks broadcast; at 100 TB (where
# supplier is ~10^9 rows) it degrades gracefully to a shuffle join.
def q149(spark, sf_dir):
    region = t(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    nation = t(spark, sf_dir, "nation")
    asia_nations = nation.join(
        F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"]
    ).select("n_nationkey", "n_name")
    orders = t(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("date"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("date"))
    )
    li = t(spark, sf_dir, "lineitem")
    cust = t(spark, sf_dir, "customer")
    supp = t(spark, sf_dir, "supplier")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, F.col("o_custkey") == cust["c_custkey"])
        .join(
            supp,
            (F.col("l_suppkey") == supp["s_suppkey"])
            & (cust["c_nationkey"] == supp["s_nationkey"]),
        )
        .join(F.broadcast(asia_nations), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            d2(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(38,6)"
                    )
                )
            )
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("n_name"))
    )


TPCH_Q5_DF_ORACLE = """
SELECT n_name,
       CAST(round(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))), 2) AS DOUBLE) AS revenue
FROM customer, orders, lineitem, supplier, nation, region
WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
  AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
  AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
  AND r_name = 'ASIA'
  AND o_orderdate >= DATE '1996-01-01' AND o_orderdate < DATE '1997-01-01'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


QUERIES.append(Q("q149_tpch_q5_local_supplier", q149, TPCH_Q5_DF_ORACLE))


# --- Q150: per-node triangle counts (degree-oriented wedge join) -------------------
def q150(spark, sf_dir):
    """Triangle counting over the q138 graph (operators/graph.py::
    triangle_count, Suri-Vassilvitskii degree orientation). The oracle
    restates it id-oriented: with every edge stored a<b, the triangle
    (a,b,c), a<b<c joins as (a,b)+(b,c)+(a,c) — orientation changes
    WHICH vertex finds each triangle, never the per-node counts."""
    from parquet_on_fhir_spark.operators.graph import triangle_count

    li = t(spark, sf_dir, "lineitem")
    edges = li.select(
        (F.col("l_orderkey") % 500).alias("src"),
        (F.col("l_partkey") % 500).alias("dst"),
    )
    return triangle_count(edges)


Q150_ORACLE = """
WITH e AS (
  SELECT DISTINCT least(l_orderkey % 500, l_partkey % 500) AS a,
                  greatest(l_orderkey % 500, l_partkey % 500) AS b
  FROM lineitem
  WHERE (l_orderkey % 500) <> (l_partkey % 500)
),
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM e e1
  JOIN e e2 ON e2.a = e1.b
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
)
SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
FROM (SELECT x AS node FROM tri
      UNION ALL SELECT y FROM tri
      UNION ALL SELECT z FROM tri)
GROUP BY node
"""


QUERIES.append(Q("q150_triangle_count", q150, Q150_ORACLE))


# --- Q151: SCD type-2 dimension build from a change log ----------------------------
def q151(spark, sf_dir):
    """events as a change log: per user, each run of equal event_type
    collapses to one version row with a [valid_from, valid_to) interval
    (operators/timeseries.py::scd2 — lag-flag + filter + lead, one
    shuffle). Open versions have NULL valid_to / is_current=true."""
    from parquet_on_fhir_spark.operators.timeseries import scd2

    e = t(spark, sf_dir, "events")
    out = scd2(
        e, ["user_id"], "ts", ["event_type"], tie_cols=["event_id"]
    )
    return out.select(
        "user_id",
        "event_type",
        ts_str(F.col("valid_from"), EVENT_TS_SPARK).alias("valid_from"),
        ts_str(F.col("valid_to"), EVENT_TS_SPARK).alias("valid_to"),
        "is_current",
    )


Q151_ORACLE = f"""
WITH o AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS prev_type
  FROM events
),
v AS (
  SELECT user_id, event_type, ts, event_id FROM o
  WHERE prev_type IS NULL OR prev_type <> event_type
)
SELECT user_id, event_type,
       strftime(ts, '{EVENT_TS_DUCK}') AS valid_from,
       strftime(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
                '{EVENT_TS_DUCK}') AS valid_to,
       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
         AS is_current
FROM v
"""


QUERIES.append(Q("q151_scd2_dimension", q151, Q151_ORACLE))


# --- Q152: OHLC candle downsampling (single hash-agg, no window) -------------------
def q152(spark, sf_dir):
    """Hourly per-user OHLC bars (operators/timeseries.py::ohlc).
    open/close via min_by/max_by on the (ts, event_id) struct — the
    oracle mirrors the total order with a zero-padded
    '(epoch_us, event_id)' string key for arg_min/arg_max, which sorts
    identically for non-negative values."""
    from parquet_on_fhir_spark.operators.timeseries import ohlc

    e = t(spark, sf_dir, "events")
    out = ohlc(
        e, "ts", ["user_id"], "value", every="1 hour", tie_cols=["event_id"]
    )
    return out.select(
        "user_id",
        ts_str(F.col("bucket_start"), EVENT_TS_SPARK).alias("bucket_start"),
        "open",
        "high",
        "low",
        "close",
        "n",
        d2(F.col("vsum")).alias("vsum"),
    )


Q152_ORACLE = f"""
SELECT user_id,
       strftime(date_trunc('hour', ts), '{EVENT_TS_DUCK}') AS bucket_start,
       arg_min(value, printf('%020d|%020d', epoch_us(ts), event_id)) AS open,
       max(value) AS high,
       min(value) AS low,
       arg_max(value, printf('%020d|%020d', epoch_us(ts), event_id)) AS close,
       CAST(count(*) AS BIGINT) AS n,
       round(sum(value), 2) AS vsum
FROM events
GROUP BY user_id, date_trunc('hour', ts)
"""


QUERIES.append(Q("q152_ohlc_bars", q152, Q152_ORACLE))


# --- Q153: time-weighted average (duration-weighted, lead-gap weights) -------------
def q153(spark, sf_dir):
    """Per-user time-weighted mean of value (operators/timeseries.py::
    time_weighted_avg): each observation weighted by its holding time —
    the gap to the user's next event; final events carry no weight."""
    from parquet_on_fhir_spark.operators.timeseries import time_weighted_avg

    e = t(spark, sf_dir, "events")
    out = time_weighted_avg(e, "ts", ["user_id"], "value", tie_cols=["event_id"])
    return out.select("user_id", d4(F.col("twa")).alias("twa"))


Q153_ORACLE = """
WITH l AS (
  SELECT user_id, value, epoch_us(ts) AS e,
         lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS ne
  FROM events
)
SELECT user_id,
       round(sum(value * (ne - e)) / sum(ne - e) + 1e-9, 4) AS twa
FROM l
GROUP BY user_id
"""


QUERIES.append(Q("q153_time_weighted_avg", q153, Q153_ORACLE))


# --- Q155: linear-regression aggregates (regr_* family) ----------------------------
def q155(spark, sf_dir):
    """Group-wise least-squares fit of extendedprice on quantity — the
    regr_* aggregate family (slope, intercept, r², pair count), all
    single-pass mergeable moments, exactly as cheap as avg/var at
    100 TB. Both engines implement the same SQL-standard definitions."""
    l = t(spark, sf_dir, "lineitem")
    return l.groupBy("l_returnflag").agg(
        d4(F.regr_slope("l_extendedprice", "l_quantity")).alias("slope"),
        d4(F.regr_intercept("l_extendedprice", "l_quantity")).alias("intercept"),
        d4(F.regr_r2("l_extendedprice", "l_quantity")).alias("r2"),
        F.regr_count("l_extendedprice", "l_quantity").alias("n_pairs"),
    )


Q155_ORACLE = """
SELECT l_returnflag,
       round(regr_slope(l_extendedprice, l_quantity) + 1e-9, 4) AS slope,
       round(regr_intercept(l_extendedprice, l_quantity) + 1e-9, 4) AS intercept,
       round(regr_r2(l_extendedprice, l_quantity) + 1e-9, 4) AS r2,
       CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n_pairs
FROM lineitem GROUP BY l_returnflag
"""


QUERIES.append(Q("q155_regression_aggs", q155, Q155_ORACLE))


# --- Q156: winsorization (per-group quantile clip) ---------------------------------
def q156(spark, sf_dir):
    """Clip order totals at each status's [p05, p95]
    (operators/analytics.py::winsorize — exact percentile bounds
    broadcast back, map-side clip; `exact=False` flips the bounds to
    the approx_percentile sketch for the 100 TB tier)."""
    from parquet_on_fhir_spark.operators.analytics import winsorize

    o = t(spark, sf_dir, "orders")
    out = winsorize(o, "o_totalprice", ["o_orderstatus"], 0.05, 0.95)
    return out.select(
        "o_orderkey",
        "o_orderstatus",
        d2(F.col("o_totalprice_winsorized")).alias("clipped"),
    )


Q156_ORACLE = """
WITH b AS (
  SELECT o_orderstatus,
         quantile_cont(o_totalprice, 0.05) AS lo,
         quantile_cont(o_totalprice, 0.95) AS hi
  FROM orders GROUP BY o_orderstatus
)
SELECT o_orderkey, o.o_orderstatus,
       round(least(greatest(o_totalprice, lo), hi), 2) AS clipped
FROM orders o JOIN b ON o.o_orderstatus = b.o_orderstatus
"""


QUERIES.append(Q("q156_winsorize", q156, Q156_ORACLE))


# --- Q157: chi-square test of independence -----------------------------------------
def q157(spark, sf_dir):
    """χ² independence of event_type vs. a 5-way user cohort
    (operators/analytics.py::chi2_crosstab): contingency cells with
    zero-observed mass included via the marginal cross grid; one scan
    of events, every post-aggregate join broadcast."""
    from parquet_on_fhir_spark.operators.analytics import chi2_crosstab

    e = t(spark, sf_dir, "events").withColumn(
        "cohort", (F.col("user_id") % 5).cast("int")
    )
    out = chi2_crosstab(e, "event_type", "cohort")
    return out.select(d4(F.col("chi2")).alias("chi2"), "dof", "n")


Q157_ORACLE = """
WITH src AS (
  SELECT event_type AS a, CAST(user_id % 5 AS INT) AS b FROM events
  WHERE event_type IS NOT NULL AND user_id IS NOT NULL
),
obs AS (SELECT a, b, count(*) AS o FROM src GROUP BY a, b),
ma AS (SELECT a, sum(o) AS ra FROM obs GROUP BY a),
mb AS (SELECT b, sum(o) AS rb FROM obs GROUP BY b),
tot AS (SELECT sum(o) AS n FROM obs),
grid AS (
  SELECT ma.ra, mb.rb, tot.n, COALESCE(obs.o, 0) AS o
  FROM ma CROSS JOIN mb CROSS JOIN tot
  LEFT JOIN obs ON obs.a = ma.a AND obs.b = mb.b
)
SELECT round(sum((o - ra * rb / CAST(n AS DOUBLE))
              * (o - ra * rb / CAST(n AS DOUBLE))
              / (ra * rb / CAST(n AS DOUBLE))) + 1e-9, 4) AS chi2,
       CAST(((SELECT count(*) FROM ma) - 1) * ((SELECT count(*) FROM mb) - 1)
            AS BIGINT) AS dof,
       CAST((SELECT n FROM tot) AS BIGINT) AS n
FROM grid
"""


QUERIES.append(Q("q157_chi2_crosstab", q157, Q157_ORACLE))


# --- Q158: market-basket co-occurrence (top-k "also bought") -----------------------
def q158(spark, sf_dir):
    """Parts co-ordered with each part, top-5 by shared-order count
    (operators/analytics.py::market_basket_pairs). Cap disabled here so
    the oracle is exact — lineitem baskets are bounded by order line
    count; the cap is for unbounded real-world baskets."""
    from parquet_on_fhir_spark.operators.analytics import market_basket_pairs

    li = t(spark, sf_dir, "lineitem")
    return market_basket_pairs(
        li, "l_orderkey", "l_partkey", k=5, max_basket_items=None
    )


Q158_ORACLE = """
WITH bi AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
c AS (
  SELECT x.i AS i, y.i AS j, count(*) AS n_baskets
  FROM bi x JOIN bi y ON x.b = y.b AND x.i < y.i
  GROUP BY x.i, y.i
),
s AS (
  SELECT i, j, n_baskets FROM c
  UNION ALL
  SELECT j, i, n_baskets FROM c
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY i
              ORDER BY n_baskets DESC, j ASC) AS rank
  FROM s
)
SELECT i AS item, j AS also_item, n_baskets, rank
FROM r WHERE rank <= 5
"""


QUERIES.append(Q("q158_market_basket", q158, Q158_ORACLE))


# --- Q159: k-core extraction (peeling fixpoint; rows-only — iterative ---------------
# node deletion is non-monotone, so no recursive-CTE oracle exists; the
# correctness carrier is tests/test_graph.py's brute-force peeling
# comparison on random graphs).
def q159(spark, sf_dir):
    """3-core of the q138/q150 graph (operators/graph.py::k_core):
    distributed peeling — degree agg + two semi joins per round,
    lineage-truncated, raises on non-convergence."""
    from parquet_on_fhir_spark.operators.graph import k_core

    li = t(spark, sf_dir, "lineitem")
    edges = li.select(
        (F.col("l_orderkey") % 500).alias("src"),
        (F.col("l_partkey") % 500).alias("dst"),
    )
    return k_core(edges, k=3)


QUERIES.append(Q("q159_kcore", q159, None))


# --- Q160: dense numeric histogram (width_bucket + zero-bin grid) ------------------
def q160(spark, sf_dir):
    """25-bin histogram of l_quantity per returnflag
    (operators/analytics.py::numeric_histogram). Bounds 0.5..50.5 put
    every integer quantity strictly inside a bin — no datum sits on a
    bin edge, so Spark's width_bucket and the oracle's floor arithmetic
    cannot disagree on FP boundary rounding. Zero-count bins are
    emitted (the dense grid join)."""
    from parquet_on_fhir_spark.operators.analytics import numeric_histogram

    l = t(spark, sf_dir, "lineitem")
    out = numeric_histogram(
        l, "l_quantity", bins=25, key_cols=["l_returnflag"], lo=0.5, hi=50.5
    )
    return out.select(
        "l_returnflag",
        "bin",
        d2(F.col("bin_lo")).alias("bin_lo"),
        d2(F.col("bin_hi")).alias("bin_hi"),
        "n",
    )


Q160_ORACLE = """
WITH c AS (
  SELECT l_returnflag,
         least(CAST(floor((l_quantity - 0.5) / 2.0) AS INT) + 1, 25) AS bin,
         count(*) AS n
  FROM lineitem
  WHERE l_quantity IS NOT NULL
  GROUP BY 1, 2
),
grid AS (
  SELECT DISTINCT l_returnflag, unnest(range(1, 26)) AS bin FROM lineitem
)
SELECT g.l_returnflag, g.bin,
       CAST(round(0.5 + (g.bin - 1) * 2.0, 2) AS DOUBLE) AS bin_lo,
       CAST(round(0.5 + g.bin * 2.0, 2) AS DOUBLE) AS bin_hi,
       COALESCE(c.n, 0) AS n
FROM grid g LEFT JOIN c ON g.l_returnflag = c.l_returnflag AND g.bin = c.bin
"""


QUERIES.append(Q("q160_numeric_histogram", q160, Q160_ORACLE))


# --- Q161: corpus distribution drift (KL / JSD / TVD on token histograms) ----------
def q161(spark, sf_dir):
    """Token-distribution drift between sources src0 and src1
    (operators/analytics.py::distribution_drift): smoothed KL both
    ways, Jensen-Shannon, total variation — the retrain-trigger
    numbers a corpus-refresh pipeline watches."""
    from parquet_on_fhir_spark.operators.analytics import distribution_drift

    d = t(spark, sf_dir, "documents")
    toks = d.select(
        "source", F.explode(F.split(F.col("text"), " ")).alias("tok")
    ).filter(F.col("tok") != "")
    a = toks.filter(F.col("source") == "src0").select("tok")
    b = toks.filter(F.col("source") == "src1").select("tok")
    out = distribution_drift(a, b, "tok")
    return out.select(
        d4(F.col("kl_ab")).alias("kl_ab"),
        d4(F.col("kl_ba")).alias("kl_ba"),
        d4(F.col("jsd")).alias("jsd"),
        d4(F.col("tvd")).alias("tvd"),
    )


Q161_ORACLE = """
WITH toks AS (
  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
),
ft AS (SELECT source, tok FROM toks WHERE tok <> ''),
ca AS (SELECT tok, count(*) AS na FROM ft WHERE source = 'src0' GROUP BY tok),
cb AS (SELECT tok, count(*) AS nb FROM ft WHERE source = 'src1' GROUP BY tok),
j AS (
  SELECT COALESCE(ca.na, 0) AS na, COALESCE(cb.nb, 0) AS nb
  FROM ca FULL OUTER JOIN cb ON ca.tok = cb.tok
),
tot AS (SELECT sum(na) AS ta, sum(nb) AS tb, count(*) AS v FROM j),
p AS (
  SELECT (na + 0.5) / (ta + 0.5 * v) AS pa,
         (nb + 0.5) / (tb + 0.5 * v) AS pb
  FROM j CROSS JOIN tot
)
SELECT round(sum(pa * ln(pa / pb)) + 1e-9, 4) AS kl_ab,
       round(sum(pb * ln(pb / pa)) + 1e-9, 4) AS kl_ba,
       round(sum(pa * ln(pa / ((pa + pb) / 2))) / 2
             + sum(pb * ln(pb / ((pa + pb) / 2))) / 2 + 1e-9, 4) AS jsd,
       round(sum(abs(pa - pb)) / 2 + 1e-9, 4) AS tvd
FROM p
"""


QUERIES.append(Q("q161_distribution_drift", q161, Q161_ORACLE))


# --- Q162: robust outliers (median/MAD modified z-score) ---------------------------
def q162(spark, sf_dir):
    """Order totals flagged per status by the Iglewicz-Hoaglin modified
    z-score (operators/analytics.py::robust_outliers) — the
    masking-proof counterpart of q136's trailing mean/std detector."""
    from parquet_on_fhir_spark.operators.analytics import robust_outliers

    o = t(spark, sf_dir, "orders")
    out = robust_outliers(o, "o_totalprice", ["o_orderstatus"], threshold=3.5)
    return out.select(
        "o_orderkey",
        "o_orderstatus",
        d4(F.col("modified_z")).alias("modified_z"),
        "is_outlier",
    )


Q162_ORACLE = """
WITH med AS (
  SELECT o_orderstatus, quantile_cont(o_totalprice, 0.5) AS med
  FROM orders GROUP BY o_orderstatus
),
dev AS (
  SELECT o.*, med.med, abs(o_totalprice - med.med) AS adev
  FROM orders o JOIN med USING (o_orderstatus)
),
mad AS (
  SELECT o_orderstatus, quantile_cont(adev, 0.5) AS mad
  FROM dev GROUP BY o_orderstatus
)
SELECT o_orderkey, dev.o_orderstatus,
       round(CASE WHEN mad.mad > 0
             THEN 0.6745 * (o_totalprice - dev.med) / mad.mad END + 1e-9, 4)
         + 0.0 AS modified_z,  -- + 0.0: IEEE collapses DuckDB's signed -0.0
       COALESCE(CASE WHEN mad.mad > 0
             THEN abs(0.6745 * (o_totalprice - dev.med) / mad.mad) > 3.5 END,
             false) AS is_outlier
FROM dev JOIN mad USING (o_orderstatus)
"""


QUERIES.append(Q("q162_robust_outliers", q162, Q162_ORACLE))


# --- Q165: leave-one-out target encoding -------------------------------------------
def q165(spark, sf_dir):
    """Encode o_orderpriority against o_totalprice with smoothing 10 and
    leave-one-out (operators/analytics.py::target_encode) — per-category
    sums broadcast back; the LOO subtraction runs on the joined row."""
    from parquet_on_fhir_spark.operators.analytics import target_encode

    o = t(spark, sf_dir, "orders")
    out = target_encode(o, "o_orderpriority", "o_totalprice", smoothing=10.0)
    return out.select(
        "o_orderkey",
        "o_orderpriority",
        d4(F.col("o_orderpriority_te") / 1000).alias("te_k"),
    )


Q165_ORACLE = """
WITH g AS (SELECT avg(o_totalprice) AS gmean FROM orders),
c AS (
  SELECT o_orderpriority, sum(o_totalprice) AS csum, count(*) AS cn
  FROM orders GROUP BY o_orderpriority
)
SELECT o_orderkey, o.o_orderpriority,
       round(((csum - o_totalprice + 10.0 * gmean) / (cn - 1 + 10.0)) / 1000
             + 1e-9, 4) AS te_k
FROM orders o JOIN c USING (o_orderpriority) CROSS JOIN g
"""


QUERIES.append(Q("q165_target_encoding", q165, Q165_ORACLE))


# --- Q166: equal-frequency quantile binning ----------------------------------------
def q166(spark, sf_dir):
    """Quartile-bin o_totalprice (operators/analytics.py::quantile_bin):
    exact interpolated boundaries computed once and broadcast; bin
    assignment is value-based, so ties are deterministic (ntile's
    row-order assignment is not)."""
    from parquet_on_fhir_spark.operators.analytics import quantile_bin

    o = t(spark, sf_dir, "orders")
    out = quantile_bin(o, "o_totalprice", bins=4)
    return out.select("o_orderkey", F.col("o_totalprice_qbin").alias("qbin"))


Q166_ORACLE = """
WITH b AS (
  SELECT quantile_cont(o_totalprice, 0.25) AS c1,
         quantile_cont(o_totalprice, 0.50) AS c2,
         quantile_cont(o_totalprice, 0.75) AS c3
  FROM orders
)
SELECT o_orderkey,
       1 + CASE WHEN o_totalprice > c1 THEN 1 ELSE 0 END
         + CASE WHEN o_totalprice > c2 THEN 1 ELSE 0 END
         + CASE WHEN o_totalprice > c3 THEN 1 ELSE 0 END AS qbin
FROM orders CROSS JOIN b
"""


QUERIES.append(Q("q166_quantile_bin", q166, Q166_ORACLE))


# --- Q167: one-pass correlation matrix ---------------------------------------------
def q167(spark, sf_dir):
    """All pairwise correlations of four lineitem measures in a single
    aggregate pass, unpivoted to long form
    (operators/analytics.py::correlation_matrix)."""
    from parquet_on_fhir_spark.operators.analytics import correlation_matrix

    l = t(spark, sf_dir, "lineitem")
    out = correlation_matrix(
        l, ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
    )
    return out.select("col_a", "col_b", d4(F.col("corr")).alias("corr"))


Q167_ORACLE = """
SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
       round(corr(l_quantity, l_extendedprice) + 1e-9, 4) AS corr FROM lineitem
UNION ALL
SELECT 'l_quantity', 'l_discount', round(corr(l_quantity, l_discount) + 1e-9, 4) FROM lineitem
UNION ALL
SELECT 'l_quantity', 'l_tax', round(corr(l_quantity, l_tax) + 1e-9, 4) FROM lineitem
UNION ALL
SELECT 'l_extendedprice', 'l_discount', round(corr(l_extendedprice, l_discount) + 1e-9, 4) FROM lineitem
UNION ALL
SELECT 'l_extendedprice', 'l_tax', round(corr(l_extendedprice, l_tax) + 1e-9, 4) FROM lineitem
UNION ALL
SELECT 'l_discount', 'l_tax', round(corr(l_discount, l_tax) + 1e-9, 4) FROM lineitem
"""


QUERIES.append(Q("q167_correlation_matrix", q167, Q167_ORACLE))


# --- Q168: Kaplan-Meier survival curve ---------------------------------------------
def q168(spark, sf_dir):
    """Survival of users by days-to-first-purchase, churn censored
    (operators/analytics.py::kaplan_meier). Duration = days from each
    user's first event to first purchase (event) or last event
    (censored). Product-limit via exp(Σ ln(1−d/n)) running sums;
    each ln factor is 12-dp-quantized in BOTH engines (term_dp=12 /
    round(ln(...), 12)) so libm per-term noise cannot accumulate past
    the d4 nudge — the transcendental-sum convention
    (suite/common.py)."""
    from parquet_on_fhir_spark.operators.analytics import kaplan_meier

    e = t(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "purch_ts"
        ),
        F.max("ts").alias("last_ts"),
    )
    spans = per_user.select(
        F.datediff(
            F.coalesce("purch_ts", "last_ts"), F.col("first_ts")
        ).alias("duration"),
        F.col("purch_ts").isNotNull().alias("event"),
    )
    out = kaplan_meier(spans, "duration", "event", term_dp=12)
    return out.select(
        F.col("t").cast("int").alias("t"),
        "n_risk",
        "n_events",
        d4(F.col("survival")).alias("survival"),
    )


Q168_ORACLE = """
WITH per_user AS (
  SELECT user_id,
         min(ts) AS first_ts,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS purch_ts,
         max(ts) AS last_ts
  FROM events GROUP BY user_id
),
spans AS (
  SELECT date_diff('day', CAST(first_ts AS DATE),
                   CAST(COALESCE(purch_ts, last_ts) AS DATE)) AS duration,
         purch_ts IS NOT NULL AS event
  FROM per_user
),
per_t AS (
  SELECT duration AS t,
         sum(CASE WHEN event THEN 1 ELSE 0 END) AS n_events,
         sum(CASE WHEN event THEN 0 ELSE 1 END) AS n_censored
  FROM spans GROUP BY duration
),
risk AS (
  SELECT *, sum(n_events + n_censored) OVER () -
            COALESCE(sum(n_events + n_censored) OVER (
              ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS n_risk
  FROM per_t
)
SELECT CAST(t AS INT) AS t,
       CAST(n_risk AS BIGINT) AS n_risk,
       CAST(n_events AS BIGINT) AS n_events,
       round(CASE WHEN max(CASE WHEN n_events >= n_risk THEN 1 ELSE 0 END)
                    OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) = 1
             THEN 0.0
             ELSE exp(sum(round(ln(CASE WHEN n_events < n_risk
                             THEN 1.0 - n_events / CAST(n_risk AS DOUBLE)
                             ELSE 1.0 END), 12))
                      OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW))
             END + 1e-9, 4) AS survival
FROM risk
"""


QUERIES.append(Q("q168_kaplan_meier", q168, Q168_ORACLE))


# --- Q169: ROC AUC via the rank-sum identity ---------------------------------------
def q169(spark, sf_dir):
    """AUC of n_chars as a predictor of lang='en'
    (operators/analytics.py::binary_auc): Mann-Whitney with average
    ranks over score ties — the exact tie convention, no threshold
    sweep. Integer-exact in BOTH engines: doubled ranks are integers,
    so auc = (2·Σ⁺rank − n⁺(n⁺+1)) / (2·n⁺·n⁻) with an integral
    numerator/denominator and ONE final double division — no float
    accumulation for the driver hash to diverge on."""
    from parquet_on_fhir_spark.operators.analytics import binary_auc

    d = t(spark, sf_dir, "documents")
    lab = d.select(
        F.col("n_chars").cast("double").alias("score"),
        (F.col("lang") == "en").alias("label"),
    )
    out = binary_auc(lab, "score", "label")
    return out.select(d4(F.col("auc")).alias("auc"), "n_pos", "n_neg")


Q169_ORACLE = """
WITH ranked AS (
  SELECT CAST(lang = 'en' AS INT) AS lab,
         min(rn) OVER (PARTITION BY n_chars)
          + max(rn) OVER (PARTITION BY n_chars) AS r2
  FROM (
    SELECT lang, n_chars,
           row_number() OVER (ORDER BY CAST(n_chars AS DOUBLE)) AS rn
    FROM documents
  )
)
SELECT round(CAST(sum(CASE WHEN lab = 1 THEN r2 ELSE 0 END)
                  - sum(lab) * (sum(lab) + 1) AS DOUBLE)
             / CAST(2 * sum(lab) * sum(1 - lab) AS DOUBLE) + 1e-9, 4) AS auc,
       CAST(sum(lab) AS BIGINT) AS n_pos,
       CAST(sum(1 - lab) AS BIGINT) AS n_neg
FROM ranked
"""


QUERIES.append(Q("q169_binary_auc", q169, Q169_ORACLE))


# --- Q170: Welch's t (A/B test) ----------------------------------------------------
def q170(spark, sf_dir):
    """Welch unequal-variance t between purchase and click event values
    (operators/analytics.py::welch_t_test) — moment aggregates only."""
    from parquet_on_fhir_spark.operators.analytics import welch_t_test

    e = t(spark, sf_dir, "events")
    out = welch_t_test(e, "event_type", "value", "purchase", "click")
    return out.select(
        d4(F.col("mean_a")).alias("mean_a"),
        d4(F.col("mean_b")).alias("mean_b"),
        d4(F.col("t_stat")).alias("t_stat"),
        d4(F.col("dof")).alias("dof"),
        "n_a",
        "n_b",
    )


Q170_ORACLE = """
WITH a AS (
  SELECT avg(value) AS ma, var_samp(value) AS va, count(*) AS na
  FROM events WHERE event_type = 'purchase'
),
b AS (
  SELECT avg(value) AS mb, var_samp(value) AS vb, count(*) AS nb
  FROM events WHERE event_type = 'click'
)
SELECT round(ma + 1e-9, 4) AS mean_a,
       round(mb + 1e-9, 4) AS mean_b,
       round((ma - mb) / sqrt(va / na + vb / nb) + 1e-9, 4) AS t_stat,
       round((va / na + vb / nb) * (va / na + vb / nb)
             / ((va / na) * (va / na) / (na - 1)
                + (vb / nb) * (vb / nb) / (nb - 1)) + 1e-9, 4) AS dof,
       na AS n_a, nb AS n_b
FROM a CROSS JOIN b
"""


QUERIES.append(Q("q170_welch_t_test", q170, Q170_ORACLE))


# --- Q172: corpus concentration report (Gini / HHI / top share) --------------------
def q172(spark, sf_dir):
    """Concentration of document characters across sources
    (operators/analytics.py::concentration_report) — the training-mix
    balance audit."""
    from parquet_on_fhir_spark.operators.analytics import concentration_report

    d = t(spark, sf_dir, "documents")
    out = concentration_report(d, "source", "n_chars")
    return out.select(
        "n_groups",
        d4(F.col("gini")).alias("gini"),
        F.round(F.col("hhi") + 1e-12, 6).alias("hhi"),
        d4(F.col("top_share")).alias("top_share"),
        d4(F.col("effective_groups")).alias("effective_groups"),
    )


Q172_ORACLE = """
WITH totals AS (
  SELECT source, CAST(sum(n_chars) AS DOUBLE) AS x
  FROM documents GROUP BY source
),
ranked AS (
  SELECT x, row_number() OVER (ORDER BY x, source) AS i FROM totals
),
agg AS (
  SELECT count(*) AS n, sum(x) AS sx, sum(i * x) AS six,
         max(x) AS mx, sum(x * x) AS sxx
  FROM ranked
)
SELECT n AS n_groups,
       round(2.0 * six / (n * sx) - (n + 1.0) / n + 1e-9, 4) AS gini,
       round(sxx / (sx * sx) + 1e-12, 6) AS hhi,
       round(mx / sx + 1e-9, 4) AS top_share,
       round((sx * sx) / sxx + 1e-9, 4) AS effective_groups
FROM agg
"""


QUERIES.append(Q("q172_concentration_report", q172, Q172_ORACLE))


# --- Q173: Zipf slope of the token-frequency distribution --------------------------
def q173(spark, sf_dir):
    """Log-log least-squares fit of token frequency vs rank
    (operators/analytics.py::zipf_slope), hapax-trimmed. Each ln term
    is 12-dp-quantized in BOTH engines before the regression fold
    (the transcendental-sum convention, suite/common.py)."""
    from parquet_on_fhir_spark.operators.analytics import zipf_slope

    d = t(spark, sf_dir, "documents")
    out = zipf_slope(d, "text", min_count=2, term_dp=12)
    return out.select(
        d4(F.col("slope")).alias("slope"),
        d4(F.col("intercept")).alias("intercept"),
        "n_types",
        "n_tokens",
    )


Q173_ORACLE = """
WITH toks AS (
  SELECT unnest(string_split(text, ' ')) AS tok FROM documents
),
ft AS (SELECT tok FROM toks WHERE tok <> ''),
counts AS (SELECT tok, count(*) AS n FROM ft GROUP BY tok),
total AS (SELECT sum(n) AS t FROM counts),
ranked AS (
  SELECT n, row_number() OVER (ORDER BY n DESC, tok ASC) AS r
  FROM counts WHERE n >= 2
)
SELECT round(regr_slope(round(ln(n), 12), round(ln(r), 12)) + 1e-9, 4) AS slope,
       round(regr_intercept(round(ln(n), 12), round(ln(r), 12)) + 1e-9, 4) AS intercept,
       count(*) AS n_types,
       CAST((SELECT t FROM total) AS BIGINT) AS n_tokens
FROM ranked
"""


QUERIES.append(Q("q173_zipf_slope", q173, Q173_ORACLE))


# --- Q174: Benford first-digit audit -----------------------------------------------
def q174(spark, sf_dir):
    """Leading-digit distribution of o_totalprice vs Benford's law
    (operators/analytics.py::benford_deviation)."""
    from parquet_on_fhir_spark.operators.analytics import benford_deviation

    o = t(spark, sf_dir, "orders")
    out = benford_deviation(o, "o_totalprice")
    return out.select(
        "digit",
        "n",
        d4(F.col("share")).alias("share"),
        d4(F.col("expected_share")).alias("expected_share"),
        d2(F.col("chi2")).alias("chi2"),
    )


Q174_ORACLE = """
WITH d AS (
  SELECT CAST(substring(regexp_replace(CAST(abs(o_totalprice) AS VARCHAR),
                        '[^1-9]*', ''), 1, 1) AS INT) AS digit
  FROM orders WHERE o_totalprice IS NOT NULL AND o_totalprice <> 0
),
counts AS (
  SELECT digit, count(*) AS n FROM d WHERE digit IS NOT NULL GROUP BY digit
),
t AS (SELECT sum(n) AS tot FROM counts),
s AS (
  SELECT digit, n,
         n / CAST(tot AS DOUBLE) AS share,
         log10(1.0 + 1.0 / digit) AS expected_share,
         tot
  FROM counts CROSS JOIN t
)
SELECT digit, n, round(share + 1e-9, 4) AS share,
       round(expected_share + 1e-9, 4) AS expected_share,
       round((SELECT sum((share - expected_share) * (share - expected_share)
                         / expected_share * tot) FROM s) + 1e-9, 2) AS chi2
FROM s
"""


QUERIES.append(Q("q174_benford_audit", q174, Q174_ORACLE))


# --- Q175: hierarchical rollup (recursive-CTE oracle vs iterative joins) -----------
def q175(spark, sf_dir):
    """BOM-style cost rollup over a synthetic part hierarchy
    (parent = partkey div 10; depth ~4 at any SF):
    operators/graph.py::hierarchy_rollup unrolls the ancestor closure
    with one frontier join per LEVEL — Spark's recursive-CTE stand-in —
    while the oracle uses DuckDB's real WITH RECURSIVE."""
    from parquet_on_fhir_spark.operators.graph import hierarchy_rollup

    p = t(spark, sf_dir, "part")
    nodes = p.select(
        F.col("p_partkey").alias("id"),
        F.when(
            F.col("p_partkey") >= 10, F.floor(F.col("p_partkey") / 10)
        ).alias("parent"),
        F.col("p_retailprice").alias("v"),
    )
    out = hierarchy_rollup(nodes, "id", "parent", "v")
    return out.select("node", d2(F.col("total")).alias("total"))


Q175_ORACLE = """
WITH RECURSIVE nodes AS (
  SELECT p_partkey AS node,
         CASE WHEN p_partkey >= 10 THEN p_partkey // 10 END AS parent,
         p_retailprice AS v
  FROM part
),
pairs AS (
  SELECT node, node AS anc FROM nodes
  UNION ALL
  SELECT pr.node, n.parent AS anc
  FROM pairs pr JOIN nodes n ON pr.anc = n.node
  WHERE n.parent IS NOT NULL
)
SELECT anc AS node, round(sum(v), 2) AS total
FROM pairs JOIN nodes USING (node)
GROUP BY anc
"""


QUERIES.append(Q("q175_hierarchy_rollup", q175, Q175_ORACLE))


# --- Q176: autocorrelation function (per-series ACF at several lags) ---------------
def q176(spark, sf_dir):
    """Per-user ACF of event values at lags 1-3
    (operators/timeseries.py::autocorrelation) — one shared window
    shuffle builds all lags, one aggregate folds the correlations."""
    from parquet_on_fhir_spark.operators.timeseries import autocorrelation

    e = t(spark, sf_dir, "events")
    out = autocorrelation(
        e, "ts", ["user_id"], "value", lags=[1, 2, 3], tie_cols=["event_id"]
    )
    return out.select(
        "user_id",
        d4(F.col("acf_1")).alias("acf_1"),
        d4(F.col("acf_2")).alias("acf_2"),
        d4(F.col("acf_3")).alias("acf_3"),
    )


Q176_ORACLE = """
WITH l AS (
  SELECT user_id, value,
         lag(value, 1) OVER w AS l1,
         lag(value, 2) OVER w AS l2,
         lag(value, 3) OVER w AS l3
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id,
       round(corr(value, l1) + 1e-9, 4) + 0.0 AS acf_1,
       round(corr(value, l2) + 1e-9, 4) + 0.0 AS acf_2,
       round(corr(value, l3) + 1e-9, 4) + 0.0 AS acf_3
FROM l GROUP BY user_id
"""


QUERIES.append(Q("q176_autocorrelation", q176, Q176_ORACLE))


# --- Q177: gaps-and-islands (longest consecutive-day streak per user) --------------
def q177(spark, sf_dir):
    """Longest run of consecutive active DAYS per user — the
    gaps-and-islands pattern: distinct day minus its per-user dense rank
    is constant within an island, so islands fall out of one groupBy
    with no self-join or iteration. Two shared-partitioning window/agg
    steps on a per-(user, day) frame (already aggregated: shuffle rows
    = active days, not events)."""
    from pyspark.sql import Window

    e = t(spark, sf_dir, "events")
    days = e.select(
        "user_id", F.date_trunc("day", F.col("ts")).cast("date").alias("d")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    islands = days.withColumn(
        "__island", F.datediff(F.col("d"), F.lit("1970-01-01")) - F.row_number().over(w)
    )
    runs = islands.groupBy("user_id", "__island").agg(
        F.count("*").alias("len"),
        F.min("d").alias("start"),
    )
    best = Window.partitionBy("user_id").orderBy(
        F.desc("len"), F.asc("start")
    )
    return (
        runs.withColumn("__rn", F.row_number().over(best))
        .filter(F.col("__rn") == 1)
        .select(
            "user_id",
            F.col("len").alias("longest_streak_days"),
            F.col("start").cast("string").alias("streak_start"),
        )
    )


Q177_ORACLE = """
WITH days AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
  FROM events
),
islands AS (
  SELECT user_id, d,
         date_diff('day', DATE '1970-01-01', d)
           - row_number() OVER (PARTITION BY user_id ORDER BY d) AS island
  FROM days
),
runs AS (
  SELECT user_id, island, count(*) AS len, min(d) AS start
  FROM islands GROUP BY user_id, island
),
best AS (
  SELECT *, row_number() OVER (PARTITION BY user_id
              ORDER BY len DESC, start ASC) AS rn
  FROM runs
)
SELECT user_id, len AS longest_streak_days,
       strftime(start, '%Y-%m-%d') AS streak_start
FROM best WHERE rn = 1
"""


QUERIES.append(Q("q177_longest_streak", q177, Q177_ORACLE))


# --- Q180: weighted percentiles (cumulative-weight cut, RANGE-tie exact) -----------
def q180(spark, sf_dir):
    """Quantity-weighted price percentiles per returnflag
    (operators/analytics.py::weighted_percentile): the smallest price
    whose cumulative quantity reaches p of the flag's total. The RANGE
    cumulative frame makes equal prices share one cumulative rank, so
    the cut is tie-order independent in both engines."""
    from parquet_on_fhir_spark.operators.analytics import weighted_percentile

    l = t(spark, sf_dir, "lineitem")
    out = weighted_percentile(
        l, "l_extendedprice", "l_quantity", [0.5, 0.9], ["l_returnflag"]
    )
    return out.select(
        "l_returnflag",
        d2(F.col("p_0_5")).alias("wp50"),
        d2(F.col("p_0_9")).alias("wp90"),
    )


Q180_ORACLE = """
WITH c AS (
  SELECT l_returnflag, l_extendedprice,
         sum(l_quantity) OVER (PARTITION BY l_returnflag
             ORDER BY l_extendedprice
             RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         sum(l_quantity) OVER (PARTITION BY l_returnflag) AS tot
  FROM lineitem
)
SELECT l_returnflag,
       round(min(CASE WHEN cum >= 0.5 * tot THEN l_extendedprice END), 2) AS wp50,
       round(min(CASE WHEN cum >= 0.9 * tot THEN l_extendedprice END), 2) AS wp90
FROM c GROUP BY l_returnflag
"""


QUERIES.append(Q("q180_weighted_percentile", q180, Q180_ORACLE))


# --- Q181: Lorenz/Pareto curve points ----------------------------------------------
def q181(spark, sf_dir):
    """Top-10 sources by character mass with shares and cumulative
    shares (operators/analytics.py::lorenz_points) — the drill-down
    behind q172's Gini/HHI single-row summary."""
    from parquet_on_fhir_spark.operators.analytics import lorenz_points

    d = t(spark, sf_dir, "documents")
    out = lorenz_points(d, "source", "n_chars", k=10)
    return out.select(
        "rank",
        F.col("group").alias("source"),
        d2(F.col("mass")).alias("mass"),
        d4(F.col("share")).alias("share"),
        d4(F.col("cum_share")).alias("cum_share"),
    )


Q181_ORACLE = """
WITH totals AS (
  SELECT source AS grp, CAST(sum(n_chars) AS DOUBLE) AS mass
  FROM documents GROUP BY source
),
r AS (
  SELECT grp, mass,
         row_number() OVER (ORDER BY mass DESC, grp ASC) AS rank,
         mass / sum(mass) OVER () AS share,
         sum(mass) OVER (ORDER BY mass DESC, grp ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           / sum(mass) OVER () AS cum_share
  FROM totals
)
SELECT rank, grp AS source, round(mass, 2) AS mass,
       round(share + 1e-9, 4) AS share,
       round(cum_share + 1e-9, 4) AS cum_share
FROM r WHERE rank <= 10
"""


QUERIES.append(Q("q181_lorenz_points", q181, Q181_ORACLE))


# --- Q183: per-series linear trend (slope of value over time) ----------------------
def q183(spark, sf_dir):
    """Per-user trend of event values over time: regr_slope/r2 against
    the hour offset from the user's first event — mergeable moments, so
    k series cost one hash aggregate (the drift detector for metrics
    pipelines). Slope is per-hour (epoch seconds / 3600)."""
    e = t(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id")
    hours = (
        F.unix_micros(F.col("ts").cast("timestamp"))
        - F.min(F.unix_micros(F.col("ts").cast("timestamp"))).over(w)
    ) / 3.6e9
    return (
        e.withColumn("__h", hours)
        .groupBy("user_id")
        .agg(
            d4(F.regr_slope("value", "__h")).alias("slope_per_hour"),
            d4(F.regr_r2("value", "__h")).alias("r2"),
            F.regr_count("value", "__h").alias("n"),
        )
    )


Q183_ORACLE = """
WITH h AS (
  SELECT user_id, value,
         (epoch_us(ts) - min(epoch_us(ts)) OVER (PARTITION BY user_id))
           / 3.6e9 AS hh
  FROM events
)
SELECT user_id,
       round(regr_slope(value, hh) + 1e-9, 4) + 0.0 AS slope_per_hour,
       round(regr_r2(value, hh) + 1e-9, 4) AS r2,
       CAST(regr_count(value, hh) AS BIGINT) AS n
FROM h GROUP BY user_id
"""


QUERIES.append(Q("q183_trend_slopes", q183, Q183_ORACLE))


# --- Q184: rolling 7-day active users (distinct-over-window via contribution -------
# explode — each active (user, day) contributes to the 7 window ends it
# is visible from, turning COUNT DISTINCT OVER RANGE into a plain
# groupBy: map-side explode of a 7-element sequence, shuffle rows =
# active-(user,day) × 7, never raw events; the alternative — a windowed
# count distinct — needs per-window state proportional to users).
def q184(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    days = e.select(
        "user_id", F.date_trunc("day", F.col("ts")).cast("date").alias("d")
    ).distinct()
    contrib = days.select(
        "user_id",
        F.explode(
            F.sequence(F.col("d"), F.date_add(F.col("d"), 6))
        ).alias("window_end"),
    ).distinct()
    # only report window ends that are actual active days (dense-range
    # ends beyond the data's last day would misread as declining WAU)
    real_days = days.select(F.col("d").alias("window_end")).distinct()
    return (
        contrib.join(real_days, "window_end", "left_semi")
        .groupBy("window_end")
        .agg(F.countDistinct("user_id").alias("wau"))
        .select(F.col("window_end").cast("string").alias("window_end"), "wau")
    )


Q184_ORACLE = """
WITH days AS (
  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
  FROM events
),
contrib AS (
  SELECT DISTINCT user_id, d + CAST(x AS INT) AS window_end
  FROM days, unnest(range(0, 7)) AS t(x)
),
real_days AS (SELECT DISTINCT d AS window_end FROM days)
SELECT strftime(window_end, '%Y-%m-%d') AS window_end,
       count(DISTINCT user_id) AS wau
FROM contrib
WHERE window_end IN (SELECT window_end FROM real_days)
GROUP BY window_end
"""


QUERIES.append(Q("q184_rolling_active_users", q184, Q184_ORACLE))


# --- Q186: classical seasonal decomposition (trend + seasonal + residual) -----------
def q186(spark, sf_dir):
    """operators/timeseries.py::seasonal_decompose per user at period 4
    (the EVEN-period 2xMA path: endpoint-half-weight centered average),
    restated in SQL with the same window frames."""
    from parquet_on_fhir_spark.operators.timeseries import seasonal_decompose

    e = t(spark, sf_dir, "events").filter(F.col("user_id") < 20)
    out = seasonal_decompose(
        e, "ts", ["user_id"], "value", period=4, tie_cols=["event_id"]
    )
    return out.select(
        "user_id",
        "event_id",
        d4(F.col("trend")).alias("trend"),
        d4(F.col("seasonal")).alias("seasonal"),
        d4(F.col("residual")).alias("residual"),
    )


Q186_ORACLE = """
WITH o AS (
  SELECT user_id, event_id, value,
         row_number() OVER w - 1 AS rn,
         CASE WHEN count(*) OVER f = 5
              THEN (sum(value) OVER f
                    - (lag(value, 2) OVER w + lead(value, 2) OVER w) / 2) / 4
         END AS trend
  FROM events
  WHERE user_id < 20
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
         f AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING)
),
d AS (SELECT *, rn % 4 AS phase, value - trend AS detrend FROM o),
s AS (
  SELECT user_id, phase, avg(detrend) AS raw
  FROM d GROUP BY user_id, phase
),
c AS (
  SELECT user_id, phase,
         raw - avg(raw) OVER (PARTITION BY user_id) AS seasonal
  FROM s
)
SELECT d.user_id, d.event_id,
       round(d.trend + 1e-9, 4) + 0.0 AS trend,
       round(CASE WHEN d.trend IS NOT NULL THEN c.seasonal END + 1e-9, 4)
         + 0.0 AS seasonal,
       round(d.detrend - c.seasonal + 1e-9, 4) + 0.0 AS residual
FROM d JOIN c ON d.user_id = c.user_id AND d.phase = c.phase
"""


QUERIES.append(Q("q186_seasonal_decompose", q186, Q186_ORACLE))


# --- Q187: gap/outage report (missing-interval detection) ---------------------------
def q187(spark, sf_dir):
    """operators/timeseries.py::gap_report — spans between consecutive
    per-user observations exceeding 30 minutes; one lead window, no
    densification."""
    from parquet_on_fhir_spark.operators.timeseries import gap_report

    e = t(spark, sf_dir, "events")
    out = gap_report(e, "ts", ["user_id"], "30 minutes")
    return out.select(
        "user_id",
        ts_str("gap_start", EVENT_TS_SPARK).alias("gap_start"),
        ts_str("gap_end", EVENT_TS_SPARK).alias("gap_end"),
        "gap_seconds",
    )


Q187_ORACLE = f"""
WITH l AS (
  SELECT user_id, ts,
         lead(ts) OVER (PARTITION BY user_id ORDER BY ts) AS nxt
  FROM events
)
SELECT user_id,
       strftime(ts, '{EVENT_TS_DUCK}') AS gap_start,
       strftime(nxt, '{EVENT_TS_DUCK}') AS gap_end,
       -- Spark casts each timestamp to whole seconds BEFORE subtracting
       CAST(floor(epoch(nxt)) - floor(epoch(ts)) AS BIGINT) AS gap_seconds
FROM l
WHERE floor(epoch(nxt)) - floor(epoch(ts)) > 1800
"""


QUERIES.append(Q("q187_gap_report", q187, Q187_ORACLE))


# --- Q188: CUPED variance-reduced metric ------------------------------------------
def q188(spark, sf_dir):
    """operators/analytics.py::cuped_adjust — events value adjusted by
    the pre-period covariate (event_id as a deterministic stand-in),
    theta from one moment aggregate per event_type."""
    from parquet_on_fhir_spark.operators.analytics import cuped_adjust

    e = t(spark, sf_dir, "events").withColumn(
        "covar", (F.col("event_id") % 97).cast("double")
    )
    out = cuped_adjust(e, "value", "covar", key_cols=["event_type"])
    return out.select(
        "event_id",
        "event_type",
        d4(F.col("theta")).alias("theta"),
        d4(F.col("metric_adj")).alias("metric_adj"),
    )


Q188_ORACLE = """
WITH c AS (SELECT *, CAST(event_id % 97 AS DOUBLE) AS covar FROM events),
s AS (
  SELECT event_type,
         CASE WHEN var_samp(covar) > 0
              THEN covar_samp(covar, value) / var_samp(covar) ELSE 0.0 END
           AS theta,
         avg(covar) AS xbar
  FROM c GROUP BY event_type
)
SELECT c.event_id, c.event_type,
       round(s.theta + 1e-9, 4) + 0.0 AS theta,
       round(c.value - s.theta * (c.covar - s.xbar) + 1e-9, 4) + 0.0
         AS metric_adj
FROM c JOIN s USING (event_type)
"""


QUERIES.append(Q("q188_cuped_adjust", q188, Q188_ORACLE))


# --- Q189: Cohen's kappa inter-annotator agreement ----------------------------------
def q189(spark, sf_dir):
    """operators/analytics.py::cohens_kappa between two deterministic
    hash 'raters' over events — one cell aggregate, marginals derived
    from the cell table."""
    from parquet_on_fhir_spark.operators.analytics import cohens_kappa

    e = t(spark, sf_dir, "events").select(
        (F.col("event_id") % 3).alias("rater_a"),
        ((F.col("event_id") + (F.col("event_id") % 7) % 2) % 3).alias("rater_b"),
    )
    out = cohens_kappa(e, "rater_a", "rater_b")
    return out.select(
        d4(F.col("kappa")).alias("kappa"),
        d4(F.col("p_observed")).alias("p_observed"),
        d4(F.col("p_expected")).alias("p_expected"),
        "n",
    )


Q189_ORACLE = """
WITH r AS (
  SELECT event_id % 3 AS ra,
         (event_id + (event_id % 7) % 2) % 3 AS rb
  FROM events
),
cells AS (SELECT ra, rb, count(*) AS c FROM r GROUP BY ra, rb),
n AS (SELECT sum(c) AS n FROM cells),
po AS (SELECT coalesce(sum(c), 0) AS agree FROM cells WHERE ra = rb),
pe AS (
  SELECT sum(ma.na * mb.nb) AS pe_num
  FROM (SELECT ra, sum(c) AS na FROM cells GROUP BY ra) ma
  JOIN (SELECT rb, sum(c) AS nb FROM cells GROUP BY rb) mb ON ma.ra = mb.rb
)
SELECT
  round((agree / CAST(n.n AS DOUBLE) - pe_num / (CAST(n.n AS DOUBLE) * n.n))
        / (1.0 - pe_num / (CAST(n.n AS DOUBLE) * n.n)) + 1e-9, 4) + 0.0
    AS kappa,
  round(agree / CAST(n.n AS DOUBLE) + 1e-9, 4) + 0.0 AS p_observed,
  round(pe_num / (CAST(n.n AS DOUBLE) * n.n) + 1e-9, 4) + 0.0 AS p_expected,
  CAST(n.n AS BIGINT) AS n
FROM n CROSS JOIN po CROSS JOIN pe
"""


QUERIES.append(Q("q189_cohens_kappa", q189, Q189_ORACLE))


# --- Q190: calibration bins / reliability diagram -----------------------------------
def q190(spark, sf_dir):
    """operators/analytics.py::calibration_bins over a deterministic
    pseudo-probability and label derived from events — one bin-keyed
    hash aggregate; sum(ece_term) is the model's ECE."""
    from parquet_on_fhir_spark.operators.analytics import calibration_bins

    e = t(spark, sf_dir, "events").select(
        ((F.col("event_id") % 101) / 100.0).alias("score"),
        ((F.col("event_id") % 7) < 3).cast("int").alias("label"),
    )
    out = calibration_bins(e, "score", "label", bins=10)
    return out.select(
        "bin",
        d4(F.col("bin_lo")).alias("bin_lo"),
        d4(F.col("bin_hi")).alias("bin_hi"),
        "n",
        d4(F.col("mean_score")).alias("mean_score"),
        d4(F.col("pos_rate")).alias("pos_rate"),
        d4(F.col("ece_term")).alias("ece_term"),
    )


Q190_ORACLE = """
WITH s AS (
  SELECT (event_id % 101) / 100.0 AS score,
         CASE WHEN event_id % 7 < 3 THEN 1 ELSE 0 END AS label
  FROM events
),
b AS (
  SELECT least(CAST(floor(score * 10) AS INT), 9) AS bin, score, label FROM s
),
per AS (
  SELECT bin, count(*) AS n, avg(score) AS mean_score,
         avg(CAST(label AS DOUBLE)) AS pos_rate
  FROM b GROUP BY bin
),
tot AS (SELECT sum(n) AS total FROM per)
SELECT bin,
       round(bin / 10.0 + 1e-9, 4) + 0.0 AS bin_lo,
       round((bin + 1) / 10.0 + 1e-9, 4) + 0.0 AS bin_hi,
       n,
       round(mean_score + 1e-9, 4) + 0.0 AS mean_score,
       round(pos_rate + 1e-9, 4) + 0.0 AS pos_rate,
       round(abs(pos_rate - mean_score) * n / total + 1e-9, 4) + 0.0
         AS ece_term
FROM per CROSS JOIN tot
"""


QUERIES.append(Q("q190_calibration_bins", q190, Q190_ORACLE))


# --- Q195: Holt double-exponential smoothing (rows-only: coupled recurrence) --------
def q195(spark, sf_dir):
    """operators/timeseries.py::holt_smoothing per user over events —
    the coupled level/trend recurrence is not ANSI-SQL-expressible
    (unlike single EWMA's power series), so correctness is carried by
    tests/test_timeseries.py::test_holt_smoothing_matches_reference_loop
    and this query is rows-only."""
    from parquet_on_fhir_spark.operators.timeseries import holt_smoothing

    e = t(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    out = holt_smoothing(e, "ts", ["user_id"], "value", alpha=0.3, beta=0.1)
    return out.select(
        "user_id",
        "ts",
        d4(F.col("level")).alias("level"),
        d4(F.col("trend")).alias("trend"),
        d4(F.col("fitted")).alias("fitted"),
    )


QUERIES.append(Q("q195_holt_smoothing", q195, None))


# --- Q197: mergeable HLL distinct rollup -------------------------------------------
def q197(spark, sf_dir):
    """operators/analytics.py::distinct_sketch_rollup — per-event-type
    DataSketches HLL distinct-user sketches unioned into a total
    WITHOUT re-scanning raw data. Sketch estimates aren't portable to
    DuckDB, so the oracle checks exact counts + the estimate-accuracy
    invariant (HLL lgK=14 keeps rel_err ~1%; verified << 2% at this
    SF)."""
    from parquet_on_fhir_spark.operators.analytics import distinct_sketch_rollup

    e = t(spark, sf_dir, "events")
    out = distinct_sketch_rollup(e, "event_type", "user_id")
    return out.select(
        "group",
        "n_exact",
        (F.col("rel_err") < 0.02).alias("est_ok"),
    )


Q197_ORACLE = """
SELECT event_type AS "group", count(DISTINCT user_id) AS n_exact,
       true AS est_ok
FROM events GROUP BY event_type
UNION ALL
SELECT '__TOTAL__', count(DISTINCT user_id), true FROM events
"""


QUERIES.append(Q("q197_hll_distinct_rollup", q197, Q197_ORACLE))


# --- Q198: last-touch attribution ---------------------------------------------------
def q198(spark, sf_dir):
    """operators/analytics.py::attribution last-touch: each purchase is
    credited to the user's most recent view/click before it (one keyed
    window, no pair join); purchases with no prior touch fall to the
    NULL 'direct' channel."""
    from parquet_on_fhir_spark.operators.analytics import attribution

    e = t(spark, sf_dir, "events")
    out = attribution(
        e,
        touch_pred=F.col("event_type").isin("view", "click"),
        conversion_pred=F.col("event_type") == "purchase",
        model="last_touch",
        tie_cols=["event_id"],
    )
    return out.select("channel", "conversions", d4(F.col("credit")).alias("credit"))


Q198_ORACLE = """
WITH f AS (
  SELECT user_id, ts, event_id, event_type,
         event_type IN ('view', 'click') AS is_touch,
         event_type = 'purchase' AS is_conv
  FROM events
  WHERE event_type IN ('view', 'click', 'purchase')
),
lt AS (
  SELECT *,
         last_value(CASE WHEN is_touch THEN event_type END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS channel
  FROM f
)
SELECT channel, count(*) AS conversions,
       round(CAST(count(*) AS DOUBLE) + 1e-9, 4) AS credit
FROM lt WHERE is_conv GROUP BY channel
"""


QUERIES.append(Q("q198_attribution_last_touch", q198, Q198_ORACLE))


# --- Q198b: linear attribution (bounded lookback pair join) -------------------------
def q198b(spark, sf_dir):
    """Linear model: every view/click within 12 hours before a purchase
    shares 1/n credit — the bounded-lookback pair join; purchases with
    zero in-window touches credit the NULL channel."""
    from parquet_on_fhir_spark.operators.analytics import attribution

    e = t(spark, sf_dir, "events")
    out = attribution(
        e,
        touch_pred=F.col("event_type").isin("view", "click"),
        conversion_pred=F.col("event_type") == "purchase",
        model="linear",
        lookback="12 hours",
    )
    return out.select("channel", "conversions", d4(F.col("credit")).alias("credit"))


Q198B_ORACLE = """
WITH conv AS (
  SELECT user_id, ts AS cts FROM events WHERE event_type = 'purchase'
),
touch AS (
  SELECT user_id, ts AS tts, event_type AS ch
  FROM events WHERE event_type IN ('view', 'click')
),
pairs AS (
  SELECT c.user_id, c.cts, t.ch
  FROM conv c JOIN touch t ON c.user_id = t.user_id
  WHERE t.tts < c.cts
    AND floor(epoch(t.tts)) >= floor(epoch(c.cts)) - 43200
),
per AS (
  SELECT user_id, cts, ch, count(*) AS n_ch FROM pairs GROUP BY 1, 2, 3
),
tot AS (
  SELECT user_id, cts, count(*) AS n_tot FROM pairs GROUP BY 1, 2
),
shared AS (
  SELECT per.ch, per.n_ch / CAST(tot.n_tot AS DOUBLE) AS credit
  FROM per JOIN tot USING (user_id, cts)
)
SELECT ch AS channel, count(*) AS conversions,
       round(sum(credit) + 1e-9, 4) AS credit
FROM shared GROUP BY ch
UNION ALL
SELECT NULL, count(*), round(CAST(count(*) AS DOUBLE) + 1e-9, 4)
FROM conv c LEFT JOIN tot ON c.user_id = tot.user_id AND c.cts = tot.cts
WHERE tot.n_tot IS NULL
HAVING count(*) > 0
"""


QUERIES.append(Q("q198b_attribution_linear", q198b, Q198B_ORACLE))


# --- Q199: differentially-private noisy counts --------------------------------------
def q199(spark, sf_dir):
    """operators/analytics.py::dp_noisy_counts over document sources:
    hash-seeded Laplace(1/eps) noise makes the DP release deterministic
    and fully SQL-restatable."""
    from parquet_on_fhir_spark.operators.analytics import dp_noisy_counts

    d = t(spark, sf_dir, "documents")
    out = dp_noisy_counts(d, ["source"], epsilon=0.5, seed=3)
    return out.select(
        "source", "n", d4(F.col("n_noisy")).alias("n_noisy"), "epsilon"
    )


Q199_ORACLE = """
WITH c AS (
  SELECT source, count(*) AS n FROM documents GROUP BY source
),
u AS (
  SELECT *, CAST('0x' || substr(md5('dp3:' || source), 1, 15) AS BIGINT)
            / CAST(1152921504606846976 AS DOUBLE) - 0.5 AS uu
  FROM c
)
SELECT source, n,
       round(n + (-2.0 * sign(uu) * ln(1.0 - 2.0 * abs(uu))) + 1e-9, 4)
         AS n_noisy,
       CAST(0.5 AS DOUBLE) AS epsilon
FROM u
"""


QUERIES.append(Q("q199_dp_noisy_counts", q199, Q199_ORACLE))


# --- Q200: k-anonymity audit --------------------------------------------------------
def q200(spark, sf_dir):
    """operators/analytics.py::k_anonymity_report over the
    (event_type, user bucket) quasi-identifier — class-size audit
    before releasing user-level records."""
    from parquet_on_fhir_spark.operators.analytics import k_anonymity_report

    e = t(spark, sf_dir, "events").withColumn(
        "user_bucket", (F.col("user_id") % 50).cast("int")
    )
    out = k_anonymity_report(e, ["event_type", "user_bucket"], k=5)
    return out


Q200_ORACLE = """
WITH cls AS (
  SELECT event_type, CAST(user_id % 50 AS INT) AS user_bucket,
         count(*) AS sz
  FROM events GROUP BY 1, 2
)
SELECT CAST(sum(sz) AS BIGINT) AS n_rows,
       count(*) AS n_classes,
       min(sz) AS min_class_size,
       5 AS k,
       CAST(sum(CASE WHEN sz < 5 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violating_classes,
       CAST(sum(CASE WHEN sz < 5 THEN sz ELSE 0 END) AS BIGINT)
         AS n_risky_rows,
       min(sz) >= 5 AS k_anonymous
FROM cls
"""


QUERIES.append(Q("q200_k_anonymity", q200, Q200_ORACLE))


# --- Q201: Markov transition matrix -------------------------------------------------
def q201(spark, sf_dir):
    """operators/analytics.py::transition_matrix over event streams:
    consecutive-state transition counts + per-origin probabilities."""
    from parquet_on_fhir_spark.operators.analytics import transition_matrix

    e = t(spark, sf_dir, "events")
    out = transition_matrix(e, "event_type", tie_cols=["event_id"])
    return out.select(
        "from_state", "to_state", "n", d4(F.col("p")).alias("p")
    )


Q201_ORACLE = """
WITH lagged AS (
  SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
           AS from_state,
         event_type AS to_state
  FROM events
),
pairs AS (
  SELECT from_state, to_state, count(*) AS n
  FROM lagged WHERE from_state IS NOT NULL
  GROUP BY from_state, to_state
)
SELECT from_state, to_state, n,
       round(n / CAST(sum(n) OVER (PARTITION BY from_state) AS DOUBLE)
             + 1e-9, 4) AS p
FROM pairs
"""


QUERIES.append(Q("q201_transition_matrix", q201, Q201_ORACLE))


# --- Q202: local clustering coefficient ---------------------------------------------
def q202(spark, sf_dir):
    """operators/graph.py::clustering_coefficient over the q150 graph:
    triangles(v) / C(deg(v), 2) — degree-oriented triangle counting
    composed with the degree table."""
    from parquet_on_fhir_spark.operators.graph import clustering_coefficient

    li = t(spark, sf_dir, "lineitem")
    edges = li.select(
        (F.col("l_orderkey") % 500).alias("src"),
        (F.col("l_partkey") % 500).alias("dst"),
    )
    out = clustering_coefficient(edges)
    return out.select(
        "node", "degree", "n_triangles", d4(F.col("coefficient")).alias("coefficient")
    )


Q202_ORACLE = """
WITH e AS (
  SELECT DISTINCT least(l_orderkey % 500, l_partkey % 500) AS a,
                  greatest(l_orderkey % 500, l_partkey % 500) AS b
  FROM lineitem
  WHERE (l_orderkey % 500) <> (l_partkey % 500)
),
deg AS (
  SELECT n, count(*) AS d FROM (
    SELECT a AS n FROM e UNION ALL SELECT b FROM e
  ) GROUP BY n
),
tri AS (
  SELECT e1.a AS x, e1.b AS y, e2.b AS z
  FROM e e1
  JOIN e e2 ON e2.a = e1.b
  JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
),
pertri AS (
  SELECT node, count(*) AS n_triangles FROM (
    SELECT x AS node FROM tri
    UNION ALL SELECT y FROM tri
    UNION ALL SELECT z FROM tri
  ) GROUP BY node
)
SELECT deg.n AS node, deg.d AS degree,
       coalesce(pertri.n_triangles, 0) AS n_triangles,
       round(CASE WHEN deg.d >= 2
                  THEN coalesce(pertri.n_triangles, 0)
                       / (deg.d * (deg.d - 1) / 2.0)
                  ELSE 0.0 END + 1e-9, 4) AS coefficient
FROM deg LEFT JOIN pertri ON deg.n = pertri.node
"""


QUERIES.append(Q("q202_clustering_coefficient", q202, Q202_ORACLE))


# --- Q203: CUSUM change-point detection (rows-only: reset recurrence) --------------
def q203(spark, sf_dir):
    """operators/timeseries.py::cusum_changepoints per user — the
    max(0, .)-with-reset recurrence is not SQL-expressible; correctness
    is carried by tests/test_timeseries.py::test_cusum_detects_level_shift."""
    from parquet_on_fhir_spark.operators.timeseries import cusum_changepoints

    e = t(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    out = cusum_changepoints(e, "ts", ["user_id"], "value")
    return out.select(
        "user_id",
        "ts",
        d4(F.col("cusum_pos")).alias("cusum_pos"),
        d4(F.col("cusum_neg")).alias("cusum_neg"),
        "is_changepoint",
    )


QUERIES.append(Q("q203_cusum_changepoints", q203, None))


# --- Q206: conversion-window funnel -------------------------------------------------
def q206(spark, sf_dir):
    """operators/analytics.py::funnel with max_step_gap='2 hours': each
    step counts only within the conversion window after the previous
    step — the industry funnel form; same k-narrow-shuffle plan."""
    from parquet_on_fhir_spark.operators.analytics import funnel

    e = t(spark, sf_dir, "events")
    out = funnel(
        e,
        [
            ("view", F.col("event_type") == "view"),
            ("click", F.col("event_type") == "click"),
            ("purchase", F.col("event_type") == "purchase"),
        ],
        max_step_gap="2 hours",
    )
    return out.select(
        "user_id",
        ts_str("t_view", EVENT_TS_SPARK).alias("t_view"),
        ts_str("t_click", EVENT_TS_SPARK).alias("t_click"),
        ts_str("t_purchase", EVENT_TS_SPARK).alias("t_purchase"),
        "furthest_step",
    )


Q206_ORACLE = f"""
WITH s1 AS (
  SELECT user_id, min(ts) AS t_view FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
s2 AS (
  SELECT e.user_id, min(e.ts) AS t_click
  FROM events e JOIN s1 ON e.user_id = s1.user_id
  WHERE e.event_type = 'click' AND e.ts > s1.t_view
    AND floor(epoch(e.ts)) <= floor(epoch(s1.t_view)) + 7200
  GROUP BY e.user_id
),
s3 AS (
  SELECT e.user_id, min(e.ts) AS t_purchase
  FROM events e JOIN s2 ON e.user_id = s2.user_id
  WHERE e.event_type = 'purchase' AND e.ts > s2.t_click
    AND floor(epoch(e.ts)) <= floor(epoch(s2.t_click)) + 7200
  GROUP BY e.user_id
)
SELECT s1.user_id,
       strftime(s1.t_view, '{EVENT_TS_DUCK}') AS t_view,
       strftime(s2.t_click, '{EVENT_TS_DUCK}') AS t_click,
       strftime(s3.t_purchase, '{EVENT_TS_DUCK}') AS t_purchase,
       1 + (s2.user_id IS NOT NULL)::INT + (s3.user_id IS NOT NULL)::INT
         AS furthest_step
FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
        LEFT JOIN s3 ON s1.user_id = s3.user_id
"""


QUERIES.append(Q("q206_conversion_window_funnel", q206, Q206_ORACLE))


# --- Q207: RFM segmentation ---------------------------------------------------------
def q207(spark, sf_dir):
    """RFM customer segmentation composing quantile_bin three times
    over per-user aggregates: Recency (last-activity epoch), Frequency
    (event count), Monetary (value sum) — each cut at its own
    quartiles, all bounds broadcast, zero unpartitioned windows (the
    ntile trap). Segment = concatenated R/F/M quartile digits."""
    from parquet_on_fhir_spark.operators.analytics import quantile_bin

    e = t(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.max(F.col("ts").cast("timestamp").cast("long")).alias("recency"),
        F.count("*").cast("double").alias("frequency"),
        F.sum("value").alias("monetary"),
    )
    out = quantile_bin(
        quantile_bin(
            quantile_bin(per_user, "recency", 4, out_col="r"),
            "frequency", 4, out_col="f",
        ),
        "monetary", 4, out_col="m",
    )
    return out.select(
        "user_id",
        "r",
        "f",
        "m",
        F.concat_ws("-", F.col("r"), F.col("f"), F.col("m")).alias("segment"),
    )


Q207_ORACLE = """
WITH per_user AS (
  SELECT user_id,
         CAST(floor(epoch(max(ts))) AS BIGINT) AS recency,
         CAST(count(*) AS DOUBLE) AS frequency,
         sum(value) AS monetary
  FROM events GROUP BY user_id
),
b AS (
  SELECT quantile_cont(recency, 0.25) AS r1, quantile_cont(recency, 0.5) AS r2,
         quantile_cont(recency, 0.75) AS r3,
         quantile_cont(frequency, 0.25) AS f1, quantile_cont(frequency, 0.5) AS f2,
         quantile_cont(frequency, 0.75) AS f3,
         quantile_cont(monetary, 0.25) AS m1, quantile_cont(monetary, 0.5) AS m2,
         quantile_cont(monetary, 0.75) AS m3
  FROM per_user
),
binned AS (
  SELECT user_id,
         1 + (recency > r1)::INT + (recency > r2)::INT + (recency > r3)::INT AS r,
         1 + (frequency > f1)::INT + (frequency > f2)::INT + (frequency > f3)::INT AS f,
         1 + (monetary > m1)::INT + (monetary > m2)::INT + (monetary > m3)::INT AS m
  FROM per_user CROSS JOIN b
)
SELECT user_id, r, f, m,
       CAST(r AS VARCHAR) || '-' || CAST(f AS VARCHAR) || '-'
         || CAST(m AS VARCHAR) AS segment
FROM binned
"""


QUERIES.append(Q("q207_rfm_segmentation", q207, Q207_ORACLE))


# --- Q211: Nelson-Aalen cumulative hazard -------------------------------------------
def q211(spark, sf_dir):
    """operators/analytics.py::nelson_aalen over synthetic churn
    durations derived from events (value as duration, deterministic
    censoring flag) — additive-hazard sibling of q168's KM curve."""
    from parquet_on_fhir_spark.operators.analytics import nelson_aalen

    e = t(spark, sf_dir, "events").select(
        F.round(F.col("value"), 0).alias("dur"),
        ((F.col("event_id") % 3) > 0).alias("churned"),
    )
    out = nelson_aalen(e, "dur", "churned")
    return out.select(
        "t",
        "n_risk",
        "n_events",
        d4(F.col("cum_hazard")).alias("cum_hazard"),
    )


Q211_ORACLE = """
WITH base AS (
  SELECT round(value, 0) AS t,
         CASE WHEN event_id % 3 > 0 THEN 1 ELSE 0 END AS ev
  FROM events
),
per_t AS (
  SELECT t, sum(ev) AS n_events, sum(1 - ev) AS n_censored
  FROM base GROUP BY t
),
risk AS (
  SELECT t, n_events,
         sum(n_events + n_censored) OVER ()
           - coalesce(sum(n_events + n_censored)
                      OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                            AND 1 PRECEDING), 0) AS n_risk
  FROM per_t
)
SELECT t,
       CAST(n_risk AS BIGINT) AS n_risk,
       CAST(n_events AS BIGINT) AS n_events,
       round(sum(CAST(n_events AS DOUBLE) / n_risk)
             OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW) + 1e-9, 4) AS cum_hazard
FROM risk
"""


QUERIES.append(Q("q211_nelson_aalen", q211, Q211_ORACLE))


# --- Q212: naive-forecast accuracy evaluation ---------------------------------------
def q212(spark, sf_dir):
    """Forecast-accuracy scoreboard: per-user MAE/RMSE of the lag-1
    naive forecast — the baseline every real model must beat (and the
    denominator of MASE). One keyed lag window + one aggregate."""
    from pyspark.sql import Window

    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    err = F.col("value") - F.lag("value").over(w)
    scored = e.withColumn("__e", err).filter(F.col("__e").isNotNull())
    return (
        scored.groupBy("user_id")
        .agg(
            F.count("*").alias("n_forecasts"),
            F.avg(F.abs("__e")).alias("mae"),
            F.sqrt(F.avg(F.col("__e") * F.col("__e"))).alias("rmse"),
        )
        .select(
            "user_id",
            "n_forecasts",
            d4(F.col("mae")).alias("mae"),
            d4(F.col("rmse")).alias("rmse"),
        )
    )


Q212_ORACLE = """
WITH lagged AS (
  SELECT user_id,
         value - lag(value) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS e
  FROM events
)
SELECT user_id, count(*) AS n_forecasts,
       round(avg(abs(e)) + 1e-9, 4) AS mae,
       round(sqrt(avg(e * e)) + 1e-9, 4) AS rmse
FROM lagged WHERE e IS NOT NULL
GROUP BY user_id
"""


QUERIES.append(Q("q212_naive_forecast_eval", q212, Q212_ORACLE))


# --- Q213: Benjamini-Hochberg FDR over a p-value sweep ------------------------------
def q213(spark, sf_dir):
    """operators/analytics.py::bh_fdr over a deterministic p-value
    table (one pseudo-test per part brand/container cell) — the
    multiple-testing gate; ranking window runs over the TEST frame."""
    from parquet_on_fhir_spark.operators.analytics import bh_fdr

    p = t(spark, sf_dir, "part")
    tests = p.groupBy("p_brand", "p_size").agg(
        (
            (F.percentile(F.col("p_retailprice"), F.lit(0.5)) % 100) / 100.0
        ).alias("p_value")
    )
    out = bh_fdr(tests, "p_value", q=0.1, tie_cols=["p_brand", "p_size"])
    return out.select(
        "p_brand",
        "p_size",
        d4(F.col("p_value")).alias("p_value"),
        "rank",
        d4(F.col("p_adj")).alias("p_adj"),
        "rejected",
    )


Q213_ORACLE = """
WITH tests AS (
  SELECT p_brand, p_size,
         (quantile_cont(p_retailprice, 0.5) % 100) / 100.0 AS p_value
  FROM part GROUP BY p_brand, p_size
),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY p_value, p_brand, p_size)
              AS rank,
         count(*) OVER () AS m
  FROM tests
),
adj AS (
  SELECT *, least(min(p_value * m / rank)
                  OVER (ORDER BY rank DESC ROWS BETWEEN UNBOUNDED
                        PRECEDING AND CURRENT ROW), 1.0) AS p_adj,
         max(CASE WHEN p_value <= rank * 0.1 / m THEN rank END) OVER ()
           AS kstar
  FROM ranked
)
SELECT p_brand, p_size, round(p_value + 1e-9, 4) AS p_value,
       CAST(rank AS BIGINT) AS rank,
       round(p_adj + 1e-9, 4) AS p_adj,
       coalesce(rank <= kstar, false) AS rejected
FROM adj
"""


QUERIES.append(Q("q213_bh_fdr", q213, Q213_ORACLE))


# --- Q214: mutual information between categoricals ----------------------------------
def q214(spark, sf_dir):
    """operators/analytics.py::mutual_information between lineitem's
    returnflag and linestatus categoricals — feature-screening MI from
    one contingency aggregate."""
    from parquet_on_fhir_spark.operators.analytics import mutual_information

    l = t(spark, sf_dir, "lineitem")
    out = mutual_information(l, "l_returnflag", "l_linestatus")
    return out.select(
        d4(F.col("mi")).alias("mi"),
        d4(F.col("nmi")).alias("nmi"),
        d4(F.col("h_a")).alias("h_a"),
        d4(F.col("h_b")).alias("h_b"),
        "n",
    )


Q214_ORACLE = """
WITH cells AS (
  SELECT l_returnflag AS a, l_linestatus AS b, count(*) AS c
  FROM lineitem GROUP BY 1, 2
),
tot AS (SELECT sum(c) AS n FROM cells),
ma AS (SELECT a, sum(c) AS na FROM cells GROUP BY a),
mb AS (SELECT b, sum(c) AS nb FROM cells GROUP BY b),
mi AS (
  SELECT sum((c / CAST(n AS DOUBLE))
             * ln((c * CAST(n AS DOUBLE)) / (na * CAST(nb AS DOUBLE))))
           AS mi
  FROM cells JOIN ma USING (a) JOIN mb USING (b) CROSS JOIN tot
),
ha AS (
  SELECT ln(max(n)) - sum(na * ln(na)) / max(n) AS h_a
  FROM ma CROSS JOIN tot
),
hb AS (
  SELECT ln(max(n)) - sum(nb * ln(nb)) / max(n) AS h_b
  FROM mb CROSS JOIN tot
)
SELECT round(mi + 1e-9, 4) + 0.0 AS mi,
       round(mi / least(h_a, h_b) + 1e-9, 4) + 0.0 AS nmi,
       round(h_a + 1e-9, 4) AS h_a,
       round(h_b + 1e-9, 4) AS h_b,
       CAST(n AS BIGINT) AS n
FROM mi CROSS JOIN ha CROSS JOIN hb CROSS JOIN tot
"""


QUERIES.append(Q("q214_mutual_information", q214, Q214_ORACLE))


# --- Q216: two-sample log-rank test --------------------------------------------------
def q216(spark, sf_dir):
    """Log-rank survival A/B test (operators/analytics.py::
    log_rank_test): do even- and odd-id user cohorts convert (first
    purchase) at different hazards, churn censored? Completes the
    survival stack (q168 KM, q211 Nelson-Aalen) with its hypothesis
    test. Distinct-time frame + per-term 12-dp quantization — the
    suite/common.py transcendental-sum convention; int products stay
    exact, one double division per term, association order mirrored in
    the oracle verbatim."""
    from parquet_on_fhir_spark.operators.analytics import log_rank_test

    e = t(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "purch_ts"
        ),
        F.max("ts").alias("last_ts"),
    )
    spans = per_user.select(
        F.datediff(
            F.coalesce("purch_ts", "last_ts"), F.col("first_ts")
        ).alias("duration"),
        F.col("purch_ts").isNotNull().alias("event"),
        (F.col("user_id") % 2).alias("arm"),
    )
    out = log_rank_test(
        spans, "duration", "event", "arm", 0, 1, term_dp=12
    )
    return out.select(
        "n_a",
        "n_b",
        "o_a",
        d4(F.col("e_a")).alias("e_a"),
        d4(F.col("chi2")).alias("chi2"),
    )


Q216_ORACLE = """
WITH per_user AS (
  SELECT user_id,
         min(ts) AS first_ts,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS purch_ts,
         max(ts) AS last_ts
  FROM events GROUP BY user_id
),
spans AS (
  SELECT date_diff('day', CAST(first_ts AS DATE),
                   CAST(COALESCE(purch_ts, last_ts) AS DATE)) AS duration,
         CAST(purch_ts IS NOT NULL AS INT) AS ev,
         user_id % 2 AS arm
  FROM per_user
),
per_t AS (
  SELECT duration AS t,
         sum(CASE WHEN arm = 0 THEN ev ELSE 0 END) AS d1,
         sum(CASE WHEN arm = 0 THEN 1 - ev ELSE 0 END) AS c1,
         sum(CASE WHEN arm = 1 THEN ev ELSE 0 END) AS d2,
         sum(CASE WHEN arm = 1 THEN 1 - ev ELSE 0 END) AS c2
  FROM spans GROUP BY duration
),
risk AS (
  SELECT d1, d2, c1, c2,
         sum(d1 + c1) OVER ()
           - coalesce(sum(d1 + c1) OVER (ORDER BY t ROWS BETWEEN
               UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n1,
         sum(d2 + c2) OVER ()
           - coalesce(sum(d2 + c2) OVER (ORDER BY t ROWS BETWEEN
               UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n2
  FROM per_t
),
terms AS (
  SELECT d1, c1, d2, c2,
         round(CASE WHEN n1 + n2 > 0 THEN
           CAST((d1 + d2) * n1 AS DOUBLE) / CAST(n1 + n2 AS DOUBLE)
         END, 12) AS e1_t,
         round(CASE WHEN n1 + n2 > 1 THEN
           (CAST(d1 + d2 AS DOUBLE)
              * CAST((n1 + n2) - (d1 + d2) AS DOUBLE)
              * CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
           / (CAST((n1 + n2) * (n1 + n2) AS DOUBLE)
              * CAST((n1 + n2) - 1 AS DOUBLE))
         END, 12) AS v_t
  FROM risk
),
agg AS (
  SELECT sum(d1 + c1) AS n_a, sum(d2 + c2) AS n_b, sum(d1) AS o_a,
         sum(e1_t) AS e_a, sum(v_t) AS var_a
  FROM terms
)
SELECT CAST(n_a AS BIGINT) AS n_a,
       CAST(n_b AS BIGINT) AS n_b,
       CAST(o_a AS BIGINT) AS o_a,
       round(e_a + 1e-9, 4) AS e_a,
       round(CASE WHEN var_a > 0
             THEN (o_a - e_a) * (o_a - e_a) / var_a END + 1e-9, 4) AS chi2
FROM agg
"""


QUERIES.append(Q("q216_log_rank", q216, Q216_ORACLE))


# --- Q217: average precision (area under the PR curve) -------------------------------
def q217(spark, sf_dir):
    """Average precision of n_chars as a retrieval score for lang='en'
    (operators/analytics.py::average_precision) — the class-imbalance
    companion to q169's ROC AUC, sklearn step convention with tied
    scores entering as one threshold block. Same scale shape as
    binary_auc: distinct-score pre-aggregation, one window over that
    frame, per-term 12-dp quantization."""
    from parquet_on_fhir_spark.operators.analytics import average_precision

    d = t(spark, sf_dir, "documents")
    lab = d.select(
        F.col("n_chars").cast("double").alias("score"),
        (F.col("lang") == "en").alias("label"),
    )
    out = average_precision(lab, "score", "label", term_dp=12)
    return out.select(d4(F.col("ap")).alias("ap"), "n_pos", "n")


Q217_ORACLE = """
WITH per_score AS (
  SELECT CAST(n_chars AS DOUBLE) AS score,
         count(*) AS cnt,
         sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS pos
  FROM documents GROUP BY 1
),
cum AS (
  SELECT pos,
         sum(cnt) OVER (ORDER BY score DESC ROWS BETWEEN
           UNBOUNDED PRECEDING AND CURRENT ROW) AS cumcnt,
         sum(pos) OVER (ORDER BY score DESC ROWS BETWEEN
           UNBOUNDED PRECEDING AND CURRENT ROW) AS cumpos
  FROM per_score
),
agg AS (
  SELECT sum(round(CAST(pos * cumpos AS DOUBLE)
                   / CAST(cumcnt AS DOUBLE), 12)) AS tsum,
         sum(pos) AS n_pos,
         max(cumcnt) AS n
  FROM cum
)
SELECT round(CASE WHEN n_pos > 0
             THEN tsum / CAST(n_pos AS DOUBLE) END + 1e-9, 4) AS ap,
       CAST(n_pos AS BIGINT) AS n_pos,
       CAST(n AS BIGINT) AS n
FROM agg
"""


QUERIES.append(Q("q217_average_precision", q217, Q217_ORACLE))


# --- Q218: IPW average treatment effect ----------------------------------------------
def q218(spark, sf_dir):
    """Stratified inverse-propensity-weighted ATE (operators/
    analytics.py::ipw_ate): effect of having signed up (treatment) on
    per-user purchase spend (outcome), stratified by a 4-way user
    cohort. The row-level Horvitz-Thompson sum collapses to
    per-stratum terms, so the plan is two hash aggregates + a K-row
    strata frame; non-overlap strata excluded (positivity)."""
    from parquet_on_fhir_spark.operators.analytics import ipw_ate

    e = t(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        (
            F.max((F.col("event_type") == "signup").cast("int")) == 1
        ).alias("treated"),
        F.coalesce(
            F.sum(F.when(F.col("event_type") == "purchase", F.col("value"))),
            F.lit(0.0),
        ).alias("spend"),
    )
    units = per_user.select(
        "treated", "spend", (F.col("user_id") % 4).alias("stratum")
    )
    out = ipw_ate(units, "treated", "spend", ["stratum"])
    return out.select(
        d4(F.col("ate")).alias("ate"),
        "n_units",
        "n_used",
        "n_treated",
        "n_control",
    )


Q218_ORACLE = """
WITH per_user AS (
  SELECT user_id % 4 AS stratum,
         max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS t,
         coalesce(sum(CASE WHEN event_type = 'purchase' THEN value END),
                  0.0) AS y
  FROM events GROUP BY user_id
),
per_s AS (
  SELECT stratum, count(*) AS n, sum(t) AS n_t,
         sum(CASE WHEN t = 1 THEN y END) AS y_t,
         sum(CASE WHEN t = 0 THEN y END) AS y_c
  FROM per_user GROUP BY stratum
),
overlap AS (SELECT * FROM per_s WHERE n_t > 0 AND n_t < n),
tot AS (SELECT count(*) AS n_units FROM per_user),
agg AS (
  SELECT sum((coalesce(y_t, 0.0) * CAST(n AS DOUBLE))
             / CAST(n_t AS DOUBLE)) AS tt,
         sum((coalesce(y_c, 0.0) * CAST(n AS DOUBLE))
             / CAST(n - n_t AS DOUBLE)) AS cc,
         sum(n) AS n_used, sum(n_t) AS n_treated,
         sum(n - n_t) AS n_control
  FROM overlap
)
SELECT round(CASE WHEN n_used > 0
             THEN (tt - cc) / CAST(n_used AS DOUBLE) END + 1e-9, 4) AS ate,
       CAST(n_units AS BIGINT) AS n_units,
       CAST(coalesce(n_used, 0) AS BIGINT) AS n_used,
       CAST(coalesce(n_treated, 0) AS BIGINT) AS n_treated,
       CAST(coalesce(n_control, 0) AS BIGINT) AS n_control
FROM agg CROSS JOIN tot
"""


QUERIES.append(Q("q218_ipw_ate", q218, Q218_ORACLE))


# --- Q219: difference-in-differences --------------------------------------------------
def q219(spark, sf_dir):
    """2x2 difference-in-differences (operators/analytics.py::
    diff_in_differences): even- vs odd-id user cohorts, first vs
    second half of the month — one hash aggregate to the 4-cell frame,
    conditional means, NULL did on a missing cell."""
    from parquet_on_fhir_spark.operators.analytics import (
        diff_in_differences,
    )

    e = t(spark, sf_dir, "events")
    labeled = e.select(
        F.when(F.col("user_id") % 2 == 0, "A").otherwise("B").alias("grp"),
        F.when(F.dayofmonth("ts") >= 16, "post").otherwise("pre").alias(
            "period"
        ),
        "value",
    )
    out = diff_in_differences(
        labeled, "grp", "period", "value", "A", "B", "pre", "post"
    )
    return out.select(
        d4(F.col("mean_treated_pre")).alias("mean_treated_pre"),
        d4(F.col("mean_treated_post")).alias("mean_treated_post"),
        d4(F.col("mean_control_pre")).alias("mean_control_pre"),
        d4(F.col("mean_control_post")).alias("mean_control_post"),
        d4(F.col("did")).alias("did"),
        "n",
    )


Q219_ORACLE = """
WITH labeled AS (
  SELECT CASE WHEN user_id % 2 = 0 THEN 'A' ELSE 'B' END AS grp,
         CASE WHEN date_part('day', ts) >= 16 THEN 'post' ELSE 'pre' END
           AS period,
         value
  FROM events
),
cells AS (
  SELECT avg(CASE WHEN grp = 'A' AND period = 'pre' THEN value END)
           AS mean_treated_pre,
         avg(CASE WHEN grp = 'A' AND period = 'post' THEN value END)
           AS mean_treated_post,
         avg(CASE WHEN grp = 'B' AND period = 'pre' THEN value END)
           AS mean_control_pre,
         avg(CASE WHEN grp = 'B' AND period = 'post' THEN value END)
           AS mean_control_post,
         count(value) AS n
  FROM labeled
)
SELECT round(mean_treated_pre + 1e-9, 4) AS mean_treated_pre,
       round(mean_treated_post + 1e-9, 4) AS mean_treated_post,
       round(mean_control_pre + 1e-9, 4) AS mean_control_pre,
       round(mean_control_post + 1e-9, 4) AS mean_control_post,
       round((mean_treated_post - mean_treated_pre)
             - (mean_control_post - mean_control_pre) + 1e-9, 4) AS did,
       CAST(n AS BIGINT) AS n
FROM cells
"""


QUERIES.append(Q("q219_diff_in_did", q219, Q219_ORACLE))


# --- Q220: restricted mean survival time + median survival ---------------------------
def q220(spark, sf_dir):
    """RMST(14d) + median survival of days-to-first-purchase
    (operators/analytics.py::restricted_mean_survival) — the scalar
    summaries of q168's KM curve, via one lead() window over the same
    distinct-time frame. Survival terms quantized at 12 dp BEFORE the
    segment products (exp is transcendental — the suite/common.py
    convention), d4 output."""
    from parquet_on_fhir_spark.operators.analytics import (
        restricted_mean_survival,
    )

    e = t(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "purch_ts"
        ),
        F.max("ts").alias("last_ts"),
    )
    spans = per_user.select(
        F.datediff(
            F.coalesce("purch_ts", "last_ts"), F.col("first_ts")
        ).alias("duration"),
        F.col("purch_ts").isNotNull().alias("event"),
    )
    out = restricted_mean_survival(
        spans, "duration", "event", tau=14.0, term_dp=12
    )
    return out.select(
        d4(F.col("rmst")).alias("rmst"),
        d4(F.col("median_t")).alias("median_t"),
        "tau",
    )


Q220_ORACLE = """
WITH per_user AS (
  SELECT user_id,
         min(ts) AS first_ts,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS purch_ts,
         max(ts) AS last_ts
  FROM events GROUP BY user_id
),
spans AS (
  SELECT date_diff('day', CAST(first_ts AS DATE),
                   CAST(COALESCE(purch_ts, last_ts) AS DATE)) AS duration,
         purch_ts IS NOT NULL AS event
  FROM per_user
),
per_t AS (
  SELECT duration AS t,
         sum(CASE WHEN event THEN 1 ELSE 0 END) AS n_events,
         sum(CASE WHEN event THEN 0 ELSE 1 END) AS n_censored
  FROM spans GROUP BY duration
),
risk AS (
  SELECT *, sum(n_events + n_censored) OVER () -
            COALESCE(sum(n_events + n_censored) OVER (
              ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS n_risk
  FROM per_t
),
km AS (
  SELECT CAST(t AS DOUBLE) AS t,
         round(CASE WHEN max(CASE WHEN n_events >= n_risk THEN 1 ELSE 0 END)
                      OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) = 1
               THEN 0.0
               ELSE exp(sum(round(ln(CASE WHEN n_events < n_risk
                               THEN 1.0 - n_events / CAST(n_risk AS DOUBLE)
                               ELSE 1.0 END), 12))
                        OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW))
               END, 12) AS s
  FROM risk
),
seg AS (
  SELECT t, s, lead(t) OVER (ORDER BY t) AS next_t FROM km
),
agg AS (
  SELECT min(t) AS first_t,
         sum(CASE WHEN t < 14.0
             THEN s * (least(coalesce(next_t, 14.0), 14.0) - t) END) AS area,
         min(CASE WHEN s <= 0.5 THEN t END) AS median_t
  FROM seg
)
SELECT round(CASE WHEN first_t IS NOT NULL
             THEN least(first_t, 14.0) + coalesce(area, 0.0) END
             + 1e-9, 4) AS rmst,
       round(median_t + 1e-9, 4) AS median_t,
       CAST(14.0 AS DOUBLE) AS tau
FROM agg
"""


QUERIES.append(Q("q220_rmst", q220, Q220_ORACLE))


# --- Q221: Mann-Whitney U rank-sum test ----------------------------------------------
def q221(spark, sf_dir):
    """Mann-Whitney U (operators/analytics.py::mann_whitney_u): do
    purchase and click event values differ in distribution? — the
    nonparametric counterpart of q170's Welch t over the same arms.
    Distinct-value frame + doubled average ranks in DECIMAL(38,0)
    (the binary_auc recipe), tie term folded exactly, two double ops
    at the end — the oracle restates the identical op order, with
    min+max row_number per value standing in for the doubled rank."""
    from parquet_on_fhir_spark.operators.analytics import mann_whitney_u

    e = t(spark, sf_dir, "events")
    out = mann_whitney_u(e, "value", "event_type", "purchase", "click")
    return out.select(
        "n_a",
        "n_b",
        "u_a",
        d4(F.col("z")).alias("z"),
    )


Q221_ORACLE = """
WITH vals AS (
  SELECT value AS v, CAST(event_type = 'purchase' AS INT) AS ga
  FROM events
  WHERE event_type IN ('purchase', 'click') AND value IS NOT NULL
),
ranked AS (
  SELECT ga,
         min(rn) OVER (PARTITION BY v) + max(rn) OVER (PARTITION BY v) AS r2,
         count(*) OVER (PARTITION BY v) AS tie
  FROM (SELECT v, ga, row_number() OVER (ORDER BY v) AS rn FROM vals)
),
agg AS (
  SELECT sum(ga) AS n_a,
         sum(1 - ga) AS n_b,
         sum(CASE WHEN ga = 1 THEN r2 ELSE 0 END) AS r2a,
         -- Σ(t³−t): each tie group of size t contributes t rows of
         -- (t²−1), exact in HUGEINT like the Spark DECIMAL(38,0) fold
         sum(tie * tie - 1) AS ties
  FROM ranked
),
terms AS (
  SELECT n_a, n_b, ties,
         r2a - n_a * (n_a + 1) AS u2,
         r2a - n_a * (n_a + 1) - n_a * n_b AS num2,
         CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0
           * (CAST(n_a + n_b + 1 AS DOUBLE)
              - CAST(ties AS DOUBLE)
                / (CAST(n_a + n_b AS DOUBLE)
                   * CAST(n_a + n_b - 1 AS DOUBLE))) AS var
  FROM agg
)
SELECT CAST(n_a AS BIGINT) AS n_a,
       CAST(n_b AS BIGINT) AS n_b,
       CAST(u2 AS DOUBLE) / 2.0 AS u_a,
       round(CASE WHEN n_a > 0 AND n_b > 0 AND var > 0
             THEN CAST(num2 AS DOUBLE) / (2.0 * sqrt(var)) END + 1e-9,
             4) AS z
FROM terms
"""


QUERIES.append(Q("q221_mann_whitney", q221, Q221_ORACLE))


# --- Q222: NDCG@10 per user ----------------------------------------------------------
def q222(spark, sf_dir):
    """Per-user NDCG@10 (operators/analytics.py::ndcg_at_k): treat
    each user's event feed as a retrieval ranking — predicted order by
    event value (event_id tiebreak), graded relevance purchase=3 /
    signup=2 / click=1 — the graded-relevance retrieval metric
    completing the AUC (q169) / AP (q217) ranking stack. Two KEYED
    windows (never global), rank truncation at k, per-term 12-dp
    quantization on the log₂ terms."""
    from parquet_on_fhir_spark.operators.analytics import ndcg_at_k

    e = t(spark, sf_dir, "events")
    rel = (
        F.when(F.col("event_type") == "purchase", 3)
        .when(F.col("event_type") == "signup", 2)
        .when(F.col("event_type") == "click", 1)
        .otherwise(0)
    )
    out = ndcg_at_k(
        e.withColumn("rel", rel),
        "user_id",
        "value",
        "rel",
        10,
        "event_id",
        term_dp=12,
    )
    return out.select(
        "user_id",
        d4(F.col("dcg")).alias("dcg"),
        d4(F.col("idcg")).alias("idcg"),
        d4(F.col("ndcg")).alias("ndcg"),
    )


Q222_ORACLE = """
WITH base AS (
  SELECT user_id, event_id, value,
         CASE event_type WHEN 'purchase' THEN 3 WHEN 'signup' THEN 2
              WHEN 'click' THEN 1 ELSE 0 END AS rel
  FROM events
),
ranked AS (
  SELECT user_id,
         power(2.0, CAST(rel AS DOUBLE)) - 1.0 AS gain,
         row_number() OVER (PARTITION BY user_id
           ORDER BY value DESC NULLS LAST, event_id) AS rp,
         row_number() OVER (PARTITION BY user_id
           ORDER BY rel DESC, event_id) AS ri
  FROM base
),
agg AS (
  SELECT user_id,
         sum(CASE WHEN rp <= 10
             THEN round(gain / log2(CAST(rp AS DOUBLE) + 1.0), 12)
             ELSE 0.0 END) AS dcg,
         sum(CASE WHEN ri <= 10
             THEN round(gain / log2(CAST(ri AS DOUBLE) + 1.0), 12)
             ELSE 0.0 END) AS idcg
  FROM ranked GROUP BY user_id
)
SELECT user_id,
       round(dcg + 1e-9, 4) AS dcg,
       round(idcg + 1e-9, 4) AS idcg,
       round(CASE WHEN idcg > 0 THEN dcg / idcg END + 1e-9, 4) AS ndcg
FROM agg
"""


QUERIES.append(Q("q222_ndcg_at_k", q222, Q222_ORACLE))


# --- Q223: mean reciprocal rank ------------------------------------------------------
def q223(spark, sf_dir):
    """MRR (operators/analytics.py::mean_reciprocal_rank): reciprocal
    rank of each user's first purchase in their value-ordered feed, 0
    for users who never purchase, averaged over ALL users — one keyed
    window + one per-group min + one global mean over the per-user
    frame."""
    from parquet_on_fhir_spark.operators.analytics import (
        mean_reciprocal_rank,
    )

    e = t(spark, sf_dir, "events")
    out = mean_reciprocal_rank(
        e.withColumn("rel", (F.col("event_type") == "purchase").cast("int")),
        "user_id",
        "value",
        "rel",
        "event_id",
    )
    return out.select(
        d4(F.col("mrr")).alias("mrr"),
        "n_groups",
        "n_hit",
    )


Q223_ORACLE = """
WITH ranked AS (
  SELECT user_id, event_type = 'purchase' AS rel,
         row_number() OVER (PARTITION BY user_id
           ORDER BY value DESC NULLS LAST, event_id) AS rn
  FROM events
),
per AS (
  SELECT user_id, min(CASE WHEN rel THEN rn END) AS first_rel
  FROM ranked GROUP BY user_id
)
SELECT round(avg(COALESCE(1.0 / first_rel, 0.0)) + 1e-9, 4) AS mrr,
       count(*) AS n_groups,
       count(first_rel) AS n_hit
FROM per
"""


QUERIES.append(Q("q223_mrr", q223, Q223_ORACLE))


# --- Q224: Spearman rank correlation -------------------------------------------------
def q224(spark, sf_dir):
    """Spearman ρ between lineitem quantity and extended price
    (operators/analytics.py::spearman_correlation) — monotone
    association robust to the price distribution's shape; quantity's
    50 distinct values exercise heavy ties. All six moments fold
    exactly over doubled average ranks (DECIMAL(38,0) Spark-side,
    HUGEINT in the oracle); the final ρ is one mirrored double
    expression."""
    from parquet_on_fhir_spark.operators.analytics import (
        spearman_correlation,
    )

    li = t(spark, sf_dir, "lineitem")
    out = spearman_correlation(
        li.select(
            F.col("l_quantity").cast("double").alias("qty"),
            F.col("l_extendedprice").cast("double").alias("price"),
        ),
        "qty",
        "price",
    )
    return out.select(d4(F.col("rho")).alias("rho"), "n")


Q224_ORACLE = """
WITH base AS (
  SELECT CAST(l_quantity AS DOUBLE) AS x,
         CAST(l_extendedprice AS DOUBLE) AS y
  FROM lineitem
  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
),
ranked AS (
  SELECT min(rnx) OVER (PARTITION BY x)
           + max(rnx) OVER (PARTITION BY x) AS rx,
         min(rny) OVER (PARTITION BY y)
           + max(rny) OVER (PARTITION BY y) AS ry
  FROM (
    SELECT x, y,
           row_number() OVER (ORDER BY x) AS rnx,
           row_number() OVER (ORDER BY y) AS rny
    FROM base
  )
),
agg AS (
  SELECT count(*) AS n,
         sum(rx) AS sx, sum(ry) AS sy,
         sum(rx * rx) AS sxx, sum(ry * ry) AS syy,
         sum(rx * ry) AS sxy
  FROM ranked
)
SELECT round(CASE WHEN n >= 2
         AND CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
         AND CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
             - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) > 0
       THEN (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                   * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
       END + 1e-9, 4) AS rho,
       n
FROM agg
"""


QUERIES.append(Q("q224_spearman", q224, Q224_ORACLE))


# --- Q226: one-way ANOVA F -----------------------------------------------------------
def q226(spark, sf_dir):
    """One-way ANOVA F across all five event types (operators/
    analytics.py::anova_f): the k-sample mean test completing the
    q170 Welch-t / q221 Mann-Whitney pairwise stack — one hash
    aggregate to the K-row moment frame, K-row reduce, nothing but
    moments crosses a shuffle."""
    from parquet_on_fhir_spark.operators.analytics import anova_f

    e = t(spark, sf_dir, "events")
    out = anova_f(e, "value", "event_type")
    return out.select(
        d4(F.col("f")).alias("f"),
        d4(F.col("eta_sq")).alias("eta_sq"),
        "df_between",
        "df_within",
        "n",
        "k",
    )


Q226_ORACLE = """
WITH per_g AS (
  SELECT event_type AS g, count(*) AS n,
         sum(value) AS s, sum(value * value) AS ss
  FROM events
  WHERE value IS NOT NULL AND event_type IS NOT NULL
  GROUP BY event_type
),
agg AS (
  SELECT count(*) AS k, sum(n) AS n, sum(s) AS ts, sum(ss) AS tss,
         sum(s * s / n) AS sb
  FROM per_g
)
SELECT round(CASE WHEN k >= 2 AND n > k AND (tss - sb) > 0
         THEN ((sb - ts * ts / CAST(n AS DOUBLE)) / CAST(k - 1 AS DOUBLE))
              / ((tss - sb) / CAST(n - k AS DOUBLE)) END + 1e-9, 4) AS f,
       round(CASE WHEN (tss - ts * ts / CAST(n AS DOUBLE)) > 0
         THEN (sb - ts * ts / CAST(n AS DOUBLE))
              / (tss - ts * ts / CAST(n AS DOUBLE)) END + 1e-9, 4) AS eta_sq,
       CAST(k - 1 AS BIGINT) AS df_between,
       CAST(n - k AS BIGINT) AS df_within,
       CAST(n AS BIGINT) AS n,
       k
FROM agg
"""


QUERIES.append(Q("q226_anova_f", q226, Q226_ORACLE))


# --- Q227: Kruskal-Wallis H ----------------------------------------------------------
def q227(spark, sf_dir):
    """Kruskal-Wallis H across all five event types (operators/
    analytics.py::kruskal_wallis) — q226's rank sibling. Doubled rank
    sums and the tie term fold exactly (DECIMAL(38,0) / HUGEINT); the
    K-row Σ(2R_g)²/n_g combination and the H expression are mirrored
    double ops."""
    from parquet_on_fhir_spark.operators.analytics import kruskal_wallis

    e = t(spark, sf_dir, "events")
    out = kruskal_wallis(e, "value", "event_type")
    return out.select(d4(F.col("h")).alias("h"), "df", "n", "k")


Q227_ORACLE = """
WITH vals AS (
  SELECT value AS v, event_type AS g FROM events
  WHERE value IS NOT NULL AND event_type IS NOT NULL
),
ranked AS (
  SELECT g,
         min(rn) OVER (PARTITION BY v) + max(rn) OVER (PARTITION BY v) AS r2,
         count(*) OVER (PARTITION BY v) AS tie
  FROM (SELECT v, g, row_number() OVER (ORDER BY v) AS rn FROM vals)
),
per_g AS (
  SELECT g, count(*) AS ng, sum(r2) AS r2g FROM ranked GROUP BY g
),
tt AS (SELECT sum(tie * tie - 1) AS t FROM ranked),
agg AS (
  SELECT count(*) AS k, sum(ng) AS n,
         sum(CAST(r2g AS DOUBLE) * CAST(r2g AS DOUBLE)
             / CAST(ng AS DOUBLE)) AS s2
  FROM per_g
)
SELECT round(CASE WHEN k >= 2 AND n > 1
         AND 1.0 - CAST(t AS DOUBLE)
             / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                - CAST(n AS DOUBLE)) > 0
         THEN (3.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)) * s2
               - 3.0 * (CAST(n AS DOUBLE) + 1.0))
              / (1.0 - CAST(t AS DOUBLE)
                 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                    * CAST(n AS DOUBLE) - CAST(n AS DOUBLE)))
         END + 1e-9, 4) AS h,
       CAST(k - 1 AS BIGINT) AS df,
       CAST(n AS BIGINT) AS n,
       k
FROM agg CROSS JOIN tt
"""


QUERIES.append(Q("q227_kruskal_wallis", q227, Q227_ORACLE))


# --- Q229: Brown-Forsythe variance homogeneity ---------------------------------------
def q229(spark, sf_dir):
    """Brown-Forsythe W across the five event types (operators/
    analytics.py::variance_homogeneity): Levene's test with median
    centers — the q226 ANOVA assumption check. Exact per-group medians
    broadcast back (K-row frame), then the anova_f moment fold over
    |x − median_g|; two corpus passes, K-row shuffles only."""
    from parquet_on_fhir_spark.operators.analytics import (
        variance_homogeneity,
    )

    e = t(spark, sf_dir, "events")
    out = variance_homogeneity(e, "value", "event_type")
    return out.select(
        d4(F.col("w")).alias("w"),
        "df_between",
        "df_within",
        "n",
        "k",
    )


Q229_ORACLE = """
WITH base AS (
  SELECT event_type AS g, value AS v FROM events
  WHERE value IS NOT NULL AND event_type IS NOT NULL
),
meds AS (SELECT g, median(v) AS med FROM base GROUP BY g),
z AS (
  SELECT base.g, abs(v - med) AS z FROM base JOIN meds USING (g)
),
per_g AS (
  SELECT g, count(*) AS n, sum(z) AS s, sum(z * z) AS ss
  FROM z GROUP BY g
),
agg AS (
  SELECT count(*) AS k, sum(n) AS n, sum(s) AS ts, sum(ss) AS tss,
         sum(s * s / n) AS sb
  FROM per_g
)
SELECT round(CASE WHEN k >= 2 AND n > k AND (tss - sb) > 0
         THEN ((sb - ts * ts / CAST(n AS DOUBLE)) / CAST(k - 1 AS DOUBLE))
              / ((tss - sb) / CAST(n - k AS DOUBLE)) END + 1e-9, 4) AS w,
       CAST(k - 1 AS BIGINT) AS df_between,
       CAST(n - k AS BIGINT) AS df_within,
       CAST(n AS BIGINT) AS n,
       k
FROM agg
"""


QUERIES.append(Q("q229_brown_forsythe", q229, Q229_ORACLE))


# --- Q231: distributed logistic regression (rows-only) -------------------------------
def q231(spark, sf_dir):
    """Propensity-style logistic fit (operators/analytics.py::
    logistic_regression_fit): P(user purchases | activity features)
    by IRLS — each Newton round is ONE corpus aggregate with β
    broadcast as literals; the (p+1)-dim solve is driver-side numpy.
    Rows-only: an iterative MLE has no ANSI-SQL restatement; the
    covering test pits it against an independent numpy IRLS."""
    from parquet_on_fhir_spark.operators.analytics import (
        logistic_regression_fit,
    )

    e = t(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.avg("value").alias("avg_value"),
        F.sum((F.col("event_type") == "click").cast("int")).alias("n_clicks"),
        F.max((F.col("event_type") == "purchase").cast("int")).alias(
            "purchased"
        ),
    )
    return logistic_regression_fit(
        per_user, ["n_events", "avg_value", "n_clicks"], "purchased"
    )


QUERIES.append(Q("q231_logistic_fit", q231, None))


# --- Q231b: logistic round-0 score + Hessian moments (oracle twin of q231) -----------
def q231b(spark, sf_dir):
    """The IRLS round-0 moments of a q231-style logistic fit, as one
    hash-checkable row (r9 verdict task 5): at beta = 0 the score is
    X'(y - 1/2) and the Hessian is X'X / 4, so emitting the X'X upper
    triangle plus the gradient makes everything Spark computes to FEED
    the solve oracle-checkable (the iterative solve itself stays
    rows-only in q231). Features are the exact-arithmetic variant of
    q231's: n_events, SUM(value) and n_clicks per user — sum_value
    replaces avg_value (= sum/count) because value is 2dp-exact, so
    per-user sums cast to DECIMAL(18,2) keep every product and sum
    EXACT in both engines, where an avg would reintroduce float
    division. Two aggregates total (per-user, then 1-row combine).
    Moment columns are projected as STRINGS on both sides (r10
    verdict task 1): DECIMAL(38,4) *output* columns degrade to
    float64 in the driver's Arrow fetch, so the final row renders
    each moment via the fixed-scale decimal->string cast, which
    Spark and DuckDB format identically."""
    e = t(spark, sf_dir, "events")
    half = F.expr("CAST(0.5 AS DECIMAL(2,1))")
    pu = e.groupBy("user_id").agg(
        F.count("*").cast("decimal(18,2)").alias("f1"),
        F.sum(F.col("value").cast("decimal(18,2)"))
        .cast("decimal(18,2)")
        .alias("f2"),
        F.sum((F.col("event_type") == "click").cast("long"))
        .cast("decimal(18,2)")
        .alias("f3"),
        F.max((F.col("event_type") == "purchase").cast("int"))
        .cast("decimal(2,1)")
        .alias("y"),
    )
    keys = ["f1", "f2", "f3"]
    aggs = [F.count("*").cast("long").alias("n")]
    for i, a in enumerate(keys):
        aggs.append(
            F.sum(F.col(a))
            .cast("decimal(38,4)")
            .cast("string")
            .alias(f"s_{a}")
        )
        for b in keys[i:]:
            aggs.append(
                F.sum(F.col(a) * F.col(b))
                .cast("decimal(38,4)")
                .cast("string")
                .alias(f"s_{a}{b}")
            )
    aggs.append(
        F.sum(F.col("y") - half)
        .cast("decimal(38,4)")
        .cast("string")
        .alias("g_0")
    )
    for a in keys:
        aggs.append(
            F.sum(F.col(a) * (F.col("y") - half))
            .cast("decimal(38,4)")
            .cast("string")
            .alias(f"g_{a}")
        )
    return pu.agg(*aggs)


Q231B_ORACLE = """
WITH pu AS (
  SELECT user_id,
         CAST(count(*) AS DECIMAL(18,2)) AS f1,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DECIMAL(18,2)) AS f2,
         CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
              AS DECIMAL(18,2)) AS f3,
         CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS DECIMAL(2,1)) AS y
  FROM events GROUP BY user_id
)
SELECT CAST(count(*) AS BIGINT) AS n,
       CAST(CAST(SUM(f1) AS DECIMAL(38,4)) AS VARCHAR) AS s_f1,
       CAST(CAST(SUM(f1*f1) AS DECIMAL(38,4)) AS VARCHAR) AS s_f1f1,
       CAST(CAST(SUM(f1*f2) AS DECIMAL(38,4)) AS VARCHAR) AS s_f1f2,
       CAST(CAST(SUM(f1*f3) AS DECIMAL(38,4)) AS VARCHAR) AS s_f1f3,
       CAST(CAST(SUM(f2) AS DECIMAL(38,4)) AS VARCHAR) AS s_f2,
       CAST(CAST(SUM(f2*f2) AS DECIMAL(38,4)) AS VARCHAR) AS s_f2f2,
       CAST(CAST(SUM(f2*f3) AS DECIMAL(38,4)) AS VARCHAR) AS s_f2f3,
       CAST(CAST(SUM(f3) AS DECIMAL(38,4)) AS VARCHAR) AS s_f3,
       CAST(CAST(SUM(f3*f3) AS DECIMAL(38,4)) AS VARCHAR) AS s_f3f3,
       CAST(CAST(SUM(y - CAST(0.5 AS DECIMAL(2,1))) AS DECIMAL(38,4)) AS VARCHAR) AS g_0,
       CAST(CAST(SUM(f1 * (y - CAST(0.5 AS DECIMAL(2,1)))) AS DECIMAL(38,4)) AS VARCHAR) AS g_f1,
       CAST(CAST(SUM(f2 * (y - CAST(0.5 AS DECIMAL(2,1)))) AS DECIMAL(38,4)) AS VARCHAR) AS g_f2,
       CAST(CAST(SUM(f3 * (y - CAST(0.5 AS DECIMAL(2,1)))) AS DECIMAL(38,4)) AS VARCHAR) AS g_f3
FROM pu
"""


QUERIES.append(Q("q231b_logistic_moments", q231b, Q231B_ORACLE))


# --- Q232: population stability index ------------------------------------------------
def q232(spark, sf_dir):
    """PSI drift between click (reference) and purchase (candidate)
    event values (operators/analytics.py::population_stability_index):
    10 equal-width bins over the pooled range, Laplace-smoothed
    proportions, each ln term 12-dp-quantized — the binned
    practitioner's drift score beside q161's KL/JSD."""
    from parquet_on_fhir_spark.operators.analytics import (
        population_stability_index,
    )

    e = t(spark, sf_dir, "events")
    out = population_stability_index(
        e, "value", "event_type", "click", "purchase", bins=10
    )
    return out.select(
        d4(F.col("psi")).alias("psi"), "n_ref", "n_cand", "n_bins"
    )


Q232_ORACLE = """
WITH base AS (
  SELECT CAST(value AS DOUBLE) AS v, event_type = 'click' AS is_ref
  FROM events
  WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL
),
ext AS (SELECT min(v) AS lo, max(v) AS hi FROM base),
binned AS (
  SELECT is_ref,
         CASE WHEN hi = lo THEN 0
              ELSE least(CAST(floor((v - lo) / ((hi - lo) / 10)) AS INT), 9)
         END AS bin
  FROM base CROSS JOIN ext
),
per_bin AS (
  SELECT bin,
         count(CASE WHEN is_ref THEN 1 END) AS cr,
         count(CASE WHEN NOT is_ref THEN 1 END) AS cc
  FROM binned GROUP BY bin
),
tot AS (SELECT sum(cr) AS n_ref, sum(cc) AS n_cand FROM per_bin),
terms AS (
  SELECT round(((cr + 0.5) / (n_ref + 5.0) - (cc + 0.5) / (n_cand + 5.0))
               * ln(((cr + 0.5) / (n_ref + 5.0))
                    / ((cc + 0.5) / (n_cand + 5.0))), 12) AS term,
         n_ref, n_cand
  FROM per_bin CROSS JOIN tot
)
SELECT round(sum(term) + 1e-9, 4) AS psi,
       CAST(max(n_ref) AS BIGINT) AS n_ref,
       CAST(max(n_cand) AS BIGINT) AS n_cand,
       count(*) AS n_bins
FROM terms
"""


QUERIES.append(Q("q232_psi_drift", q232, Q232_ORACLE))


# --- Q234: two-proportion z-test -------------------------------------------------------
def q234(spark, sf_dir):
    """Conversion A/B readout (operators/analytics.py::
    proportions_ztest): do even- and odd-id user cohorts purchase at
    different rates? One hash aggregate to the exact 2×2 frame, fixed
    double sequence for z / risk ratio / odds ratio — the categorical
    sibling of q170 (means) and q221 (ranks)."""
    from parquet_on_fhir_spark.operators.analytics import proportions_ztest

    e = t(spark, sf_dir, "events")
    per_user = e.groupBy("user_id").agg(
        F.max((F.col("event_type") == "purchase").cast("int")).alias(
            "converted"
        )
    ).select((F.col("user_id") % 2).alias("arm"), "converted")
    out = proportions_ztest(per_user, "arm", 0, 1, "converted")
    return out.select(
        "n_a", "n_b", "x_a", "x_b",
        d4(F.col("p_a")).alias("p_a"),
        d4(F.col("p_b")).alias("p_b"),
        d4(F.col("z")).alias("z"),
        d4(F.col("risk_ratio")).alias("risk_ratio"),
        d4(F.col("odds_ratio")).alias("odds_ratio"),
    )


Q234_ORACLE = """
WITH per_user AS (
  SELECT user_id % 2 AS arm,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY user_id
),
agg AS (
  SELECT sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS n_a,
         sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n_b,
         sum(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS x_a,
         sum(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS x_b
  FROM per_user
),
d AS (
  SELECT n_a, n_b, x_a, x_b,
         CAST(n_a AS DOUBLE) AS na, CAST(n_b AS DOUBLE) AS nb,
         CAST(x_a AS DOUBLE) AS xa, CAST(x_b AS DOUBLE) AS xb
  FROM agg
)
SELECT CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       CAST(x_a AS BIGINT) AS x_a, CAST(x_b AS BIGINT) AS x_b,
       round(CASE WHEN n_a > 0 THEN xa / na END + 1e-9, 4) AS p_a,
       round(CASE WHEN n_b > 0 THEN xb / nb END + 1e-9, 4) AS p_b,
       round(CASE WHEN n_a > 0 AND n_b > 0
         AND (xa + xb) / (na + nb) > 0 AND (xa + xb) / (na + nb) < 1
         THEN (xa / na - xb / nb)
              / sqrt((xa + xb) / (na + nb) * (1.0 - (xa + xb) / (na + nb))
                     * (1.0 / na + 1.0 / nb)) END + 1e-9, 4) AS z,
       round(CASE WHEN n_a > 0 AND n_b > 0 AND xb / nb > 0
         THEN (xa / na) / (xb / nb) END + 1e-9, 4) AS risk_ratio,
       round(CASE WHEN xa > 0 AND xb > 0 AND na - xa > 0 AND nb - xb > 0
         THEN (xa * (nb - xb)) / (xb * (na - xa)) END + 1e-9, 4)
         AS odds_ratio
FROM d
"""


QUERIES.append(Q("q234_proportions_ztest", q234, Q234_ORACLE))


# --- Q235: Poisson-bootstrap CI for a corpus mean -------------------------------------
def q235(spark, sf_dir):
    """Hash-seeded Poisson-bootstrap CI for mean document length
    (operators/analytics.py::bootstrap_mean_ci): 200 deterministic
    replicates from md5-uniform weights, order-statistic bounds over
    the B-row mean frame — corpus-metric uncertainty without
    collecting a row. Shuffle = B × partitions partials, never
    corpus × B."""
    from parquet_on_fhir_spark.operators.analytics import bootstrap_mean_ci

    d = t(spark, sf_dir, "documents")
    out = bootstrap_mean_ci(
        d, "n_chars", "doc_id", n_replicates=200, seed=0, alpha=0.05
    )
    return out.select(
        d4(F.col("mean")).alias("mean"),
        d4(F.col("ci_lo")).alias("ci_lo"),
        d4(F.col("ci_hi")).alias("ci_hi"),
        "n",
        "n_replicates",
    )


def _q235_oracle() -> str:
    from parquet_on_fhir_spark.operators.analytics import POISSON1_CDF

    case = " ".join(
        f"WHEN u < {c!r} THEN {k}" for k, c in enumerate(POISSON1_CDF)
    )
    return f"""
WITH base AS (
  SELECT CAST(doc_id AS VARCHAR) AS id, CAST(n_chars AS DOUBLE) AS x
  FROM documents WHERE n_chars IS NOT NULL
),
reps AS (
  SELECT id, x, b FROM base
  CROSS JOIN (SELECT unnest(range(0, 200)) AS b)
),
uu AS (
  SELECT x, b,
         CAST('0x' || substr(md5('bs0:' || id || ':' || CAST(b AS VARCHAR)),
                             1, 15) AS BIGINT)
           / CAST(1152921504606846976 AS DOUBLE) AS u
  FROM reps
),
wt AS (SELECT b, x, CASE {case} ELSE 6 END AS wgt FROM uu),
means AS (
  SELECT b, sum(wgt * x) / sum(wgt) AS m
  FROM wt GROUP BY b HAVING sum(wgt) > 0
),
ranked AS (
  SELECT m, row_number() OVER (ORDER BY m) AS r,
         count(*) OVER () AS nb
  FROM means
),
bounds AS (
  SELECT min(CASE WHEN r = CAST(floor(0.025 * nb) AS INT) + 1 THEN m END)
           AS ci_lo,
         min(CASE WHEN r = nb - CAST(floor(0.025 * nb) AS INT) THEN m END)
           AS ci_hi,
         max(nb) AS nb
  FROM ranked
),
pt AS (SELECT avg(x) AS mean, count(*) AS n FROM base)
SELECT round(mean + 1e-9, 4) AS mean,
       round(ci_lo + 1e-9, 4) AS ci_lo,
       round(ci_hi + 1e-9, 4) AS ci_hi,
       n,
       CAST(nb AS BIGINT) AS n_replicates
FROM pt CROSS JOIN bounds
"""


QUERIES.append(Q("q235_bootstrap_ci", q235, _q235_oracle()))


# --- Q236: two-sample Kolmogorov-Smirnov drift test -----------------------------------
def q236(spark, sf_dir):
    """Distribution drift between cohorts without a binning choice
    (operators/analytics.py::ks_two_sample): KS D over document
    lengths, English vs German — integer-exact ECDF-gap numerator on
    the pooled distinct-value frame (the mann_whitney/binary_auc scale
    shape: one hash aggregate, one distinct-value window, exactly one
    double division)."""
    from parquet_on_fhir_spark.operators.analytics import ks_two_sample

    d = t(spark, sf_dir, "documents")
    out = ks_two_sample(d, "n_chars", "lang", "en", "de")
    return out.select(
        "n_a",
        "n_b",
        d4(F.col("d_stat")).alias("d_stat"),
        d4(F.col("ks_z")).alias("ks_z"),
    )


Q236_ORACLE = """
WITH f AS (
  SELECT n_chars AS v, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS ia
  FROM documents WHERE lang IN ('en', 'de')
),
pv AS (SELECT v, count(*) AS c, sum(ia) AS ca FROM f GROUP BY v),
cum AS (
  SELECT sum(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS cum_a,
         sum(c - ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS cum_b,
         sum(ca) OVER () AS na,
         sum(c - ca) OVER () AS nb
  FROM pv
),
agg AS (
  SELECT max(abs(cum_a * nb - cum_b * na)) AS num,
         max(na) AS na, max(nb) AS nb
  FROM cum
)
SELECT CAST(na AS BIGINT) AS n_a,
       CAST(nb AS BIGINT) AS n_b,
       CASE WHEN na > 0 AND nb > 0 THEN
         round(CAST(num AS DOUBLE)
               / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) + 1e-9, 4)
       END AS d_stat,
       CASE WHEN na > 0 AND nb > 0 THEN
         round(CAST(num AS DOUBLE)
               / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE))
               * sqrt(CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)
                      / (CAST(na AS DOUBLE) + CAST(nb AS DOUBLE)))
               + 1e-9, 4) END AS ks_z
FROM agg
"""


QUERIES.append(Q("q236_ks_two_sample", q236, Q236_ORACLE))


# --- Q237: Theil inequality decomposition of customer revenue -------------------------
def q237(spark, sf_dir):
    """Revenue-concentration attribution (operators/analytics.py::
    theil_index): Theil T of per-customer revenue decomposed into
    between-nation and within-nation inequality — the additive
    decomposition Gini lacks. Revenue folds in DECIMAL(18,2) (2dp-
    exact money) so every mean/share is a ratio of exact ingredients;
    ln terms are 12dp-quantized per the transcendental-sum
    convention."""
    from parquet_on_fhir_spark.operators.analytics import theil_index

    c = t(spark, sf_dir, "customer")
    o = t(spark, sf_dir, "orders")
    rev = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("decimal(18,2)")
        .alias("revenue")
    )
    j = rev.join(
        F.broadcast(
            c.select(F.col("c_custkey").alias("o_custkey"), "c_nationkey")
        ),
        "o_custkey",
    )
    out = theil_index(j, "revenue", "c_nationkey", term_dp=12)
    return out.select(
        "n",
        d4(F.col("theil")).alias("theil"),
        d4(F.col("theil_between")).alias("theil_between"),
        d4(F.col("theil_within")).alias("theil_within"),
    )


Q237_ORACLE = """
WITH rev AS (
  SELECT o_custkey,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(18,2))
           AS x
  FROM orders GROUP BY o_custkey
),
j AS (
  SELECT r.x, c.c_nationkey AS g
  FROM rev r JOIN customer c ON r.o_custkey = c.c_custkey
  WHERE r.x > 0
),
ga AS (
  SELECT g, CAST(SUM(x) AS DECIMAL(38,2)) AS sg, count(*) AS ng
  FROM j GROUP BY g
),
tot AS (
  SELECT CAST(SUM(sg) AS DECIMAL(38,2)) AS s, CAST(SUM(ng) AS BIGINT) AS n
  FROM ga
),
btw AS (
  SELECT SUM(round((CAST(sg AS DOUBLE) / CAST(s AS DOUBLE))
                   * ln((CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE))
                        / (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))),
             12)) AS tb
  FROM ga CROSS JOIN tot
),
rws AS (
  SELECT round((CAST(x AS DOUBLE)
                / (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)))
               * ln(CAST(x AS DOUBLE)
                    / (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))), 12)
           AS tt,
         round((CAST(x AS DOUBLE)
                / (CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE)))
               * ln(CAST(x AS DOUBLE)
                    / (CAST(sg AS DOUBLE) / CAST(ng AS DOUBLE))), 12)
           * ((CAST(sg AS DOUBLE) / CAST(s AS DOUBLE))
              / CAST(ng AS DOUBLE)) AS tw,
         n
  FROM j JOIN ga USING (g) CROSS JOIN tot
)
SELECT CAST(max(n) AS BIGINT) AS n,
       round(SUM(tt) / CAST(max(n) AS DOUBLE) + 1e-9, 4) AS theil,
       round((SELECT tb FROM btw) + 1e-9, 4) AS theil_between,
       round(SUM(tw) + 1e-9, 4) AS theil_within
FROM rws
"""


QUERIES.append(Q("q237_theil_index", q237, Q237_ORACLE))


# --- Q238: Aalen-Johansen competing-risks cumulative incidence ------------------------
def q238(spark, sf_dir):
    """Competing-risks funnel (operators/analytics.py::aalen_johansen):
    per user, days from first event to whichever of PURCHASE or ERROR
    strikes first (the other cause then can never happen first — the
    competing-risks structure naive 1−KM ignores), censored at the
    last event. CIF via running-sum windows over the distinct-time
    frame; ln factors AND CIF increments 12dp-quantized
    (suite/common.py transcendental-sum convention)."""
    from parquet_on_fhir_spark.operators.analytics import aalen_johansen

    e = t(spark, sf_dir, "events")
    pu = e.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "p_ts"
        ),
        F.min(F.when(F.col("event_type") == "error", F.col("ts"))).alias(
            "e_ts"
        ),
        F.max("ts").alias("last_ts"),
    )
    p_first = F.col("p_ts").isNotNull() & (
        F.col("e_ts").isNull() | (F.col("p_ts") <= F.col("e_ts"))
    )
    end_ts = (
        F.when(p_first, F.col("p_ts"))
        .when(F.col("e_ts").isNotNull(), F.col("e_ts"))
        .otherwise(F.col("last_ts"))
    )
    spans = pu.select(
        F.when(p_first, F.lit("purchase"))
        .when(F.col("e_ts").isNotNull(), F.lit("error"))
        .alias("cause"),
        F.datediff(end_ts, F.col("first_ts")).alias("duration"),
    )
    out = aalen_johansen(
        spans, "duration", "cause", ["purchase", "error"], term_dp=12
    )
    return out.select(
        F.col("t").cast("int").alias("t"),
        "cause",
        "n_risk",
        "n_events",
        d4(F.col("cif")).alias("cif"),
    )


Q238_ORACLE = """
WITH pu AS (
  SELECT user_id,
         min(ts) AS first_ts,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS p_ts,
         min(CASE WHEN event_type = 'error' THEN ts END) AS e_ts,
         max(ts) AS last_ts
  FROM events GROUP BY user_id
),
spans AS (
  SELECT CASE WHEN p_ts IS NOT NULL AND (e_ts IS NULL OR p_ts <= e_ts)
              THEN 'purchase'
              WHEN e_ts IS NOT NULL THEN 'error' END AS cause,
         date_diff('day', CAST(first_ts AS DATE),
                   CAST(CASE WHEN p_ts IS NOT NULL
                                  AND (e_ts IS NULL OR p_ts <= e_ts)
                             THEN p_ts
                             WHEN e_ts IS NOT NULL THEN e_ts
                             ELSE last_ts END AS DATE)) AS t
  FROM pu
),
per_t AS (
  SELECT t,
         sum(CASE WHEN cause = 'purchase' THEN 1 ELSE 0 END) AS d0,
         sum(CASE WHEN cause = 'error' THEN 1 ELSE 0 END) AS d1,
         count(*) AS lv
  FROM spans GROUP BY t
),
risk AS (
  SELECT *, sum(lv) OVER () -
            COALESCE(sum(lv) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED
                     PRECEDING AND 1 PRECEDING), 0) AS n_risk
  FROM per_t
),
lnf AS (
  SELECT *,
         round(ln(CASE WHEN (d0 + d1) < n_risk
                       THEN 1.0 - CAST(d0 + d1 AS DOUBLE)
                                  / CAST(n_risk AS DOUBLE)
                       ELSE 1.0 END), 12) AS lf,
         CASE WHEN (d0 + d1) >= n_risk THEN 1 ELSE 0 END AS dead
  FROM risk
),
sp AS (
  SELECT *,
         CASE WHEN COALESCE(max(dead) OVER (ORDER BY t ROWS BETWEEN
                    UNBOUNDED PRECEDING AND 1 PRECEDING), 0) = 1
              THEN 0.0
              ELSE exp(COALESCE(sum(lf) OVER (ORDER BY t ROWS BETWEEN
                       UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0))
              END AS s_prev
  FROM lnf
),
cifs AS (
  SELECT t, n_risk, d0, d1,
         sum(round(s_prev * d0 / CAST(n_risk AS DOUBLE), 12))
           OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND
                 CURRENT ROW) AS cif0,
         sum(round(s_prev * d1 / CAST(n_risk AS DOUBLE), 12))
           OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND
                 CURRENT ROW) AS cif1
  FROM sp
)
SELECT CAST(t AS INT) AS t, 'purchase' AS cause,
       CAST(n_risk AS BIGINT) AS n_risk, CAST(d0 AS INT) AS n_events,
       round(cif0 + 1e-9, 4) AS cif
FROM cifs
UNION ALL
SELECT CAST(t AS INT) AS t, 'error' AS cause,
       CAST(n_risk AS BIGINT) AS n_risk, CAST(d1 AS INT) AS n_events,
       round(cif1 + 1e-9, 4) AS cif
FROM cifs
"""


QUERIES.append(Q("q238_aalen_johansen", q238, Q238_ORACLE))


# --- Q239: Cochran-Armitage trend test over activity quintiles ------------------------
def q239(spark, sf_dir):
    """Dose-response check (operators/analytics.py::
    cochran_armitage_trend): does purchase conversion rise
    monotonically with activity? Users are cut into ntile(5) quintiles
    by event count — (n_events, user_id) order makes the cut
    deterministic in any engine — and the quintile index is the
    integer trend score. All sums fold exact in DECIMAL(38,0); z is
    the only float chain."""
    from pyspark.sql import Window

    from parquet_on_fhir_spark.operators.analytics import (
        cochran_armitage_trend,
    )

    e = t(spark, sf_dir, "events")
    pu = e.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.max(
            (F.col("event_type") == "purchase").cast("int")
        ).alias("purchased"),
    )
    w = Window.orderBy("n_events", "user_id")
    b = pu.withColumn("bucket", F.ntile(5).over(w))
    out = cochran_armitage_trend(b, "bucket", "purchased")
    return out.select("n", "k_buckets", d4(F.col("z")).alias("z"))


Q239_ORACLE = """
WITH pu AS (
  SELECT user_id, count(*) AS n_events,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
  FROM events GROUP BY user_id
),
b AS (
  SELECT y, ntile(5) OVER (ORDER BY n_events, user_id) AS w FROM pu
),
per AS (
  SELECT w, count(*) AS n, sum(y) AS x FROM b GROUP BY w
),
agg AS (
  SELECT CAST(sum(n) AS BIGINT) AS n, count(*) AS k_buckets,
         sum(x) AS sx, sum(w * x) AS swx, sum(w * n) AS swn,
         sum(w * w * n) AS swwn
  FROM per
)
SELECT n, k_buckets,
       CASE WHEN (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) > 0
                 AND (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) < 1
                 AND (CAST(swwn AS DOUBLE)
                      - CAST(swn AS DOUBLE) * CAST(swn AS DOUBLE)
                        / CAST(n AS DOUBLE)) > 0 THEN
       round((CAST(swx AS DOUBLE)
              - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                * CAST(swn AS DOUBLE))
             / sqrt((CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                    * (1.0 - CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(swwn AS DOUBLE)
                       - CAST(swn AS DOUBLE) * CAST(swn AS DOUBLE)
                         / CAST(n AS DOUBLE)))
             + 1e-9, 4) END AS z
FROM agg
"""


QUERIES.append(Q("q239_cochran_armitage", q239, Q239_ORACLE))


# --- Q240: Hosmer-Lemeshow calibration bins -------------------------------------------
def q240(spark, sf_dir):
    """Calibration audit (operators/analytics.py::hosmer_lemeshow):
    score = percent_rank of user activity (a deterministic, exactly
    rational score in [0,1]), outcome = purchased; ten equal-count
    bins cut by (score, user_id) ntile compare observed conversions
    against the score-implied expectation. Global-sort diagnostics
    are the semantics here (ranked scores); the corpus-scale
    alternative is quantile_bin/calibration_bins."""
    from pyspark.sql import Window

    from parquet_on_fhir_spark.operators.analytics import hosmer_lemeshow

    e = t(spark, sf_dir, "events")
    pu = e.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.max(
            (F.col("event_type") == "purchase").cast("int")
        ).alias("purchased"),
    )
    w = Window.orderBy("n_events", "user_id")
    scored = pu.withColumn("score", F.percent_rank().over(w))
    out = hosmer_lemeshow(scored, "score", "purchased", "user_id", 10)
    return out.select(
        "bin",
        "n",
        "observed",
        d4(F.col("expected")).alias("expected"),
        d4(F.col("contrib")).alias("contrib"),
    )


Q240_ORACLE = """
WITH pu AS (
  SELECT user_id, count(*) AS n_events,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
  FROM events GROUP BY user_id
),
sc AS (
  SELECT user_id, y,
         percent_rank() OVER (ORDER BY n_events, user_id) AS s
  FROM pu
),
b AS (
  SELECT y, s, ntile(10) OVER (ORDER BY s, user_id) AS bin FROM sc
),
per AS (
  SELECT bin, count(*) AS n, CAST(sum(y) AS BIGINT) AS observed,
         sum(s) AS expected
  FROM b GROUP BY bin
)
SELECT bin, n, observed,
       round(expected + 1e-9, 4) AS expected,
       CASE WHEN expected / CAST(n AS DOUBLE) > 0
                 AND expected / CAST(n AS DOUBLE) < 1 THEN
         round((CAST(observed AS DOUBLE) - expected)
               * (CAST(observed AS DOUBLE) - expected)
               / (CAST(n AS DOUBLE) * (expected / CAST(n AS DOUBLE))
                  * (1.0 - expected / CAST(n AS DOUBLE)))
               + 1e-9, 4) END AS contrib
FROM per
"""


QUERIES.append(Q("q240_hosmer_lemeshow", q240, Q240_ORACLE))


# --- Q244: quantile-forecast backtest by pinball loss ---------------------------------
def q244(spark, sf_dir):
    """Per-segment quantile backtest (operators/analytics.py::
    quantile_forecast_eval): fit exact P50/P90 of event value per
    event_type on the even-id half, score the odd-id half with
    pinball loss — the proper scoring rule for quantile predictions.
    The K-row quantile frame broadcasts onto the test scan, so
    scoring is map-side only."""
    from parquet_on_fhir_spark.operators.analytics import (
        quantile_forecast_eval,
    )

    e = t(spark, sf_dir, "events")
    train = e.filter(F.col("event_id") % 2 == 0)
    test = e.filter(F.col("event_id") % 2 == 1)
    out = quantile_forecast_eval(
        train, test, ["event_type"], "value", [0.5, 0.9]
    )
    return out.select(
        "event_type",
        "n_test",
        d4(F.col("q_05")).alias("q_05"),
        d4(F.col("q_09")).alias("q_09"),
        d4(F.col("loss_05")).alias("loss_05"),
        d4(F.col("loss_09")).alias("loss_09"),
    )


Q244_ORACLE = """
WITH q AS (
  SELECT event_type,
         quantile_cont(value, 0.5) AS q_05,
         quantile_cont(value, 0.9) AS q_09
  FROM events WHERE event_id % 2 = 0 GROUP BY event_type
),
te AS (SELECT event_type, value FROM events WHERE event_id % 2 = 1)
SELECT te.event_type,
       count(*) AS n_test,
       round(max(q_05) + 1e-9, 4) AS q_05,
       round(max(q_09) + 1e-9, 4) AS q_09,
       round(avg(greatest(0.5 * (value - q_05),
                          -0.5 * (value - q_05))) + 1e-9, 4) AS loss_05,
       round(avg(greatest(0.9 * (value - q_09),
                          (0.9 - 1.0) * (value - q_09))) + 1e-9, 4)
         AS loss_09
FROM te JOIN q USING (event_type)
GROUP BY te.event_type
"""


QUERIES.append(Q("q244_pinball_backtest", q244, Q244_ORACLE))


# --- Q245: Ljung-Box white-noise test --------------------------------------------------
def q245(spark, sf_dir):
    """Residual whiteness gate (operators/timeseries.py::ljung_box):
    per event_type, the first five STANDARD autocorrelations of the
    event-value series (fixed mean, full-variance denominator — the
    Box-Jenkins convention) and Q = n(n+2)·Σ ρ̂ₖ²/(n−k) ~ χ²(5) under
    independence. One per-key window pass builds all five lags; one
    aggregate folds the raw moments; ρ̂ₖ and Q are closed-form select
    expressions."""
    from parquet_on_fhir_spark.operators.timeseries import ljung_box

    e = t(spark, sf_dir, "events")
    out = ljung_box(
        e, "ts", ["event_type"], "value", max_lag=5, tie_cols=["event_id"]
    )
    return out.select(
        "event_type",
        "n",
        *[d4(F.col(f"acf_{k}")).alias(f"acf_{k}") for k in range(1, 6)],
        d4(F.col("q_stat")).alias("q_stat"),
        "dof",
    )


_Q245_LAG_COLS = ",\n         ".join(
    f"lag(value, {k}) OVER w AS l{k}" for k in range(1, 6)
)
_Q245_MOMENTS = ",\n    ".join(
    f"sum(CASE WHEN l{k} IS NOT NULL THEN x * l{k} END) AS sxy{k},\n"
    f"    sum(CASE WHEN l{k} IS NOT NULL THEN x END) AS sxp{k},\n"
    f"    sum(CASE WHEN l{k} IS NOT NULL THEN l{k} END) AS syp{k},\n"
    f"    CAST(sum(CASE WHEN l{k} IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)"
    f" AS c{k}"
    for k in range(1, 6)
)
_Q245_RHO = "\n".join(
    f"  (sxy{k} - (sx / CAST(n AS DOUBLE)) * (sxp{k} + syp{k})"
    f" + c{k} * (sx / CAST(n AS DOUBLE)) * (sx / CAST(n AS DOUBLE)))"
    f" / (sxx - CAST(n AS DOUBLE) * (sx / CAST(n AS DOUBLE))"
    f" * (sx / CAST(n AS DOUBLE))) AS rho{k},"
    for k in range(1, 6)
)
Q245_ORACLE = f"""
WITH s AS (
  SELECT event_type AS k, value AS x,
         {_Q245_LAG_COLS}
  FROM events
  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
),
g AS (
  SELECT k, count(x) AS n, sum(x) AS sx, sum(x * x) AS sxx,
    {_Q245_MOMENTS}
  FROM s GROUP BY k
),
r AS (
  SELECT k, n,
{_Q245_RHO}
  sxx - CAST(n AS DOUBLE) * (sx / CAST(n AS DOUBLE))
      * (sx / CAST(n AS DOUBLE)) AS denom
  FROM g
)
SELECT k AS event_type, n,
       {", ".join(f"CASE WHEN denom > 0 AND n > 5 THEN round(rho{k} + 1e-9, 4) END AS acf_{k}" for k in range(1, 6))},
       CASE WHEN denom > 0 AND n > 5 THEN
         round(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0) * (
           {" + ".join(f"rho{k} * rho{k} / (CAST(n AS DOUBLE) - {k}.0)" for k in range(1, 6))}
         ) + 1e-9, 4) END AS q_stat,
       5 AS dof
FROM r
"""


QUERIES.append(Q("q245_ljung_box", q245, Q245_ORACLE))


# --- Q246: common-neighbor link prediction ---------------------------------------------
def q246(spark, sf_dir):
    """Supplier similarity by shared parts (operators/graph.py::
    common_neighbors): the bipartite wedge join over the distinct
    (part, supplier) incidence — pair volume Σ_part C(deg,2), the
    triangle_count bound, with the hub-cap knob for skewed attrs.
    Top-20 pairs by (common desc, ids) keeps the output deterministic."""
    from parquet_on_fhir_spark.operators.graph import common_neighbors

    li = t(spark, sf_dir, "lineitem")
    out = common_neighbors(li, "l_suppkey", "l_partkey")
    return (
        out.orderBy(
            F.desc("common"), F.asc("node_a"), F.asc("node_b")
        )
        .limit(20)
        .select(
            "node_a",
            "node_b",
            "common",
            "degree_a",
            "degree_b",
            d4(F.col("jaccard")).alias("jaccard"),
        )
    )


Q246_ORACLE = """
WITH inc AS (
  SELECT DISTINCT l_partkey AS a, l_suppkey AS n FROM lineitem
),
deg AS (SELECT n, count(*) AS d FROM inc GROUP BY n),
pr AS (
  SELECT l.n AS node_a, r.n AS node_b, count(*) AS common
  FROM inc l JOIN inc r ON l.a = r.a AND l.n < r.n
  GROUP BY l.n, r.n
)
SELECT node_a, node_b, CAST(common AS BIGINT) AS common,
       da.d AS degree_a, db.d AS degree_b,
       round(CAST(common AS DOUBLE)
             / CAST(da.d + db.d - common AS DOUBLE) + 1e-9, 4) AS jaccard
FROM pr JOIN deg da ON pr.node_a = da.n
        JOIN deg db ON pr.node_b = db.n
ORDER BY common DESC, node_a, node_b
LIMIT 20
"""


QUERIES.append(Q("q246_common_neighbors", q246, Q246_ORACLE))


# --- Q248: Cox proportional hazards (rows-only: iterative partial MLE) ------------------
def q248(spark, sf_dir):
    """Hazard regression for days-to-first-purchase (operators/
    analytics.py::cox_ph): which user covariates move the purchase
    hazard, censored at the last observed event — the regression
    capstone of the KM/Nelson-Aalen/log-rank/RMST/Aalen-Johansen
    stack. Each Newton round is one distinct-time hash aggregate plus
    one reverse-cumulative window (never a per-row risk-set scan);
    the p-dim solve is driver numpy. Rows-only: an iterative partial
    MLE has no ANSI-SQL restatement; the covering test pits it
    against an independent brute-force numpy Cox."""
    from parquet_on_fhir_spark.operators.analytics import cox_ph

    e = t(spark, sf_dir, "events")
    pu = e.groupBy("user_id").agg(
        F.min("ts").alias("first_ts"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("p_ts"),
        F.max("ts").alias("last_ts"),
        F.sum(
            (F.col("event_type") == "click").cast("int")
        ).alias("n_clicks"),
        F.avg("value").alias("avg_value"),
    )
    spans = pu.select(
        F.datediff(
            F.coalesce("p_ts", "last_ts"), F.col("first_ts")
        ).alias("duration"),
        F.col("p_ts").isNotNull().cast("int").alias("event"),
        "n_clicks",
        "avg_value",
    )
    return cox_ph(spans, "duration", "event", ["n_clicks", "avg_value"])


QUERIES.append(Q("q248_cox_ph", q248, None))


# --- Q249: propensity-score matching ATT ------------------------------------------------
def q249(spark, sf_dir):
    """Matched-cohort treatment effect (operators/analytics.py::
    propensity_match_att): did signing up lift total spend? Treated =
    users with a signup event, score = percent_rank of click count (a
    deterministic, exactly rational propensity proxy), outcome = total
    event value; each treated user pairs to the nearest control by
    score (with replacement, backward on ties) via ONE sorted window —
    the matching companion of q218's IPW estimator."""
    from parquet_on_fhir_spark.operators.analytics import (
        propensity_match_att,
    )
    from pyspark.sql import Window

    e = t(spark, sf_dir, "events")
    pu = e.groupBy("user_id").agg(
        F.sum(
            (F.col("event_type") == "click").cast("int")
        ).alias("n_clicks"),
        F.max(
            (F.col("event_type") == "signup").cast("int")
        ).alias("treated"),
        F.sum("value").alias("outcome"),
    )
    scored = pu.withColumn(
        "score",
        F.percent_rank().over(Window.orderBy("n_clicks", "user_id")),
    )
    out = propensity_match_att(
        scored, "score", "treated", "outcome", "user_id"
    )
    return out.select(
        "n_treated",
        "n_control",
        "n_matched",
        d4(F.col("att")).alias("att"),
        d4(F.col("avg_treated")).alias("avg_treated"),
        d4(F.col("avg_matched_control")).alias("avg_matched_control"),
    )


Q249_ORACLE = """
WITH pu AS (
  SELECT user_id,
         sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS n_clicks,
         max(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS t,
         sum(value) AS y
  FROM events GROUP BY user_id
),
sc AS (
  SELECT user_id, t, y,
         percent_rank() OVER (ORDER BY n_clicks, user_id) AS s
  FROM pu
),
m AS (
  SELECT user_id, t, s, y,
         last_value(CASE WHEN t = 0 THEN struct_pack(cs := s, cy := y) END
                    IGNORE NULLS)
           OVER (ORDER BY s, t, user_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prv,
         first_value(CASE WHEN t = 0 THEN struct_pack(cs := s, cy := y) END
                     IGNORE NULLS)
           OVER (ORDER BY s, t, user_id
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS nxt
  FROM sc
),
tm AS (
  SELECT s, y,
         CASE WHEN prv IS NOT NULL AND (nxt IS NULL
                    OR abs(s - prv.cs) <= abs(s - nxt.cs))
              THEN prv ELSE nxt END AS mt
  FROM m WHERE t = 1
)
SELECT count(*) AS n_treated,
       (SELECT count(*) FROM sc WHERE t = 0) AS n_control,
       count(mt) AS n_matched,
       round(avg(CASE WHEN mt IS NOT NULL THEN y - mt.cy END) + 1e-9, 4)
         AS att,
       round(avg(CASE WHEN mt IS NOT NULL THEN y END) + 1e-9, 4)
         AS avg_treated,
       round(avg(mt.cy) + 1e-9, 4) AS avg_matched_control
FROM tm
"""


QUERIES.append(Q("q249_psm_att", q249, Q249_ORACLE))


# --- Q252: Wasserstein-1 drift magnitude -------------------------------------------------
def q252(spark, sf_dir):
    """Drift MAGNITUDE in the feature's own units (operators/
    analytics.py::wasserstein_1d): W1 = integral |F_en − F_de| over
    document lengths — the L1 companion of q236's KS sup-gap (whether
    vs how much). Same distinct-value frame and window; one lead()
    adds the segment widths; the gap numerator stays integer-exact."""
    from parquet_on_fhir_spark.operators.analytics import wasserstein_1d

    d = t(spark, sf_dir, "documents")
    out = wasserstein_1d(d, "n_chars", "lang", "en", "de")
    return out.select("n_a", "n_b", d4(F.col("w1")).alias("w1"))


Q252_ORACLE = """
WITH f AS (
  SELECT CAST(n_chars AS DOUBLE) AS v,
         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS ia
  FROM documents WHERE lang IN ('en', 'de')
),
pv AS (SELECT v, count(*) AS c, sum(ia) AS ca FROM f GROUP BY v),
cum AS (
  SELECT v, lead(v) OVER (ORDER BY v) AS vn,
         sum(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                       AND CURRENT ROW) AS cum_a,
         sum(c - ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS cum_b,
         sum(ca) OVER () AS na,
         sum(c - ca) OVER () AS nb
  FROM pv
),
agg AS (
  SELECT sum(CASE WHEN vn IS NOT NULL
                  THEN CAST(abs(cum_a * nb - cum_b * na) AS DOUBLE)
                       * (vn - v) END) AS area,
         max(na) AS na, max(nb) AS nb
  FROM cum
)
SELECT CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       CASE WHEN na > 0 AND nb > 0 THEN
         round(COALESCE(area, 0.0)
               / (CAST(na AS DOUBLE) * CAST(nb AS DOUBLE)) + 1e-9, 4)
       END AS w1
FROM agg
"""


QUERIES.append(Q("q252_wasserstein_drift", q252, Q252_ORACLE))


# --- Q253: split-conformal prediction intervals ------------------------------------------
def q253(spark, sf_dir):
    """Distribution-free prediction intervals per event type
    (operators/analytics.py::conformal_interval): train/calibration/
    test splits by event_id mod 4 ({0,2} / {1} / {3} — deterministic,
    disjoint), point = train median, half-width = the exact
    ceil((n+1)(1-alpha))-th smallest calibration residual (no
    interpolation -> engine-portable), coverage audited on test."""
    from parquet_on_fhir_spark.operators.analytics import (
        conformal_interval,
    )

    e = t(spark, sf_dir, "events")
    m = F.col("event_id") % 4
    out = conformal_interval(
        e.filter(m.isin(0, 2)),
        e.filter(m == 1),
        e.filter(m == 3),
        ["event_type"],
        "value",
        alpha=0.1,
    )
    return out.select(
        "event_type",
        d4(F.col("point")).alias("point"),
        "n_cal",
        d4(F.col("q_hat")).alias("q_hat"),
        "n_test",
        d4(F.col("coverage")).alias("coverage"),
    )


Q253_ORACLE = """
WITH meds AS (
  SELECT event_type, quantile_cont(value, 0.5) AS point
  FROM events WHERE event_id % 4 IN (0, 2) GROUP BY event_type
),
scores AS (
  SELECT e.event_type, abs(e.value - m.point) AS score
  FROM events e JOIN meds m USING (event_type)
  WHERE e.event_id % 4 = 1
),
ranked AS (
  SELECT event_type, score,
         row_number() OVER (PARTITION BY event_type ORDER BY score) AS r,
         count(*) OVER (PARTITION BY event_type) AS n_cal
  FROM scores
),
qh AS (
  SELECT event_type, CAST(max(n_cal) AS BIGINT) AS n_cal,
         max(CASE WHEN r = CAST(ceil((n_cal + 1) * 0.9) AS INT)
                  THEN score END) AS q_hat
  FROM ranked GROUP BY event_type
)
SELECT t.event_type,
       round(max(m.point) + 1e-9, 4) AS point,
       max(q.n_cal) AS n_cal,
       round(max(q.q_hat) + 1e-9, 4) AS q_hat,
       count(*) AS n_test,
       round(avg(CASE WHEN q.q_hat IS NULL THEN NULL
                      WHEN abs(t.value - m.point) <= q.q_hat
                      THEN 1 ELSE 0 END) + 1e-9, 4) AS coverage
FROM events t
JOIN meds m USING (event_type)
JOIN qh q ON q.event_type = t.event_type
WHERE t.event_id % 4 = 3
GROUP BY t.event_type
"""


QUERIES.append(Q("q253_conformal_interval", q253, Q253_ORACLE))


# --- Q256: Brier score decomposition -------------------------------------------------
def q256(spark, sf_dir):
    """Murphy decomposition of the Brier score (operators/analytics.py
    ::brier_decomposition, r11): forecasts are deterministic md5-draws
    over events, outcomes are purchase events, 10 equal-width bins.
    Reliability/resolution/uncertainty via the difference-of-squares
    identity — two map-side-combined hash aggregates, no second pass
    for the grand mean, no window. Complements q240 (Hosmer-Lemeshow
    TESTS calibration; this MEASURES the forecast-quality triptych)."""
    from parquet_on_fhir_spark.operators.analytics import (
        brier_decomposition,
    )
    from parquet_on_fhir_spark.operators.dedup import md5_60

    e = t(spark, sf_dir, "events").select(
        (
            md5_60(F.concat(F.lit("br:"), F.col("event_id").cast("string")))
            / F.lit(float(2**60))
        ).alias("prob"),
        (F.col("event_type") == "purchase").alias("outcome"),
    )
    out = brier_decomposition(e, "prob", "outcome", n_bins=10)
    return out.select(
        "n",
        d4(F.col("brier")).alias("brier"),
        d4(F.col("reliability")).alias("reliability"),
        d4(F.col("resolution")).alias("resolution"),
        d4(F.col("uncertainty")).alias("uncertainty"),
    )


Q256_ORACLE = """
WITH f AS (
  SELECT CAST('0x' || substr(md5('br:' || CAST(event_id AS VARCHAR)), 1, 15)
              AS BIGINT) / CAST(1152921504606846976 AS DOUBLE) AS p,
         CASE WHEN event_type = 'purchase' THEN 1.0 ELSE 0.0 END AS o
  FROM events
),
b AS (
  SELECT LEAST(CAST(floor(p * 10) AS INT), 9) AS bin,
         CAST(count(*) AS DOUBLE) AS nb,
         avg(p) AS fbar, avg(o) AS obar,
         sum((p - o) * (p - o)) AS sqs
  FROM f GROUP BY 1
),
g AS (
  SELECT sum(nb) AS n, sum(sqs) AS sq_all,
         sum(nb * obar) AS o_sum, sum(nb * obar * obar) AS o2_sum,
         sum(nb * (fbar - obar) * (fbar - obar)) AS rel_sum
  FROM b
)
SELECT CAST(n AS BIGINT) AS n,
       round(sq_all / n + 1e-9, 4) AS brier,
       round(rel_sum / n + 1e-9, 4) AS reliability,
       round(o2_sum / n - (o_sum / n) * (o_sum / n) + 1e-9, 4)
         AS resolution,
       round((o_sum / n) * (1.0 - o_sum / n) + 1e-9, 4) AS uncertainty
FROM g
"""


QUERIES.append(Q("q256_brier_decomposition", q256, Q256_ORACLE))


# --- Q257: rank-biased overlap between two supplier rankings -------------------------
def q257(spark, sf_dir):
    """Truncated rank-biased overlap (operators/analytics.py::
    rank_biased_overlap, r11 — Webber et al. 2010): how much does
    ranking suppliers by REVENUE agree with ranking them by QUANTITY
    shipped? Top-weighted geometric discount (p=0.9, depth 20) — the
    ranker-comparison measure Spearman can't give on non-conjoint
    truncated lists. Both rankings are depth-truncated FIRST, so every
    frame after the two ranking windows is ≤ depth rows."""
    from parquet_on_fhir_spark.operators.analytics import (
        rank_biased_overlap,
    )

    li = t(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_suppkey").agg(
        F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "score"
        )
    )
    qty = li.groupBy("l_suppkey").agg(F.sum("l_quantity").alias("score"))
    out = rank_biased_overlap(
        rev, qty, "l_suppkey", "score", p=0.9, depth=20
    )
    return out.select(
        "depth",
        F.col("overlap_at_depth").cast("long").alias("overlap_at_depth"),
        d4(F.col("rbo")).alias("rbo"),
    )


Q257_ORACLE = """
WITH rev AS (
  SELECT l_suppkey, sum(l_extendedprice * (1 - l_discount)) AS score
  FROM lineitem GROUP BY l_suppkey
),
qty AS (
  SELECT l_suppkey, sum(l_quantity) AS score
  FROM lineitem GROUP BY l_suppkey
),
ra AS (
  SELECT l_suppkey,
         row_number() OVER (ORDER BY score DESC, l_suppkey) AS r
  FROM rev QUALIFY r <= 20
),
rb AS (
  SELECT l_suppkey,
         row_number() OVER (ORDER BY score DESC, l_suppkey) AS r
  FROM qty QUALIFY r <= 20
),
common AS (
  SELECT GREATEST(ra.r, rb.r) AS m
  FROM ra JOIN rb USING (l_suppkey)
),
grid AS (SELECT unnest(range(1, 21)) AS k),
ov AS (
  SELECT k, (SELECT count(*) FROM common WHERE m <= k) AS o
  FROM grid
)
SELECT 20 AS depth,
       (SELECT CAST(o AS BIGINT) FROM ov WHERE k = 20) AS overlap_at_depth,
       round(sum(0.1 * power(0.9, k - 1) * o / k) + 1e-9, 4) AS rbo
FROM ov
"""


QUERIES.append(Q("q257_rank_biased_overlap", q257, Q257_ORACLE))


# --- Q259: Benjamini-Hochberg FDR over a metric sweep --------------------------------
def q259(spark, sf_dir):
    """Benjamini-Hochberg step-up FDR (operators/analytics.py::bh_fdr
    — the q213 operator, exercised here on md5-draw p-values with
    PLANTED effects and the adjusted-p rejection reading): 200
    hypotheses — every 10th customer group's p is scaled by 1/50 —
    adjusted at q=0.10. Rank + reverse-rank running-min windows over
    the 200-row hypothesis frame; the facts that would produce real
    p-values never enter the adjustment (hypotheses are metadata)."""
    from parquet_on_fhir_spark.operators.analytics import bh_fdr
    from parquet_on_fhir_spark.operators.dedup import md5_60

    hyp = (
        t(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") <= 200)
        .select(
            F.col("c_custkey").alias("hypothesis"),
            (
                md5_60(
                    F.concat(
                        F.lit("bh:"), F.col("c_custkey").cast("string")
                    )
                )
                / F.lit(float(2**60))
                * F.when(F.col("c_custkey") % 10 == 0, 0.02).otherwise(1.0)
            ).alias("p_value"),
        )
    )
    out = bh_fdr(hyp, "p_value", q=0.10, tie_cols=["hypothesis"])
    return out.select(
        "hypothesis",
        d4(F.col("p_value")).alias("p_value"),
        "rank",
        d4(F.col("p_adj")).alias("p_adj"),
        "rejected",
    )


Q259_ORACLE = """
WITH hyp AS (
  SELECT c_custkey AS hypothesis,
         CAST('0x' || substr(md5('bh:' || CAST(c_custkey AS VARCHAR)), 1, 15)
              AS BIGINT) / CAST(1152921504606846976 AS DOUBLE)
           * CASE WHEN c_custkey % 10 = 0 THEN 0.02 ELSE 1.0 END AS p
  FROM customer WHERE c_custkey <= 200
),
ranked AS (
  SELECT *,
         row_number() OVER (ORDER BY p ASC, hypothesis) AS r,
         count(*) OVER () AS m
  FROM hyp
),
adj AS (
  SELECT *,
         LEAST(min(p * m / r) OVER (
                 ORDER BY r ROWS BETWEEN CURRENT ROW
                 AND UNBOUNDED FOLLOWING), 1.0) AS p_adj
  FROM ranked
)
SELECT hypothesis,
       round(p + 1e-9, 4) AS p_value,
       CAST(r AS INT) AS rank,
       round(p_adj + 1e-9, 4) AS p_adj,
       p_adj <= 0.10 AS rejected
FROM adj
"""


QUERIES.append(Q("q259_bh_fdr", q259, Q259_ORACLE))


# --- Q260: HITS hubs and authorities -------------------------------------------------
def q260(spark, sf_dir):
    """HITS (operators/graph.py::hits, r11 — Kleinberg hubs/
    authorities) over the supplier→part shipment graph, 2 fixed
    iterations with 12-dp-pinned L2 normalization per half-step (the
    pagerank fixed-round convention, so the power iteration restates
    as a chained-CTE oracle). Each half-step is one (node, partial)
    shuffle into a hash aggregate; norms are 1-row aggregates
    broadcast back — no per-round driver collect."""
    from parquet_on_fhir_spark.operators.graph import hits

    li = t(spark, sf_dir, "lineitem")
    edges = li.select(
        F.col("l_suppkey").alias("src"), F.col("l_partkey").alias("dst")
    )
    out = hits(edges, iterations=2, term_dp=12)
    return out.select(
        "node",
        d4(F.col("hub")).alias("hub"),
        d4(F.col("authority")).alias("authority"),
    )


Q260_ORACLE = """
WITH e AS (SELECT DISTINCT l_suppkey AS u, l_partkey AS v FROM lineitem),
a1 AS (SELECT v AS node, CAST(count(*) AS DOUBLE) AS a FROM e GROUP BY v),
a1n AS (SELECT node, round(a / sqrt(sum(a * a) OVER ()), 12) AS a FROM a1),
h1 AS (SELECT e.u AS node, sum(a1n.a) AS h
       FROM e JOIN a1n ON e.v = a1n.node GROUP BY e.u),
h1n AS (SELECT node, round(h / sqrt(sum(h * h) OVER ()), 12) AS h FROM h1),
a2 AS (SELECT e.v AS node, sum(h1n.h) AS a
       FROM e JOIN h1n ON e.u = h1n.node GROUP BY e.v),
a2n AS (SELECT node, round(a / sqrt(sum(a * a) OVER ()), 12) AS a FROM a2),
h2 AS (SELECT e.u AS node, sum(a2n.a) AS h
       FROM e JOIN a2n ON e.v = a2n.node GROUP BY e.u),
h2n AS (SELECT node, round(h / sqrt(sum(h * h) OVER ()), 12) AS h FROM h2)
SELECT COALESCE(h.node, a.node) AS node,
       round(COALESCE(h.h, 0.0) + 1e-9, 4) AS hub,
       round(COALESCE(a.a, 0.0) + 1e-9, 4) AS authority
FROM h2n h FULL JOIN a2n a ON h.node = a.node
"""


QUERIES.append(Q("q260_hits", q260, Q260_ORACLE))


# --- Q262: Adamic-Adar link prediction -----------------------------------------------
def q262(spark, sf_dir):
    """Adamic-Adar link prediction (operators/graph.py::
    common_neighbors adamic_adar column, r11): the q246 wedge frame
    re-read with rarity weighting — Σ 1/ln(deg(shared part)) per
    supplier pair, each term 12-dp-pinned; attr degrees join the wedge
    on its OWN shuffle key (no extra exchange). Same deterministic
    top-20 ordering as q246 so the two scores are directly
    comparable row-for-row."""
    from parquet_on_fhir_spark.operators.graph import common_neighbors

    li = t(spark, sf_dir, "lineitem")
    out = common_neighbors(li, "l_suppkey", "l_partkey")
    return (
        out.orderBy(F.desc("common"), F.asc("node_a"), F.asc("node_b"))
        .limit(20)
        .select(
            "node_a",
            "node_b",
            "common",
            d4(F.col("jaccard")).alias("jaccard"),
            d4(F.col("adamic_adar")).alias("adamic_adar"),
        )
    )


Q262_ORACLE = """
WITH inc AS (
  SELECT DISTINCT l_partkey AS a, l_suppkey AS n FROM lineitem
),
deg AS (SELECT n, count(*) AS d FROM inc GROUP BY n),
adeg AS (SELECT a, count(*) AS ad FROM inc GROUP BY a),
pr AS (
  SELECT l.n AS node_a, r.n AS node_b, count(*) AS common,
         sum(round(1.0 / ln(CAST(adeg.ad AS DOUBLE)), 12)) AS aa
  FROM inc l
  JOIN inc r ON l.a = r.a AND l.n < r.n
  JOIN adeg ON l.a = adeg.a
  GROUP BY l.n, r.n
)
SELECT node_a, node_b, CAST(common AS BIGINT) AS common,
       round(CAST(common AS DOUBLE)
             / CAST(da.d + db.d - common AS DOUBLE) + 1e-9, 4) AS jaccard,
       round(aa + 1e-9, 4) AS adamic_adar
FROM pr JOIN deg da ON pr.node_a = da.n
        JOIN deg db ON pr.node_b = db.n
ORDER BY common DESC, node_a, node_b
LIMIT 20
"""


QUERIES.append(Q("q262_adamic_adar", q262, Q262_ORACLE))


# --- Q264: bloom-prefiltered semi join (runtime-filter pattern) --------------------------
def q264(spark, sf_dir):
    """Bloom-prefiltered exact semi join (operators/joins.py::
    bloom_semi_join, r12 — the runtime-filter / semi-join-reduction
    pattern as an explicit operator): orders from BUILDING-segment
    customers. The dim side reduces to a FIXED 16 KB bitmap via one
    bit_or hash aggregate (never broadcasting its rows), the fact side
    filters with k map-side word-lookups inside its scan stage BEFORE
    the exact semi join, and Bloom false positives die in the join —
    results are exactly the plain left-semi join, with the shuffle
    carrying only (probable) matches."""
    cust = t(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = t(spark, sf_dir, "orders")
    from parquet_on_fhir_spark.operators.joins import bloom_semi_join

    got = bloom_semi_join(orders, cust, "o_custkey", "c_custkey")
    return (
        got.groupBy(F.col("o_orderpriority"))
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
            .cast("decimal(38,6)")
            .cast("string")
            .alias("sum_price"),
        )
        .orderBy("o_orderpriority")
    )


Q264_ORACLE = """
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DECIMAL(38,6)) AS VARCHAR) AS sum_price
FROM orders
WHERE EXISTS (
  SELECT 1 FROM customer
  WHERE c_custkey = o_custkey AND c_mktsegment = 'BUILDING'
)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


QUERIES.append(Q("q264_bloom_semi_join", q264, Q264_ORACLE))


# --- Q266: degree assortativity coefficient ------------------------------------------
def q266(spark, sf_dir):
    """Degree assortativity (operators/graph.py::degree_assortativity,
    r12 — Newman 2002): do high-volume suppliers ship high-demand
    parts? Pearson correlation of (out-degree(supplier), in-degree(
    part)) over the DISTINCT supplier→part edge set, every moment
    folded exactly in DECIMAL(38,0) so the coefficient is one double
    expression over engine-identical integers. One distinct + two
    node-sized degree aggregates + two hash joins on the edge frame's
    own keys + a 1-row map-side-combined aggregate; no collect."""
    from parquet_on_fhir_spark.operators.graph import degree_assortativity

    li = t(spark, sf_dir, "lineitem")
    edges = li.select(
        F.col("l_suppkey").alias("src"), F.col("l_partkey").alias("dst")
    )
    out = degree_assortativity(edges, directed=True)
    return out.select(
        "n_edges",
        d4(F.col("mean_src_deg")).alias("mean_src_deg"),
        d4(F.col("mean_dst_deg")).alias("mean_dst_deg"),
        (d4(F.col("assortativity")) + F.lit(0.0)).alias("assortativity"),
    )


Q266_ORACLE = """
WITH e AS (SELECT DISTINCT l_suppkey AS u, l_partkey AS v FROM lineitem),
ds AS (SELECT u, count(*) AS x FROM e GROUP BY u),
dd AS (SELECT v, count(*) AS y FROM e GROUP BY v),
p AS (SELECT x, y FROM e JOIN ds USING (u) JOIN dd USING (v)),
m AS (
  SELECT CAST(count(*) AS HUGEINT) AS n,
         CAST(sum(x) AS HUGEINT) AS sx,
         CAST(sum(y) AS HUGEINT) AS sy,
         sum(CAST(x AS HUGEINT) * y) AS sxy,
         sum(CAST(x AS HUGEINT) * x) AS sxx,
         sum(CAST(y AS HUGEINT) * y) AS syy
  FROM p
)
SELECT CAST(n AS BIGINT) AS n_edges,
       round(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) + 1e-9, 4) AS mean_src_deg,
       round(CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) + 1e-9, 4) AS mean_dst_deg,
       CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
            THEN round(CAST(n * sxy - sx * sy AS DOUBLE)
                       / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                              * CAST(n * syy - sy * sy AS DOUBLE))
                       + 1e-9, 4) + 0.0
       END AS assortativity
FROM m
"""


QUERIES.append(Q("q266_degree_assortativity", q266, Q266_ORACLE))


# --- Q267: mergeable histogram-sketch quantiles --------------------------------------
def q267(spark, sf_dir):
    """Mergeable equi-width histogram-sketch quantiles (operators/
    analytics.py::histogram_quantile_sketch, r12): P50/P90/P99 of
    l_extendedprice per returnflag from a 512-bin fixed-domain sketch
    — ONE map-side-combined hash aggregate touches the facts; the ALL
    rows re-aggregate the per-group SKETCH (bins summed, data never
    rescanned), which is the monoid merge a 100 TB per-day rollup
    runs. Estimates are fixed double chains over exact integer counts
    (bin width 104100/512 divides exactly), restated verbatim in the
    oracle."""
    from parquet_on_fhir_spark.operators.analytics import (
        histogram_quantile_sketch,
    )

    li = t(spark, sf_dir, "lineitem")
    out = histogram_quantile_sketch(
        li,
        "l_extendedprice",
        ["l_returnflag"],
        lo=900.0,
        hi=105000.0,
        bins=512,
        quantiles=(0.5, 0.9, 0.99),
    )
    return out.select(
        "grp", "n", "q", d4(F.col("estimate")).alias("estimate")
    )


Q267_ORACLE = """
WITH base AS (
  SELECT l_returnflag AS grp,
         LEAST(GREATEST(CAST(floor((l_extendedprice - 900.0) * 512
                                   / 104100.0) AS INT), 0), 511) AS bin
  FROM lineitem
),
sk0 AS (SELECT grp, bin, count(*) AS cnt FROM base GROUP BY grp, bin),
sk AS (
  SELECT * FROM sk0
  UNION ALL
  SELECT 'ALL' AS grp, bin, CAST(sum(cnt) AS BIGINT) AS cnt
  FROM sk0 GROUP BY bin
),
cum AS (
  SELECT grp, bin, cnt,
         sum(cnt) OVER (PARTITION BY grp ORDER BY bin) AS cum,
         sum(cnt) OVER (PARTITION BY grp ORDER BY bin) - cnt AS cum_prev,
         sum(cnt) OVER (PARTITION BY grp) AS n
  FROM sk
),
qs AS (SELECT unnest([0.5::DOUBLE, 0.9::DOUBLE, 0.99::DOUBLE]) AS q),
ranked AS (
  SELECT cum.*, qs.q,
         CAST(ceil(qs.q * CAST(n AS DOUBLE)) AS BIGINT) AS r
  FROM cum CROSS JOIN qs
)
SELECT grp, CAST(n AS BIGINT) AS n, q,
       round(900.0 + (104100.0 / 512)
             * (bin + CAST(r - cum_prev AS DOUBLE) / CAST(cnt AS DOUBLE))
             + 1e-9, 4) AS estimate
FROM ranked
WHERE cum >= r AND cum_prev < r
"""


QUERIES.append(Q("q267_histogram_sketch_quantiles", q267, Q267_ORACLE))


# --- Q268: Kendall tau-b rank correlation --------------------------------------------
def q268(spark, sf_dir):
    """Kendall τ-b per market segment (operators/analytics.py::
    kendall_tau, r12 — Knight's O(n log n) merge-sort algorithm, not
    the O(n²) pair scan): does account-balance rank agree with
    total-spend rank? x/y are tie-rich integer buckets (acctbal/500,
    exact-DECIMAL spend/10000) so all five tie terms are exercised;
    every count is an exact integer and τ-b is one √ expression, so
    the oracle restates the counts with a quadratic pair join and
    matches bitwise. Spend folds in DECIMAL(18,2) (order-independent)
    before bucketing."""
    from parquet_on_fhir_spark.operators.analytics import kendall_tau

    cust = t(spark, sf_dir, "customer")
    spend = (
        t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).alias("s")
        )
    )
    feats = cust.join(
        spend, cust["c_custkey"] == spend["o_custkey"], "left"
    ).select(
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 500.0).cast("long").alias("x"),
        F.floor(
            F.coalesce(F.col("s"), F.lit(0).cast("decimal(18,2)"))
            / 10000
        )
        .cast("long")
        .alias("y"),
    )
    out = kendall_tau(feats, "x", "y", ["c_mktsegment"])
    return out.select(
        F.col("c_mktsegment").alias("segment"),
        "n",
        "concordant",
        "discordant",
        "tied_x",
        "tied_y",
        "tied_both",
        d4(F.col("tau_b")).alias("tau_b"),
    )


Q268_ORACLE = """
WITH spend AS (
  SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS s
  FROM orders GROUP BY o_custkey
),
feats AS (
  SELECT c_mktsegment AS segment,
         CAST(floor(c_acctbal / 500.0) AS BIGINT) AS x,
         CAST(floor(COALESCE(s, 0) / 10000) AS BIGINT) AS y
  FROM customer LEFT JOIN spend ON c_custkey = o_custkey
),
pairs AS (
  SELECT a.segment,
         CASE WHEN (a.x < b.x AND a.y < b.y)
                OR (a.x > b.x AND a.y > b.y) THEN 1 ELSE 0 END AS c,
         CASE WHEN (a.x < b.x AND a.y > b.y)
                OR (a.x > b.x AND a.y < b.y) THEN 1 ELSE 0 END AS d,
         CASE WHEN a.x = b.x THEN 1 ELSE 0 END AS t1,
         CASE WHEN a.y = b.y THEN 1 ELSE 0 END AS t2,
         CASE WHEN a.x = b.x AND a.y = b.y THEN 1 ELSE 0 END AS t3
  FROM (SELECT segment, x, y,
               row_number() OVER (ORDER BY segment, x, y) AS rid
        FROM feats) a
  JOIN (SELECT segment, x, y,
               row_number() OVER (ORDER BY segment, x, y) AS rid
        FROM feats) b
    ON a.segment = b.segment AND a.rid < b.rid
),
agg AS (
  SELECT segment,
         CAST(sum(c) AS BIGINT) AS nc, CAST(sum(d) AS BIGINT) AS nd,
         CAST(sum(t1) AS BIGINT) AS n1, CAST(sum(t2) AS BIGINT) AS n2,
         CAST(sum(t3) AS BIGINT) AS n3,
         CAST(count(*) AS BIGINT) AS n0
  FROM pairs GROUP BY segment
),
sizes AS (SELECT segment, CAST(count(*) AS BIGINT) AS n FROM feats GROUP BY segment)
SELECT s.segment, s.n, nc AS concordant, nd AS discordant,
       n1 AS tied_x, n2 AS tied_y, n3 AS tied_both,
       CASE WHEN (n0 - n1) * (n0 - n2) > 0
            THEN round(CAST(nc - nd AS DOUBLE)
                       / sqrt(CAST((n0 - n1) * (n0 - n2) AS DOUBLE))
                       + 1e-9, 4)
       END AS tau_b
FROM agg a JOIN sizes s USING (segment)
"""


QUERIES.append(Q("q268_kendall_tau", q268, Q268_ORACLE))


# --- Q269: cross-correlation function (lead-lag audit) -------------------------------
def q269(spark, sf_dir):
    """Cross-correlation function (operators/timeseries.py::
    cross_correlation, r12 wave 2): does daily order volume predict
    daily shipment volume k days later? Daily counts aligned on the
    UNION date grid (zero-filled sides), leads k = 0..7; counts are
    integers so every moment folds exactly in DECIMAL(38,0) and r_k
    is one double expression per lag. The lag fan-out explodes the
    DAILY frame (K×8 rows), never the facts; the facts are touched by
    exactly two map-side-combined date aggregates."""
    from parquet_on_fhir_spark.operators.timeseries import (
        cross_correlation,
    )

    od = (
        t(spark, sf_dir, "orders")
        .groupBy(F.to_date("o_orderdate").alias("d"))
        .agg(F.count("*").alias("x"))
    )
    sd = (
        t(spark, sf_dir, "lineitem")
        .groupBy(F.to_date("l_shipdate").alias("d"))
        .agg(F.count("*").alias("y"))
    )
    aligned = (
        od.join(sd, "d", "full_outer")
        .select(
            "d",
            F.coalesce("x", F.lit(0)).alias("x"),
            F.coalesce("y", F.lit(0)).alias("y"),
        )
    )
    out = cross_correlation(aligned, "d", "x", "y", max_lag=7)
    return out.select(
        "lag", "n", (d4(F.col("ccf")) + F.lit(0.0)).alias("ccf")
    ).orderBy("lag")


Q269_ORACLE = """
WITH od AS (
  SELECT CAST(o_orderdate AS DATE) AS d, count(*) AS x
  FROM orders GROUP BY 1
),
sd AS (
  SELECT CAST(l_shipdate AS DATE) AS d, count(*) AS y
  FROM lineitem GROUP BY 1
),
aligned AS (
  SELECT COALESCE(od.d, sd.d) AS d,
         COALESCE(x, 0) AS x, COALESCE(y, 0) AS y
  FROM od FULL JOIN sd ON od.d = sd.d
),
lags AS (SELECT unnest(range(0, 8)) AS lag),
pairs AS (
  SELECT lag, a.x, b.y AS y2
  FROM aligned a CROSS JOIN lags
  JOIN aligned b ON b.d = a.d + CAST(lag AS INT)
),
m AS (
  SELECT lag,
         CAST(count(*) AS HUGEINT) AS n,
         CAST(sum(x) AS HUGEINT) AS sx,
         CAST(sum(y2) AS HUGEINT) AS sy,
         sum(CAST(x AS HUGEINT) * y2) AS sxy,
         sum(CAST(x AS HUGEINT) * x) AS sxx,
         sum(CAST(y2 AS HUGEINT) * y2) AS syy
  FROM pairs GROUP BY lag
)
SELECT CAST(lag AS INT) AS lag, CAST(n AS BIGINT) AS n,
       CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
            THEN round(CAST(n * sxy - sx * sy AS DOUBLE)
                       / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                              * CAST(n * syy - sy * sy AS DOUBLE))
                       + 1e-9, 4) + 0.0
       END AS ccf
FROM m
ORDER BY lag
"""


QUERIES.append(Q("q269_cross_correlation", q269, Q269_ORACLE))


# --- Q272: label propagation communities ----------------------------------------------
def q272(spark, sf_dir):
    """Deterministic synchronous label propagation (operators/
    graph.py::label_propagation, r12 wave 2 — Raghavan 2007 with the
    pagerank/HITS fixed-iteration convention): 2 rounds over the
    supplier↔part incidence graph (part ids offset by 1e6), each node
    adopting its most frequent neighbor label, ties to the smallest —
    which makes the power-method restatable as chained SQL CTEs
    instead of rows-only. Per round: one edge⋈label join + one
    (node,label) count + one rank-1 window, 16-byte rows, lineage cut
    per round. (Synchronous LPA on a bipartite graph oscillates
    label SIDES by design — determinism, not modularity, is what the
    driver row checks; the community behavior is pinned on clique
    fixtures in tests/test_graph.py.)"""
    from parquet_on_fhir_spark.operators.graph import label_propagation

    li = t(spark, sf_dir, "lineitem")
    edges = li.select(
        F.col("l_suppkey").alias("src"),
        (F.col("l_partkey") + 1000000).alias("dst"),
    )
    out = label_propagation(edges, iterations=2)
    return out.select("node", "label")


Q272_ORACLE = """
WITH e0 AS (
  SELECT DISTINCT CAST(l_suppkey AS BIGINT) AS u,
         CAST(l_partkey + 1000000 AS BIGINT) AS v
  FROM lineitem
),
bid AS (
  SELECT u, v FROM e0 WHERE u <> v
  UNION
  SELECT v AS u, u AS v FROM e0 WHERE u <> v
),
nodes AS (
  SELECT DISTINCT u AS node FROM (
    SELECT u FROM e0 UNION ALL SELECT v FROM e0
  )
),
l0 AS (SELECT node, node AS label FROM nodes),
n1 AS (
  SELECT b.v AS node, l.label, count(*) AS c
  FROM bid b JOIN l0 l ON b.u = l.node GROUP BY 1, 2
),
a1 AS (
  SELECT node, label FROM n1
  QUALIFY row_number() OVER (PARTITION BY node ORDER BY c DESC, label) = 1
),
l1 AS (
  SELECT nodes.node, COALESCE(a1.label, nodes.node) AS label
  FROM nodes LEFT JOIN a1 USING (node)
),
n2 AS (
  SELECT b.v AS node, l.label, count(*) AS c
  FROM bid b JOIN l1 l ON b.u = l.node GROUP BY 1, 2
),
a2 AS (
  SELECT node, label FROM n2
  QUALIFY row_number() OVER (PARTITION BY node ORDER BY c DESC, label) = 1
)
SELECT nodes.node, COALESCE(a2.label, nodes.node) AS label
FROM nodes LEFT JOIN a2 USING (node)
"""


QUERIES.append(Q("q272_label_propagation", q272, Q272_ORACLE))


# --- Q274: Mann-Kendall trend test + Sen's slope -------------------------------------
def q274(spark, sf_dir):
    """Mann-Kendall monotone-trend test + Sen's slope (operators/
    analytics.py::mann_kendall, r12 wave 2): is weekly order revenue
    drifting, per priority? Weekly buckets make the series the unit of
    work (sf-flat length — data growth widens the weekly AGGREGATE,
    not the series); revenue folds exactly in DECIMAL(18,2) before the
    double cast so every pair sign is engine-identical; S comes from
    the Knight inversion machinery (no O(n²) sign scan), the Sen
    median from one numpy broadcast per group. The quadratic oracle
    restates S/ties/slopes pairwise and matches bitwise on the integer
    ingredients."""
    from parquet_on_fhir_spark.operators.analytics import mann_kendall

    wk = (
        t(spark, sf_dir, "orders")
        .groupBy(
            "o_orderpriority",
            F.datediff(
                F.to_date(F.date_trunc("week", F.col("o_orderdate"))),
                F.to_date(F.lit("1970-01-01")),
            ).alias("t"),
        )
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("v")
        )
    )
    out = mann_kendall(wk, "t", "v", ["o_orderpriority"])
    return out.select(
        F.col("o_orderpriority").alias("priority"),
        "n",
        "s_stat",
        d4(F.col("var_s")).alias("var_s"),
        (d4(F.col("z")) + F.lit(0.0)).alias("z"),
        (d4(F.col("sen_slope")) + F.lit(0.0)).alias("sen_slope"),
    )


Q274_ORACLE = """
WITH wk AS (
  SELECT o_orderpriority AS grp,
         CAST(date_trunc('week', CAST(o_orderdate AS DATE)) AS DATE)
           - DATE '1970-01-01' AS t,
         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS v
  FROM orders GROUP BY 1, 2
),
p AS (
  SELECT a.grp,
         CASE WHEN a.v < b.v THEN 1 WHEN a.v > b.v THEN -1
              ELSE 0 END AS sgn,
         (b.v - a.v) / CAST(b.t - a.t AS DOUBLE) AS slope
  FROM wk a JOIN wk b ON a.grp = b.grp AND a.t < b.t
),
agg AS (
  SELECT grp, CAST(sum(sgn) AS BIGINT) AS s_stat,
         median(slope) AS sen
  FROM p GROUP BY grp
),
ties AS (
  SELECT grp,
         CAST(sum(c * (c - 1) * (2 * c + 5)) AS BIGINT) AS tie_term,
         CAST(sum(c) AS BIGINT) AS n
  FROM (SELECT grp, v, count(*) AS c FROM wk GROUP BY grp, v)
  GROUP BY grp
),
m AS (
  SELECT a.grp, t2.n, a.s_stat, a.sen,
         (t2.n * (t2.n - 1) * (2 * t2.n + 5) - t2.tie_term) / 18.0 AS var_s
  FROM agg a JOIN ties t2 USING (grp)
)
SELECT grp AS priority, n, s_stat,
       round(var_s + 1e-9, 4) AS var_s,
       CASE WHEN var_s > 0 THEN
         round(CASE WHEN s_stat > 0 THEN (s_stat - 1) / sqrt(var_s)
                    WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(var_s)
                    ELSE 0.0 END + 1e-9, 4) + 0.0
       END AS z,
       round(sen + 1e-9, 4) + 0.0 AS sen_slope
FROM m
"""


QUERIES.append(Q("q274_mann_kendall", q274, Q274_ORACLE))


# --- Q275: isotonic calibration fit (PAV) --------------------------------------------
def q275(spark, sf_dir):
    """Isotonic regression per segment (operators/analytics.py::
    isotonic_fit, r12 wave 2 — pool-adjacent-violators, the
    nonparametric calibration map): fit conversion (customer has ≥1
    order) as a non-decreasing function of account balance. PAV's
    pooling stack is sequential, so the fit runs per executor-sized
    group inside applyInPandas; the pooled blocks are the calibration
    lookup table downstream. Rows-only by design (the stack is not
    SQL-restatable); properties pinned in tests/test_r12_wave2.py."""
    from parquet_on_fhir_spark.operators.analytics import isotonic_fit

    cust = t(spark, sf_dir, "customer")
    buyers = (
        t(spark, sf_dir, "orders")
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
        .withColumn("converted", F.lit(1.0))
    )
    feats = cust.join(buyers, "c_custkey", "left").select(
        "c_mktsegment",
        F.col("c_acctbal").alias("score"),
        F.coalesce("converted", F.lit(0.0)).alias("y"),
    )
    out = isotonic_fit(feats, "score", "y", ["c_mktsegment"])
    return out.select(
        F.col("c_mktsegment").alias("segment"),
        "block",
        d4(F.col("x_lo")).alias("x_lo"),
        d4(F.col("x_hi")).alias("x_hi"),
        d4(F.col("y_hat")).alias("y_hat"),
        "weight",
    )


QUERIES.append(Q("q275_isotonic_calibration", q275, None))


# --- Q280: grid-bucketed spatial radius join -----------------------------------------
def q280(spark, sf_dir):
    """Spatial radius join (operators/joins.py::grid_radius_join, r12
    wave 2): customers get deterministic md5-draw coordinates (lat
    ±60, lon ±170 — the oracle-restatable md5_60 recipe), the first 5
    become probes, and the grid join finds every point within 500 km —
    ONE equi-join keyed by radius-sized (lat, lon) cells with a
    latitude-corrected neighbor span, never a cross join. The oracle
    brute-forces ALL pairs with the same haversine and must match
    exactly: the no-missed-candidate proof for the bucketing."""
    from parquet_on_fhir_spark.operators.dedup import md5_60
    from parquet_on_fhir_spark.operators.joins import grid_radius_join

    cust = t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("pid"),
        (
            md5_60(F.concat(F.lit("lat:"), F.col("c_custkey").cast("string")))
            / F.lit(float(2**60))
            * 120.0
            - 60.0
        ).alias("lat"),
        (
            md5_60(F.concat(F.lit("lon:"), F.col("c_custkey").cast("string")))
            / F.lit(float(2**60))
            * 340.0
            - 170.0
        ).alias("lon"),
    )
    probes = cust.filter(F.col("pid") <= 5).select(
        F.col("pid").alias("probe_id"), "lat", "lon"
    )
    points = cust.select(F.col("pid").alias("point_id"), "lat", "lon")
    out = grid_radius_join(points, probes, radius_km=500.0)
    return out.filter(F.col("probe_id") != F.col("point_id")).select(
        "probe_id", "point_id", d4(F.col("dist_km")).alias("dist_km")
    )


Q280_ORACLE = """
WITH pts AS (
  SELECT c_custkey AS pid,
         CAST('0x' || substr(md5('lat:' || CAST(c_custkey AS VARCHAR)), 1, 15)
              AS BIGINT) / CAST(1152921504606846976 AS DOUBLE)
           * 120.0 - 60.0 AS lat,
         CAST('0x' || substr(md5('lon:' || CAST(c_custkey AS VARCHAR)), 1, 15)
              AS BIGINT) / CAST(1152921504606846976 AS DOUBLE)
           * 340.0 - 170.0 AS lon
  FROM customer
),
pairs AS (
  SELECT a.pid AS probe_id, b.pid AS point_id,
         2.0 * 6371.0 * asin(sqrt(
           pow(sin(radians(b.lat - a.lat) / 2), 2)
           + cos(radians(a.lat)) * cos(radians(b.lat))
             * pow(sin(radians(b.lon - a.lon) / 2), 2)
         )) AS dist_km
  FROM pts a JOIN pts b ON a.pid <= 5 AND a.pid <> b.pid
)
SELECT probe_id, point_id, round(dist_km + 1e-9, 4) AS dist_km
FROM pairs WHERE dist_km <= 500.0
"""


QUERIES.append(Q("q280_geo_radius_join", q280, Q280_ORACLE))


# --- Q281: rolling-origin backtest splits --------------------------------------------
def q281(spark, sf_dir):
    """Rolling-origin time-series CV splits (operators/timeseries.py::
    rolling_origin_splits, r12 wave 2 — Tashman 2000): 3 expanding-
    window folds with a 2-week test horizon over weekly order buckets;
    random K-fold leaks the future, this is the split discipline
    forecast backtests require. The facts are bucketed in ONE map-side
    pass; fold assignment is integer arithmetic on the tiny distinct-
    bucket frame (grid × folds), fully restatable. Returns the
    manifest (fold, role, bucket, n_rows) a backtest loop consumes."""
    from parquet_on_fhir_spark.operators.timeseries import (
        rolling_origin_splits,
    )

    o = t(spark, sf_dir, "orders").select("o_orderdate")
    out = rolling_origin_splits(
        o, "o_orderdate", n_folds=3, horizon=2, every="7 days"
    )
    return out.select(
        "fold", "role", ts_str(F.col("bucket")).alias("bucket"), "n_rows"
    ).orderBy("fold", "bucket")


Q281_ORACLE = """
WITH b AS (
  SELECT TIMESTAMP '1970-01-01'
         + CAST(floor(epoch(o_orderdate) / 604800) * 604800 AS BIGINT)
           * INTERVAL '1 second' AS bucket
  FROM orders
),
counts AS (SELECT bucket, count(*) AS n_rows FROM b GROUP BY bucket),
idx AS (
  SELECT bucket, n_rows,
         row_number() OVER (ORDER BY bucket) - 1 AS i,
         count(*) OVER () AS total
  FROM counts
),
folds AS (SELECT unnest(range(0, 3)) AS fold),
asn AS (
  SELECT CAST(fold AS INT) AS fold,
         CASE WHEN i <= (total - 2 - 1) - (2 - fold) THEN 'train'
              WHEN i <= (total - 2 - 1) - (2 - fold) + 2 THEN 'test'
         END AS role,
         bucket, CAST(n_rows AS BIGINT) AS n_rows
  FROM idx CROSS JOIN folds
)
SELECT fold, role, strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket, n_rows
FROM asn WHERE role IS NOT NULL
ORDER BY fold, bucket
"""


QUERIES.append(Q("q281_rolling_origin_splits", q281, Q281_ORACLE))


# --- Q283: Fisher's exact test --------------------------------------------------------
def q283(spark, sf_dir):
    """Fisher's exact 2x2 test (operators/analytics.py::fisher_exact,
    r12 wave 3): nation-1 customers (n=55 at sf0.01 -- a genuinely
    small sample, exactly where chi-squared's large-cell assumption
    fails and ONLY the exact hypergeometric answer is valid), exposure
    = positive account balance above 5000, outcome = placed at least
    one order. Integer-exact per the q169/q221 discipline: the
    hypergeometric weights are exact DECIMAL(38,0) binomials via the
    Pascal ratio recurrence, the two-sided tail is an exact integer
    comparison, and the oracle reruns the SAME recurrence in a
    recursive CTE (HUGEINT intermediates, integer `//`), so the
    single final division matches bit-for-bit."""
    from parquet_on_fhir_spark.operators.analytics import fisher_exact

    cust = t(spark, sf_dir, "customer").filter(F.col("c_nationkey") == 1)
    buyers = (
        t(spark, sf_dir, "orders")
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
        .withColumn("has_order", F.lit(True))
    )
    flagged = cust.join(buyers, "c_custkey", "left").select(
        (F.col("c_acctbal") > 5000).alias("exposed"),
        F.coalesce("has_order", F.lit(False)).alias("converted"),
    )
    return fisher_exact(flagged, "exposed", "converted")


Q283_ORACLE = """
WITH flagged AS (
  SELECT c_acctbal > 5000 AS exposed,
         EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
           AS converted
  FROM customer c WHERE c_nationkey = 1
),
cells AS (
  SELECT
    CAST(sum(CASE WHEN exposed AND converted THEN 1 ELSE 0 END) AS BIGINT) AS a,
    CAST(sum(CASE WHEN exposed AND NOT converted THEN 1 ELSE 0 END) AS BIGINT) AS b,
    CAST(sum(CASE WHEN NOT exposed AND converted THEN 1 ELSE 0 END) AS BIGINT) AS c,
    CAST(sum(CASE WHEN NOT exposed AND NOT converted THEN 1 ELSE 0 END) AS BIGINT) AS d
  FROM flagged
  WHERE exposed IS NOT NULL AND converted IS NOT NULL
),
m AS (
  SELECT a, b, c, d, a + b AS r1, c + d AS r2, a + c AS c1,
         a + b + c + d AS n
  FROM cells
),
marginals AS (
  SELECT r1 AS mm FROM m UNION SELECT r2 FROM m UNION SELECT n FROM m
),
binom AS (
  WITH RECURSIVE bb(mm, j, v) AS (
    SELECT mm, 0, CAST(1 AS HUGEINT) FROM marginals
    UNION ALL
    SELECT mm, j + 1, v * (mm - j) // (j + 1) FROM bb WHERE j < mm
  )
  SELECT * FROM bb
),
kk AS (
  SELECT m.*, CAST(unnest(range(greatest(0, c1 - r2),
                                least(r1, c1) + 1)) AS BIGINT) AS k
  FROM m
),
w AS (
  SELECT kk.*, b1.v * b2.v AS wk
  FROM kk
  JOIN binom b1 ON b1.mm = kk.r1 AND b1.j = kk.k
  JOIN binom b2 ON b2.mm = kk.r2 AND b2.j = kk.c1 - kk.k
),
tot AS (
  SELECT bb.v AS wt FROM binom bb JOIN m ON bb.mm = m.n AND bb.j = m.c1
),
wobs AS (SELECT wk AS wo FROM w JOIN m ON w.k = m.a)
SELECT w.a, w.b, w.c, w.d,
  round(CAST(sum(CASE WHEN wk <= wo THEN wk END) AS DOUBLE)
        / CAST(wt AS DOUBLE), 12) AS p_two_sided,
  round(CAST(sum(CASE WHEN k >= w.a THEN wk END) AS DOUBLE)
        / CAST(wt AS DOUBLE), 12) AS p_greater,
  round(CAST(sum(CASE WHEN k <= w.a THEN wk END) AS DOUBLE)
        / CAST(wt AS DOUBLE), 12) AS p_less,
  CASE WHEN w.a > 0 AND w.b > 0 AND w.c > 0 AND w.d > 0 THEN
    round(CAST(w.a * w.d AS DOUBLE) / CAST(w.b * w.c AS DOUBLE), 12)
  END AS odds_ratio
FROM w, tot, wobs
GROUP BY w.a, w.b, w.c, w.d, wt, wo
"""


QUERIES.append(Q("q283_fisher_exact", q283, Q283_ORACLE))


# --- Q286: McNemar's exact paired test ------------------------------------------------
def q286(spark, sf_dir):
    """McNemar's exact test (operators/analytics.py::mcnemar_exact,
    r12 wave 3): nation-1 customers measured TWICE — ordered in the
    early era (< 1998) vs the late era (>= 1998) — the paired design
    where fisher/z-tests are wrong because each customer is their own
    control and concordant pairs carry no information. Exact binomial
    tail over the discordant counts via the shared DECIMAL(38,0)
    Pascal fold; 2^n is a power of two, hence EXACT in double, so the
    single final division matches the HUGEINT recursive-CTE oracle
    bit-for-bit."""
    from parquet_on_fhir_spark.operators.analytics import mcnemar_exact

    cust = t(spark, sf_dir, "customer").filter(
        F.col("c_nationkey") == 1
    ).select("c_custkey")
    flags = (
        t(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(
            F.max(
                (F.col("o_orderdate") < F.lit("1998-01-01")).cast("int")
            ).alias("pre_i"),
            F.max(
                (F.col("o_orderdate") >= F.lit("1998-01-01")).cast("int")
            ).alias("post_i"),
        )
    )
    paired = cust.join(flags, "c_custkey", "left").select(
        F.coalesce(F.col("pre_i") == 1, F.lit(False)).alias("pre"),
        F.coalesce(F.col("post_i") == 1, F.lit(False)).alias("post"),
    )
    return mcnemar_exact(paired, "pre", "post")


Q286_ORACLE = """
WITH paired AS (
  SELECT
    EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
            AND o.o_orderdate < TIMESTAMP '1998-01-01') AS pre,
    EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
            AND o.o_orderdate >= TIMESTAMP '1998-01-01') AS post
  FROM customer c WHERE c_nationkey = 1
),
cells AS (
  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(CASE WHEN pre AND NOT post THEN 1 ELSE 0 END) AS BIGINT) AS b,
         CAST(sum(CASE WHEN NOT pre AND post THEN 1 ELSE 0 END) AS BIGINT) AS c
  FROM paired
),
m AS (SELECT n_pairs, b, c, b + c AS n FROM cells),
binom AS (
  WITH RECURSIVE bb(j, v) AS (
    SELECT 0, CAST(1 AS HUGEINT) FROM m
    UNION ALL
    SELECT j + 1, v * ((SELECT n FROM m) - j) // (j + 1)
    FROM bb WHERE j < (SELECT n FROM m)
  )
  SELECT * FROM bb
),
tail AS (
  SELECT sum(v) AS tl FROM binom, m WHERE j <= least(m.b, m.c)
)
SELECT m.n_pairs, m.b, m.c,
  CASE WHEN m.n = 0 THEN 1.0
       ELSE round(least(1.0, 2 * CAST(tl AS DOUBLE) / power(2, m.n)), 12)
  END AS p_two_sided,
  CASE WHEN m.c > 0 THEN
    round(CAST(m.b AS DOUBLE) / CAST(m.c AS DOUBLE), 12)
  END AS odds_ratio
FROM m, tail
"""


QUERIES.append(Q("q286_mcnemar_exact", q286, Q286_ORACLE))


# --- Q288: dynamic partition pruning --------------------------------------------------
def q288(spark, sf_dir):
    """Dynamic partition pruning end-to-end (r12 wave 3): orders
    written partitioned by order YEAR, then joined to a FILTERED tiny
    dimension on the partition column — the scan must prune to the
    dimension's years at RUNTIME (the filter value is only known
    after the broadcast build), which is Catalyst's DPP: the physical
    scan carries `PartitionFilters: [dynamicpruning#...]` and only
    those year directories are read. At 100 TB this is THE mechanism
    that turns a fact-dim join over a date-partitioned lake into a
    partial scan; the plan shape is pinned in
    tests/test_scale_plans.py. Result is pure relational (revenue per
    kept year), so the oracle needs no partitioned layout."""
    o = t(spark, sf_dir, "orders").withColumn(
        "o_year", F.year("o_orderdate")
    )
    # Deterministic run-scoped path (NOT mkdtemp): the returned frame
    # scans this directory lazily, so it can't be deleted here; a
    # per-PROCESS name + overwrite mode means repeated suite/bench runs
    # in one session reuse one directory instead of leaking a parquet
    # copy per run (r12 advice), while concurrent sessions (bench +
    # selfcheck, or two users) don't race each other's overwrite
    # (r13 advice).
    base = str(
        Path(tempfile.gettempdir()) / f"pofs_dpp_q288_{os.getpid()}"
    )
    o.write.mode("overwrite").partitionBy("o_year").parquet(base)
    fact = spark.read.parquet(base)
    dim = (
        t(spark, sf_dir, "orders")
        .select(F.year("o_orderdate").alias("o_year"))
        .distinct()
        .filter(F.col("o_year").isin(1996, 1999))
        .withColumn("era", F.lit("kept"))
    )
    joined = fact.join(F.broadcast(dim), "o_year")
    return (
        joined.groupBy("o_year")
        .agg(
            F.count("*").alias("n"),
            d2(F.sum("o_totalprice")).alias("revenue"),
        )
        .select(F.col("o_year").cast("int").alias("o_year"), "n", "revenue")
    )


Q288_ORACLE = """
SELECT CAST(year(o_orderdate) AS INT) AS o_year,
       count(*) AS n,
       round(sum(o_totalprice), 2) AS revenue
FROM orders
WHERE year(o_orderdate) IN (1996, 1999)
GROUP BY 1
"""


QUERIES.append(Q("q288_dynamic_partition_pruning", q288, Q288_ORACLE))


# --- Q291: peak interval concurrency (sweep line) -------------------------------------
def q291(spark, sf_dir):
    """Peak concurrent intervals (operators/timeseries.py::
    peak_concurrency, r12 wave 3): the sweep-line "how many shipments
    were in transit at once" answer — per return flag, lineitems are
    open over [shipdate, shipdate + (quantity % 14 + 1) days) and the
    peak is the max of the netted running sum over the
    DISTINCT-timestamp frame (one union + one hash aggregate + one
    group-keyed window; raw rows never enter the window). Half-open
    intervals make back-to-back shipments count once; peak_at is the
    earliest peak timestamp, deterministic because the netted frame
    has one row per timestamp."""
    from parquet_on_fhir_spark.operators.timeseries import (
        peak_concurrency,
    )

    l = t(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.col("l_shipdate").alias("s"),
        F.expr(
            "timestampadd(DAY, CAST(l_quantity AS INT) % 14 + 1, l_shipdate)"
        ).alias("e"),
    )
    out = peak_concurrency(l, "s", "e", ["l_returnflag"])
    return out.select(
        "l_returnflag", "peak", ts_str(F.col("peak_at")).alias("peak_at")
    )


Q291_ORACLE = """
WITH iv AS (
  SELECT l_returnflag, l_shipdate AS s,
         l_shipdate + (CAST(l_quantity AS INT) % 14 + 1)
           * INTERVAL '1 day' AS e
  FROM lineitem
),
deltas AS (
  SELECT l_returnflag, s AS t, 1 AS d FROM iv
  UNION ALL
  SELECT l_returnflag, e AS t, -1 AS d FROM iv
),
net AS (
  SELECT l_returnflag, t, sum(d) AS nd
  FROM deltas GROUP BY l_returnflag, t
),
run AS (
  SELECT l_returnflag, t,
         sum(nd) OVER (PARTITION BY l_returnflag ORDER BY t
                       ROWS UNBOUNDED PRECEDING) AS c
  FROM net
),
pk AS (
  SELECT l_returnflag, CAST(max(c) AS INT) AS peak FROM run
  GROUP BY l_returnflag
)
SELECT r.l_returnflag, p.peak,
       strftime(min(r.t), '%Y-%m-%d %H:%M:%S') AS peak_at
FROM run r JOIN pk p ON r.l_returnflag = p.l_returnflag AND r.c = p.peak
GROUP BY r.l_returnflag, p.peak
"""


QUERIES.append(Q("q291_peak_concurrency", q291, Q291_ORACLE))


# --- Q292: Holt-Winters seasonal smoothing --------------------------------------------
def q292(spark, sf_dir):
    """Holt-Winters additive seasonal smoothing (operators/
    timeseries.py::holt_winters_seasonal, r12 wave 3): weekly order
    revenue per priority with a 4-week seasonal period — the seasonal
    member completing the exponential family (ewma q140, Holt q195).
    Facts are bucketed in ONE map-side aggregate to the weekly frame;
    the coupled level/trend/season recurrences then run per series
    under applyInPandas (keys parallelize, the q195 shape). Rows-only
    by design; the recurrence is pinned against an independent
    reference in tests/test_timeseries.py."""
    from parquet_on_fhir_spark.operators.timeseries import (
        holt_winters_seasonal,
    )

    o = t(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.window("o_orderdate", "7 days").getField("start").alias("wk"),
        "o_totalprice",
    )
    weekly = o.groupBy("o_orderpriority", "wk").agg(
        F.round(F.sum("o_totalprice"), 2).alias("rev")
    )
    out = holt_winters_seasonal(
        weekly, "wk", ["o_orderpriority"], "rev", period=4
    )
    return out.select(
        F.col("o_orderpriority").alias("priority"),
        ts_str(F.col("wk")).alias("wk"),
        d2(F.col("rev")).alias("rev"),
        d4(F.col("level")).alias("level"),
        d4(F.col("trend")).alias("trend"),
        d4(F.col("season")).alias("season"),
        d4(F.col("fitted")).alias("fitted"),
    )


QUERIES.append(Q("q292_holt_winters_seasonal", q292, None))


# --- Q300: Holt-Winters multiplicative + damped variants -------------------------------
def q300(spark, sf_dir):
    """Holt-Winters variants (operators/timeseries.py::
    holt_winters_seasonal seasonal='mul' / phi<1, r13 — the r12
    verdict's task 4): the same weekly-revenue frame as q292 run
    through MULTIPLICATIVE seasonality (revenue sums are strictly
    positive, the mode's precondition) and through the
    Gardner-McKenzie DAMPED additive trend (phi=0.85), union-tagged
    by variant. One map-side weekly aggregate feeds both
    applyInPandas fits (keys parallelize — the q195/q292 shape).
    Rows-only by design; each recurrence is pinned against an
    independent python reference in tests/test_timeseries.py."""
    from parquet_on_fhir_spark.operators.timeseries import (
        holt_winters_seasonal,
    )

    o = t(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.window("o_orderdate", "7 days").getField("start").alias("wk"),
        "o_totalprice",
    )
    weekly = o.groupBy("o_orderpriority", "wk").agg(
        F.round(F.sum("o_totalprice"), 2).alias("rev")
    )

    def shaped(fit, tag):
        return fit.select(
            F.lit(tag).alias("variant"),
            F.col("o_orderpriority").alias("priority"),
            ts_str(F.col("wk")).alias("wk"),
            d2(F.col("rev")).alias("rev"),
            d4(F.col("level")).alias("level"),
            d4(F.col("trend")).alias("trend"),
            d4(F.col("season")).alias("season"),
            d4(F.col("fitted")).alias("fitted"),
        )

    mul = holt_winters_seasonal(
        weekly, "wk", ["o_orderpriority"], "rev", period=4, seasonal="mul"
    )
    damped = holt_winters_seasonal(
        weekly, "wk", ["o_orderpriority"], "rev", period=4, phi=0.85
    )
    return shaped(mul, "mul").unionByName(shaped(damped, "damped"))


QUERIES.append(Q("q300_holt_winters_mul_damped", q300, None))


# --- Q293: Fellegi-Sunter record-linkage scoring --------------------------------------
#: fixed (m, u) literals so the scoring is oracle-restatable; the EM
#: estimation path (fs_em_fit) is rows-only and pinned against an
#: independent numpy EM in tests/test_joins.py.
_Q293_PARAMS = {
    "name_eq": (0.45, 0.001),
    "seg_eq": (0.95, 0.2),
    "bal_close": (0.99, 0.001),
}


def q293(spark, sf_dir):
    """Fellegi-Sunter probabilistic record linkage (operators/
    joins.py::fs_link_score, r12 wave 3 — the classical
    entity-resolution decision model): customers vs deterministically
    DIRTIED twins (even keys upper-cased, odd keys name-suffixed;
    balances rounded), candidate pairs blocked per nation (the
    blocking stage bounds pair volume — scoring itself is map-only
    and rides ANY candidate generator: fuzzy join, LSH, q271
    candidates). Per-field agreement weights log2(m/u) /
    log2((1-m)/(1-u)) are 12-dp literals, summed in one CASE
    expression; classes split at +-3 log-odds with the clerical
    'possible' band. Output aggregates per (nation, class)."""
    from parquet_on_fhir_spark.operators.joins import fs_link_score

    cust = t(spark, sf_dir, "customer")
    orig = cust.select(
        F.col("c_custkey").alias("o_id"),
        F.col("c_nationkey").alias("nation"),
        F.lower(F.col("c_name")).alias("o_name"),
        F.col("c_mktsegment").alias("o_seg"),
        F.col("c_acctbal").alias("o_bal"),
    )
    twin = cust.select(
        F.col("c_custkey").alias("t_id"),
        F.col("c_nationkey").alias("nation"),
        F.lower(
            F.when(
                F.col("c_custkey") % 2 == 0, F.upper(F.col("c_name"))
            ).otherwise(F.concat(F.col("c_name"), F.lit("x")))
        ).alias("t_name"),
        F.col("c_mktsegment").alias("t_seg"),
        F.round(F.col("c_acctbal"), 0).alias("t_bal"),
    )
    pairs = orig.join(twin, "nation").select(
        "nation",
        "o_id",
        "t_id",
        (F.col("o_name") == F.col("t_name")).alias("name_eq"),
        (F.col("o_seg") == F.col("t_seg")).alias("seg_eq"),
        (F.abs(F.col("o_bal") - F.col("t_bal")) <= 0.5).alias("bal_close"),
    )
    scored = fs_link_score(pairs, _Q293_PARAMS)
    return scored.groupBy(
        F.col("nation").cast("int").alias("nation"), "match_class"
    ).agg(
        F.count("*").alias("n"),
        d4(F.avg("fs_score")).alias("avg_score"),
    )


def _q293_oracle() -> str:
    import math

    terms = []
    for col, (m, u) in sorted(_Q293_PARAMS.items()):
        wa = round(math.log2(m / u), 12)
        wd = round(math.log2((1 - m) / (1 - u)), 12)
        terms.append(
            f"CASE WHEN coalesce({col}, false) THEN {wa!r} ELSE {wd!r} END"
        )
    score = "round(" + " + ".join(terms) + ", 12)"
    return f"""
WITH orig AS (
  SELECT c_custkey AS o_id, c_nationkey AS nation,
         lower(c_name) AS o_name, c_mktsegment AS o_seg,
         c_acctbal AS o_bal
  FROM customer
),
twin AS (
  SELECT c_custkey AS t_id, c_nationkey AS nation,
         lower(CASE WHEN c_custkey % 2 = 0 THEN upper(c_name)
                    ELSE c_name || 'x' END) AS t_name,
         c_mktsegment AS t_seg, round(c_acctbal, 0) AS t_bal
  FROM customer
),
pairs AS (
  SELECT o.nation, o_id, t_id,
         o_name = t_name AS name_eq,
         o_seg = t_seg AS seg_eq,
         abs(o_bal - t_bal) <= 0.5 AS bal_close
  FROM orig o JOIN twin t ON o.nation = t.nation
),
scored AS (
  SELECT nation, {score} AS fs_score FROM pairs
)
SELECT CAST(nation AS INT) AS nation,
       CASE WHEN fs_score >= 3.0 THEN 'match'
            WHEN fs_score <= -3.0 THEN 'non_match'
            ELSE 'possible' END AS match_class,
       count(*) AS n,
       round(avg(fs_score) + 1e-9, 4) AS avg_score
FROM scored GROUP BY 1, 2
"""


QUERIES.append(Q("q293_fs_record_linkage", q293, _q293_oracle()))


# --- Q294: mSPRT always-valid sequential A/B monitor -----------------------------------
def q294(spark, sf_dir):
    """Always-valid sequential A/B monitor (operators/analytics.py::
    msprt_monitor, r12 wave 3 — the mSPRT 'peeking problem' fix):
    events split into arms by user parity, purchase values compared
    daily; the mixture likelihood ratio and its running-min
    always-valid p may be read EVERY day with the type-I guarantee
    intact — the monitoring discipline fixed-horizon z/t tests cannot
    give. One map-side aggregate to the (day x arm) frame; cumulative
    windows run over DAYS, never events; DECIMAL-exact sums feed the
    single 12-dp-quantized transcendental, so the oracle matches
    bitwise."""
    from parquet_on_fhir_spark.operators.analytics import msprt_monitor

    e = t(spark, sf_dir, "events").select(
        "ts", (F.col("user_id") % 2).alias("arm"), "value"
    )
    out = msprt_monitor(e, "ts", "arm", "value", 0, 1, tau=1.0, value_dp=2)
    return out.select(
        ts_str(F.col("bucket")).alias("bucket"),
        "n_a",
        "n_b",
        "delta",
        "lambda_stat",
        "p_always_valid",
    )


Q294_ORACLE = """
WITH base AS (
  SELECT TIMESTAMP '1970-01-01'
           + CAST(floor(epoch(ts) / 86400) * 86400 AS BIGINT)
             * INTERVAL '1 second' AS bucket,
         user_id % 2 AS arm,
         CAST(round(value, 2) AS DECIMAL(18,6)) AS v
  FROM events WHERE value IS NOT NULL AND user_id % 2 IN (0, 1)
),
daily AS (
  SELECT bucket,
         sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS na_d,
         sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS nb_d,
         sum(CASE WHEN arm = 0 THEN v ELSE CAST(0 AS DECIMAL(18,6)) END) AS sa_d,
         sum(CASE WHEN arm = 1 THEN v ELSE CAST(0 AS DECIMAL(18,6)) END) AS sb_d,
         sum(CASE WHEN arm = 0 THEN v * v ELSE CAST(0 AS DECIMAL(18,6)) * CAST(0 AS DECIMAL(18,6)) END) AS qa_d,
         sum(CASE WHEN arm = 1 THEN v * v ELSE CAST(0 AS DECIMAL(18,6)) * CAST(0 AS DECIMAL(18,6)) END) AS qb_d
  FROM base GROUP BY bucket
),
cum AS (
  SELECT bucket,
         CAST(sum(na_d) OVER w AS DOUBLE) AS na,
         CAST(sum(nb_d) OVER w AS DOUBLE) AS nb,
         CAST(sum(sa_d) OVER w AS DOUBLE) AS sa,
         CAST(sum(sb_d) OVER w AS DOUBLE) AS sb,
         CAST(sum(qa_d) OVER w AS DOUBLE) AS qa,
         CAST(sum(qb_d) OVER w AS DOUBLE) AS qb
  FROM daily
  WINDOW w AS (ORDER BY bucket ROWS UNBOUNDED PRECEDING)
),
scored AS (
  SELECT bucket, na, nb,
         sa / na - sb / nb AS delta,
         ((qa - sa * sa / na) + (qb - sb * sb / nb)) / (na + nb - 2)
           AS s2
  FROM cum
),
lam AS (
  SELECT bucket, na, nb,
         CASE WHEN na >= 2 AND nb >= 2 AND s2 > 0
              THEN round(delta, 12) END AS delta,
         CASE WHEN na >= 2 AND nb >= 2 AND s2 > 0 THEN
           round(sqrt((s2 * (1/na + 1/nb)) / (s2 * (1/na + 1/nb) + 1.0))
                 * exp(delta * delta * 1.0
                       / (2 * (s2 * (1/na + 1/nb))
                          * (s2 * (1/na + 1/nb) + 1.0))), 12)
         END AS lambda_stat
  FROM scored
)
SELECT strftime(bucket, '%Y-%m-%d %H:%M:%S') AS bucket,
       CAST(na AS BIGINT) AS n_a, CAST(nb AS BIGINT) AS n_b,
       delta, lambda_stat,
       min(CASE WHEN lambda_stat > 1.0 THEN round(1.0 / lambda_stat, 12)
                ELSE 1.0 END)
         OVER (ORDER BY bucket ROWS UNBOUNDED PRECEDING)
         AS p_always_valid
FROM lam
"""


QUERIES.append(Q("q294_msprt_monitor", q294, Q294_ORACLE))


# --- Q295-Q298: method-comparison / effect-size statistics ----------------------------
def q295(spark, sf_dir):
    """Cohen's d / Hedges' g effect size (operators/analytics.py::
    cohens_d, r12 wave 4): URGENT vs LOW order values — the magnitude
    number an A/B readout must report next to its p-value. ONE
    map-side-combined exact-decimal moment aggregate; the oracle
    matches bitwise before the d4 output rounding."""
    from parquet_on_fhir_spark.operators.analytics import cohens_d

    o = t(spark, sf_dir, "orders")
    out = cohens_d(o, "o_orderpriority", "1-URGENT", "5-LOW", "o_totalprice")
    return out.select(
        "n_a",
        "n_b",
        d4(F.col("mean_a")).alias("mean_a"),
        d4(F.col("mean_b")).alias("mean_b"),
        d4(F.col("pooled_sd")).alias("pooled_sd"),
        d4(F.col("cohens_d")).alias("cohens_d"),
        d4(F.col("hedges_g")).alias("hedges_g"),
    )


Q295_ORACLE = """
WITH m AS (
  SELECT
    CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' AND o_totalprice IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
    CAST(sum(CASE WHEN o_orderpriority = '5-LOW' AND o_totalprice IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
    CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN CAST(round(o_totalprice, 2) AS DECIMAL(30,6)) ELSE CAST(0 AS DECIMAL(30,6)) END) AS DOUBLE) AS sa,
    CAST(sum(CASE WHEN o_orderpriority = '5-LOW' THEN CAST(round(o_totalprice, 2) AS DECIMAL(30,6)) ELSE CAST(0 AS DECIMAL(30,6)) END) AS DOUBLE) AS sb,
    CAST(sum(CASE WHEN o_orderpriority = '1-URGENT' THEN CAST(round(o_totalprice, 2) AS DECIMAL(30,6)) * CAST(round(o_totalprice, 2) AS DECIMAL(30,6)) ELSE CAST(0 AS DECIMAL(30,6)) * CAST(0 AS DECIMAL(30,6)) END) AS DOUBLE) AS qa,
    CAST(sum(CASE WHEN o_orderpriority = '5-LOW' THEN CAST(round(o_totalprice, 2) AS DECIMAL(30,6)) * CAST(round(o_totalprice, 2) AS DECIMAL(30,6)) ELSE CAST(0 AS DECIMAL(30,6)) * CAST(0 AS DECIMAL(30,6)) END) AS DOUBLE) AS qb
  FROM orders WHERE o_orderpriority IN ('1-URGENT', '5-LOW')
),
c AS (
  SELECT n_a, n_b, sa / n_a AS ma, sb / n_b AS mb,
         sqrt(((qa - sa * sa / n_a) + (qb - sb * sb / n_b))
              / (n_a + n_b - 2)) AS sp
  FROM m
)
SELECT n_a, n_b,
       round(ma + 1e-9, 4) AS mean_a,
       round(mb + 1e-9, 4) AS mean_b,
       round(sp + 1e-9, 4) AS pooled_sd,
       round((ma - mb) / sp + 1e-9, 4) AS cohens_d,
       round((ma - mb) / sp * (1 - 3.0 / (4 * (n_a + n_b) - 9)) + 1e-9, 4)
         AS hedges_g
FROM c
"""


QUERIES.append(Q("q295_cohens_d", q295, Q295_ORACLE))


def q296(spark, sf_dir):
    """Bland-Altman agreement (operators/analytics.py::bland_altman,
    r12 wave 4 -- THE lab method-comparison statistic): event values
    re-measured by a synthetic 'method 2' (2% proportional bias + an
    md5-deterministic error, the q280 restatable-noise recipe); bias,
    95% limits of agreement, and the count outside them -- where
    correlation would hide a clinically fatal offset."""
    from parquet_on_fhir_spark.operators.analytics import bland_altman
    from parquet_on_fhir_spark.operators.dedup import md5_60

    e = t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    noise = (
        md5_60(F.concat(F.lit("ba:"), F.col("event_id").cast("string")))
        / F.lit(float(2**60))
        - 0.5
    ) * 4.0
    d = e.select(
        F.round(F.col("value"), 2).alias("m1"),
        F.round(F.col("value") * 1.02 + noise, 2).alias("m2"),
    )
    out = bland_altman(d, "m1", "m2")
    return out.select(
        "n",
        d4(F.col("bias")).alias("bias"),
        d4(F.col("loa_lo")).alias("loa_lo"),
        d4(F.col("loa_hi")).alias("loa_hi"),
        F.col("n_outside").cast("long").alias("n_outside"),
    )


Q296_ORACLE = """
WITH d AS (
  SELECT round(value, 2) AS m1,
         round(value * 1.02
               + (CAST('0x' || substr(md5('ba:' || CAST(event_id AS VARCHAR)), 1, 15)
                       AS BIGINT) / CAST(1152921504606846976 AS DOUBLE) - 0.5)
                 * 4.0, 2) AS m2
  FROM events WHERE value IS NOT NULL
),
dd AS (SELECT round(m1 - m2, 2) AS df FROM d),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(df AS DECIMAL(18,6))) AS DOUBLE) AS s1,
         CAST(sum(CAST(df AS DECIMAL(18,6)) * CAST(df AS DECIMAL(18,6))) AS DOUBLE) AS s2
  FROM dd
),
lims AS (
  SELECT n, s1 / n AS bias,
         s1 / n - 1.96 * sqrt((s2 - s1 * s1 / n) / (n - 1)) AS lo,
         s1 / n + 1.96 * sqrt((s2 - s1 * s1 / n) / (n - 1)) AS hi
  FROM m
)
SELECT n,
       round(bias + 1e-9, 4) AS bias,
       round(lo + 1e-9, 4) AS loa_lo,
       round(hi + 1e-9, 4) AS loa_hi,
       (SELECT CAST(sum(CASE WHEN df < lo OR df > hi THEN 1 ELSE 0 END) AS BIGINT)
        FROM dd) AS n_outside
FROM lims
"""


QUERIES.append(Q("q296_bland_altman", q296, Q296_ORACLE))


def q297(spark, sf_dir):
    """One-way intraclass correlation ICC(1,1) (operators/
    analytics.py::icc_oneway, r12 wave 4): how much of event-value
    variance is BETWEEN users vs noise within them -- test-retest
    reliability over an unbalanced design (k0 correction). Two hash
    aggregates: per-subject exact-decimal moments then the 1-row
    ANOVA fold; per-subject s^2/k terms sum in double, so this row
    rides the d4(+1e-9) convention (operator docstring)."""
    from parquet_on_fhir_spark.operators.analytics import icc_oneway

    e = t(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    out = icc_oneway(e, "user_id", "value")
    return out.select(
        "n_subjects",
        "n_obs",
        d4(F.col("msb")).alias("msb"),
        d4(F.col("msw")).alias("msw"),
        d4(F.col("k0")).alias("k0"),
        d4(F.col("icc")).alias("icc"),
    )


Q297_ORACLE = """
WITH per AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS k,
         sum(CAST(round(value, 2) AS DECIMAL(18,6))) AS s,
         sum(CAST(round(value, 2) AS DECIMAL(18,6))
             * CAST(round(value, 2) AS DECIMAL(18,6))) AS q
  FROM events WHERE value IS NOT NULL GROUP BY user_id
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_subj,
         CAST(sum(k) AS BIGINT) AS n_obs,
         CAST(sum(k * k) AS DOUBLE) AS sum_k2,
         CAST(sum(s) AS DOUBLE) AS s_tot,
         CAST(sum(q) AS DOUBLE) AS q_tot,
         sum(CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / k) AS ss_subj
  FROM per
),
f AS (
  SELECT n_subj, n_obs,
         (ss_subj - s_tot * s_tot / n_obs) / (n_subj - 1) AS msb,
         (q_tot - ss_subj) / (n_obs - n_subj) AS msw,
         (n_obs - sum_k2 / n_obs) / (n_subj - 1) AS k0
  FROM agg
)
SELECT n_subj AS n_subjects, n_obs,
       round(msb + 1e-9, 4) AS msb,
       round(msw + 1e-9, 4) AS msw,
       round(k0 + 1e-9, 4) AS k0,
       round((msb - msw) / (msb + (k0 - 1) * msw) + 1e-9, 4) AS icc
FROM f
"""


QUERIES.append(Q("q297_icc_oneway", q297, Q297_ORACLE))


def q298(spark, sf_dir):
    """Deming regression (operators/analytics.py::deming_regression,
    r12 wave 4 -- clinical-chemistry method validation): both
    variables carry measurement error, where OLS biases the slope
    toward zero; closed form from ONE exact-decimal moment aggregate
    (n, Sx, Sy, Sxx, Syy, Sxy). x = order value, y = a planted
    1.03x - 5 relation plus md5-deterministic error -- the fitted
    slope must recover ~1.03 where OLS under the same noise reads
    low."""
    from parquet_on_fhir_spark.operators.analytics import (
        deming_regression,
    )
    from parquet_on_fhir_spark.operators.dedup import md5_60

    o = t(spark, sf_dir, "orders").filter(F.col("o_totalprice").isNotNull())
    noise = (
        md5_60(F.concat(F.lit("dm:"), F.col("o_orderkey").cast("string")))
        / F.lit(float(2**60))
        - 0.5
    ) * 50.0
    d = o.select(
        F.round(F.col("o_totalprice"), 2).alias("x"),
        F.round(F.col("o_totalprice") * 1.03 - 5.0 + noise, 2).alias("y"),
    )
    out = deming_regression(d, "x", "y")
    return out.select(
        "n",
        d4(F.col("mean_x")).alias("mean_x"),
        d4(F.col("mean_y")).alias("mean_y"),
        d4(F.col("slope")).alias("slope"),
        d4(F.col("intercept")).alias("intercept"),
    )


Q298_ORACLE = """
WITH d AS (
  SELECT round(o_totalprice, 2) AS x,
         round(o_totalprice * 1.03 - 5.0
               + (CAST('0x' || substr(md5('dm:' || CAST(o_orderkey AS VARCHAR)), 1, 15)
                       AS BIGINT) / CAST(1152921504606846976 AS DOUBLE) - 0.5)
                 * 50.0, 2) AS y
  FROM orders WHERE o_totalprice IS NOT NULL
),
m AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(x AS DECIMAL(30,6))) AS DOUBLE) AS sx,
         CAST(sum(CAST(y AS DECIMAL(30,6))) AS DOUBLE) AS sy,
         CAST(sum(CAST(x AS DECIMAL(30,6)) * CAST(x AS DECIMAL(30,6))) AS DOUBLE) AS sxx,
         CAST(sum(CAST(y AS DECIMAL(30,6)) * CAST(y AS DECIMAL(30,6))) AS DOUBLE) AS syy,
         CAST(sum(CAST(x AS DECIMAL(30,6)) * CAST(y AS DECIMAL(30,6))) AS DOUBLE) AS sxy
  FROM d
),
c AS (
  SELECT n, sx / n AS mx, sy / n AS my,
         sxx - sx * sx / n AS vxx,
         syy - sy * sy / n AS vyy,
         sxy - sx * sy / n AS vxy
  FROM m
),
s AS (
  SELECT n, mx, my,
         (vyy - vxx + sqrt((vyy - vxx) * (vyy - vxx) + 4 * vxy * vxy))
           / (2 * vxy) AS slope
  FROM c
)
SELECT n,
       round(mx + 1e-9, 4) AS mean_x,
       round(my + 1e-9, 4) AS mean_y,
       round(slope + 1e-9, 4) AS slope,
       round(my - slope * mx + 1e-9, 4) AS intercept
FROM s
"""


QUERIES.append(Q("q298_deming_regression", q298, Q298_ORACLE))


# --- Q323: Kalman local-level filter + RTS smoother (rows-only: coupled recurrence) ----
def q323(spark, sf_dir):
    """operators/timeseries.py::kalman_local_level per user over
    events (r14 wave 6) — the adaptive-gain state-space upgrade to
    EWMA (q140) and Holt (q195): forward Kalman pass + backward
    Rauch-Tung-Striebel smoothing. The coupled mean/variance/gain
    recurrences are not ANSI-SQL-expressible, so correctness is
    carried by tests/test_timeseries.py::
    test_kalman_local_level_matches_reference (independent textbook
    recurrence element-wise to 1e-9) and this query is rows-only.
    ``tie_cols=['event_id']`` pins tied-timestamp order."""
    from parquet_on_fhir_spark.operators.timeseries import (
        kalman_local_level,
    )

    e = t(spark, sf_dir, "events").filter(F.col("user_id") < 50)
    out = kalman_local_level(
        e, "ts", ["user_id"], "value", q=1.0, r=4.0,
        tie_cols=["event_id"],
    )
    return out.select(
        "user_id",
        "ts",
        d4(F.col("filtered")).alias("filtered"),
        d4(F.col("variance")).alias("variance"),
        d4(F.col("smoothed")).alias("smoothed"),
    )


QUERIES.append(Q("q323_kalman_local_level", q323, None))
