"""Relational query family: rating arithmetic, joins, aggregations,
windows, sort/limit, set ops (SURVEY.md §2.B9, §2.C, §2.D, §2.E).

Every query is a (Spark callable, DuckDB oracle) pair. Conventions for
hash-parity with the oracle:

- every computed column aliased identically on both sides;
- floating aggregates rounded (2dp money, 4dp stats) on both sides;
- rankings ordered by rounded keys with deterministic tie-breaks;
- counts cast to BIGINT on both sides.

Scale notes inline per query: broadcasts marked explicitly, fact tables
never collected, filters written so they push into the parquet scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_work_flow_for_big_data_spark.catalog import (
    load_table,
    maybe_broadcast,
    maybe_merge,
)
from etl_work_flow_for_big_data_spark.functions.text import rounded_mean, rounded_sum
from etl_work_flow_for_big_data_spark.operators.joins import asof_join, range_join
from etl_work_flow_for_big_data_spark.queries import query


def _duck_round_avg(expr: str, out_dec: int) -> str:
    """DuckDB mirror of ``functions.text.rounded_mean`` (see its
    docstring for the derivation and the 2-dec input contract).
    Per-term rounded BIGINTs as on the Spark side; duck's SUM(BIGINT)
    widens to HUGEINT, so the ``//`` stays exact past long range."""
    scale = 10 ** (out_dec - 2)
    t = f"TRY_CAST(ROUND(({expr})*100, 0) AS BIGINT)"
    return (
        f"(CASE WHEN SUM({t}) < 0 THEN -1 ELSE 1 END) * "
        f"((2*abs(SUM({t}))*{scale} "
        f"+ COUNT({t})) // (2*COUNT({t}))) / {10**out_dec}.0"
    )


def _duck_round_sum(expr: str, in_dec: int, out_dec: int = 2) -> str:
    """DuckDB mirror of ``functions.text.rounded_sum`` (see its
    docstring for the derivation and the fixed-point contract).
    Per-term rounded BIGINTs as on the Spark side; duck's SUM(BIGINT)
    widens to HUGEINT, so the ``//`` stays exact past long range."""
    p = 10 ** (in_dec - out_dec)
    c = f"SUM(TRY_CAST(ROUND(({expr})*{10**in_dec}, 0) AS BIGINT))"
    return (
        f"(CASE WHEN {c} < 0 THEN -1 ELSE 1 END) * "
        f"((2*abs({c}) + {p}) // {2 * p}) / {10**out_dec}.0"
    )

# --------------------------------------------------------------------
# B9 — flagship rating query (the PySpark analog of what the
# reference's `gsmrating` batch does: per-CDR charge = usage × rate ±
# discounts/taxes, aggregated per status flags; gsmrating.sh:14).
# TPC-H-Q1-shaped. Exercises scan pushdown, map-side partial agg,
# 2-key hash agg, sort. At 100 TB: pure partial+final hash agg over a
# 6-value key space — no skew possible, one shuffle of tiny partials.
# --------------------------------------------------------------------


@query(
    "rate_charge",
    f"""
    SELECT
      l_returnflag,
      l_linestatus,
      ROUND(SUM(l_quantity), 2)                                       AS sum_qty,
      ROUND(SUM(l_extendedprice), 2)                                  AS sum_base_price,
      {_duck_round_sum("l_extendedprice * (1 - l_discount)", 4)}      AS sum_disc_price,
      {_duck_round_sum("l_extendedprice * (1 - l_discount) * (1 + l_tax)", 6)} AS sum_charge,
      {_duck_round_avg("l_quantity", 2)}                              AS avg_qty,
      {_duck_round_avg("l_extendedprice", 2)}                         AS avg_price,
      {_duck_round_avg("l_discount", 4)}                              AS avg_disc,
      CAST(COUNT(*) AS BIGINT)                                        AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    doc="B9 rating arithmetic — domain of gsmrating.sh:14; TPC-H Q1 "
    "shape. The averages round via integer-exact fixed-point "
    "(rounded_mean) because an average of 2-dec values can land "
    "exactly on a rounding half boundary where the engines' rules "
    "split; the PRODUCT sums (disc_price 4-dec, charge 6-dec) round "
    "via rounded_sum for the same reason (a small group's product-sum "
    "can land on .xx5 — fuzz seed 80118); the plain-column sums stay "
    "plain — a 2-dec sum never nears a 2-dec half boundary.",
)
def rate_charge(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-12-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            rounded_sum(disc_price, 4).alias("sum_disc_price"),
            rounded_sum(charge, 6).alias("sum_charge"),
            rounded_mean(F.col("l_quantity"), 2).alias("avg_qty"),
            rounded_mean(F.col("l_extendedprice"), 2).alias("avg_price"),
            rounded_mean(F.col("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# --------------------------------------------------------------------
# C — join suite. The reference's per-packet hash dispatch and
# existence gates (MFramework.cpp:1276-1312, :1729-1743) are
# broadcast/semi/anti joins in Spark.
# --------------------------------------------------------------------


@query(
    "join_broadcast",
    """
    SELECT n.n_name,
           CAST(COUNT(*) AS BIGINT)   AS n_customers,
           ROUND(SUM(c.c_acctbal), 2) AS total_acctbal
    FROM customer c
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name <> 'EUROPE'
    GROUP BY n.n_name
    ORDER BY n.n_name
    """,
    doc="C1 hash lookup join (MFramework.cpp:1276-1306) → broadcast hash join; "
    "dims broadcast so the customer scan never shuffles for the join",
)
def join_broadcast(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") != "EUROPE")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum("c_acctbal"), 2).alias("total_acctbal"),
        )
    )


@query(
    "join_anti",
    """
    SELECT c.c_custkey, c.c_name, c.c_mktsegment
    FROM customer c
    ANTI JOIN (SELECT o_custkey FROM orders
               WHERE o_orderpriority = '1-URGENT') o
      ON o.o_custkey = c.c_custkey
    """,
    doc="C2 reject path — packets with no live session are dropped "
    "(MFramework.cpp:1308-1312) → left_anti join. The right side is "
    "filtered to urgent orders so the expected result is NON-empty at "
    "every SF (18/203/1986 rows at sf0.001/0.01/0.1) — the bare "
    "customer-vs-all-orders version returned 0 rows at every SF, which "
    "passed the oracle trivially while exercising nothing.",
)
def join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@query(
    "join_left",
    """
    SELECT c.c_custkey,
           CAST(COUNT(o.o_orderkey) AS BIGINT)        AS n_orders,
           ROUND(COALESCE(SUM(o.o_totalprice), 0), 2) AS total_spent
    FROM customer c
    LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    GROUP BY c.c_custkey
    ORDER BY c.c_custkey
    """,
    doc="C3 left join + null defaulting — optional settings rows "
    "(MFramework.cpp:419-431) → left join + coalesce",
)
def join_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias(
                "total_spent"
            ),
        )
    )


@query(
    "join_semi",
    """
    SELECT c.c_custkey, c.c_mktsegment
    FROM customer c
    SEMI JOIN orders o ON o.o_custkey = c.c_custkey
    ORDER BY c.c_custkey
    """,
    doc="C4 existence gate — 'is session configured?' "
    "(MFramework.cpp:1729-1743) → left_semi join",
)
def join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").select("o_custkey")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .select("c_custkey", "c_mktsegment")
    )


@query(
    "join_star",
    f"""
    SELECT n.n_name,
           {_duck_round_sum("l.l_extendedprice * (1 - l.l_discount)", 4)} AS revenue,
           CAST(COUNT(*) AS BIGINT)                              AS n_lines
    FROM lineitem l
    JOIN orders o   ON l.l_orderkey = o.o_orderkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n.n_name
    ORDER BY revenue DESC, n_name
    """,
    doc="C5 multi-way star join — rating CDR×tariff×customer×plan "
    "(gsmrating.sh:14 domain; TPC-H Q5 shape). lineitem⋈orders is the "
    "only shuffle join; customer/nation/region broadcast.",
)
def join_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(maybe_broadcast(c, sf_dir, "customer"), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            rounded_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@query(
    "join_range",
    f"""
    SELECT t.tier,
           CAST(COUNT(*) AS BIGINT)                 AS n_lines,
           {_duck_round_sum("l.l_extendedprice * t.rate", 4)} AS tier_charge
    FROM lineitem l
    JOIN (VALUES (0.0, 10.0, 'T1', 0.05),
                 (10.0, 25.0, 'T2', 0.10),
                 (25.0, 51.0, 'T3', 0.20)) AS t(lo, hi, tier, rate)
      ON l.l_quantity >= t.lo AND l.l_quantity < t.hi
    GROUP BY t.tier
    ORDER BY t.tier
    """,
    doc="C6 range/tier join — usage-tier tariff rating (gsmrating.sh:14 "
    "domain). range_join compiles the O(3) tier rows into CASE "
    "expressions: no join node, and the fact never shuffles for it.",
)
def join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd  # Arrow local relation: range_join collects it with no job

    li = load_table(spark, sf_dir, "lineitem")
    tiers = spark.createDataFrame(
        pd.DataFrame([(0.0, 10.0, "T1", 0.05), (10.0, 25.0, "T2", 0.10), (25.0, 51.0, "T3", 0.20)]),
        "lo double, hi double, tier string, rate double",
    )
    return (
        range_join(li, tiers, "l_quantity")
        .groupBy("tier")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            rounded_sum(
                F.col("l_extendedprice") * F.col("rate"), 4
            ).alias("tier_charge"),
        )
    )


@query(
    "join_asof",
    """
    SELECT p.event_id,
           p.user_id,
           strftime(s.ts, '%Y-%m-%d %H:%M:%S.%f') AS signup_ts
    FROM (SELECT * FROM events WHERE event_type = 'purchase') p
    ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
      ON p.user_id = s.user_id AND p.ts >= s.ts
    ORDER BY p.event_id
    """,
    doc="C6 as-of join — tariff-valid-at-event-time rating semantics. "
    "Spark impl: union + one window pass per key (operators/joins.py), "
    "one shuffle, linear scale; oracle uses DuckDB native ASOF JOIN.",
)
def join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    signups = ev.filter(F.col("event_type") == "signup").select(
        "user_id", F.col("ts").alias("s_ts"), F.col("ts").alias("signup_raw")
    )
    joined = asof_join(
        purchases,
        signups,
        on="user_id",
        left_time="ts",
        right_time="s_ts",
    )
    return joined.select(
        "event_id",
        "user_id",
        F.date_format("signup_raw", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("signup_ts"),
    )


# --------------------------------------------------------------------
# D — aggregation suite ([DOM]/[NS]; SURVEY §2.D). All partial+final
# hash aggregations; group keys are low-cardinality so no skew path
# needed; approx_count_distinct is the 100-TB-scale answer to exact
# distinct counts.
# --------------------------------------------------------------------


@query(
    "agg_groupby",
    f"""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT)               AS n_orders,
           ROUND(SUM(o_totalprice), 2)            AS sum_price,
           {_duck_round_avg("o_totalprice", 2)}   AS avg_price,
           ROUND(MIN(o_totalprice), 2)            AS min_price,
           ROUND(MAX(o_totalprice), 2)            AS max_price
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    doc="D1 hash aggregation with partial/final phases (Catalyst "
    "default). avg_price rounds via integer-exact fixed-point "
    "(rounded_mean, see rate_charge) — small-group averages of 2-dec "
    "values can land exactly on rounding half boundaries.",
)
def agg_groupby(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
            rounded_mean(F.col("o_totalprice"), 2).alias("avg_price"),
            F.round(F.min("o_totalprice"), 2).alias("min_price"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
        )
    )


@query(
    "agg_distinct",
    """
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_parts,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS n_supps
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    doc="D2 exact distinct (expand + two-phase agg in Spark)",
)
def agg_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.countDistinct("l_suppkey").alias("n_supps"),
        )
    )


@query(
    "agg_approx_distinct",
    """
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           TRUE                                      AS approx_ok
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    doc="D3 approx count-distinct (HLL; the 100-TB answer). HLL values "
    "aren't bit-identical across engines, so the oracle checks the "
    "estimate lands within 5% of exact (approx_ok) plus the exact count. "
    "Shape: distinct-first (map-side partial dedup, no EXPAND) then a "
    "tiny agg — the combined countDistinct+approx single agg plans an "
    "EXPAND that doubles the scan, measured 3x slower; HLL is "
    "duplicate-insensitive so the estimate is identical over the "
    "deduped pairs.",
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select("l_returnflag", "l_partkey")
        .distinct()
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("exact_parts"),
            F.approx_count_distinct("l_partkey", rsd=0.02).alias("approx_parts"),
        )
        .select(
            "l_returnflag",
            "exact_parts",
            (
                F.abs(F.col("approx_parts") - F.col("exact_parts"))
                / F.col("exact_parts")
                < 0.05
            ).alias("approx_ok"),
        )
    )


@query(
    "agg_rollup",
    """
    SELECT COALESCE(o_orderstatus, 'ALL')   AS status,
           COALESCE(o_orderpriority, 'ALL') AS priority,
           CAST(COUNT(*) AS BIGINT)         AS n_orders,
           ROUND(SUM(o_totalprice), 2)      AS sum_price
    FROM orders
    GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
    HAVING COUNT(*) > 0
    ORDER BY status, priority
    """,
    doc="D4 rollup/grouping sets. HAVING COUNT(*) > 0 pins the Spark "
    "empty-input semantics in the oracle: Spark's Expand-based "
    "rollup/cube emits ZERO rows over an empty relation (no input "
    "rows to replicate per grouping set) where DuckDB/PostgreSQL "
    "emit the standard's lone grand-total row; on non-empty input "
    "every grouping row aggregates >=1 row so the clause is inert "
    "(found by the r8 tiny-cardinality fuzz axis).",
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n_orders",
            "sum_price",
        )
    )


@query(
    "agg_conditional",
    """
    SELECT o_orderpriority,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS n_f,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS n_o,
           ROUND(COALESCE(SUM(o_totalprice) FILTER (WHERE o_orderstatus = 'F'), 0), 2)
                                                                       AS sum_f
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    doc="D5 filtered/conditional aggregation (sum(when(...)))",
)
def agg_conditional(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    is_f = F.col("o_orderstatus") == "F"
    is_o = F.col("o_orderstatus") == "O"
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.sum(F.when(is_f, 1).otherwise(0)).cast("long").alias("n_f"),
            F.sum(F.when(is_o, 1).otherwise(0)).cast("long").alias("n_o"),
            F.round(
                F.coalesce(F.sum(F.when(is_f, F.col("o_totalprice"))), F.lit(0.0)), 2
            ).alias("sum_f"),
        )
    )


@query(
    "agg_stats",
    """
    SELECT l_returnflag,
           ROUND(STDDEV_SAMP(l_quantity), 4)           AS sd_qty,
           ROUND(VAR_SAMP(l_quantity), 4)              AS var_qty,
           ROUND(CORR(l_extendedprice, l_quantity), 4) AS corr_price_qty,
           ROUND(QUANTILE_CONT(l_quantity, 0.5), 4)    AS median_qty,
           ROUND(QUANTILE_CONT(l_quantity, 0.9), 4)    AS p90_qty
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    doc="D6 statistics: stddev/variance/correlation/exact interpolated "
    "percentiles (Spark `percentile` == DuckDB quantile_cont); "
    "percentile_approx is the streaming/100-TB variant (tested "
    "separately, not oracle-hashable)",
)
def agg_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.stddev_samp("l_quantity"), 4).alias("sd_qty"),
            F.round(F.var_samp("l_quantity"), 4).alias("var_qty"),
            F.round(F.corr("l_extendedprice", "l_quantity"), 4).alias("corr_price_qty"),
            F.round(F.expr("percentile(l_quantity, 0.5)"), 4).alias("median_qty"),
            F.round(F.expr("percentile(l_quantity, 0.9)"), 4).alias("p90_qty"),
        )
    )


# --------------------------------------------------------------------
# E — windows, top-k, sort, set ops (SURVEY §2.E).
# --------------------------------------------------------------------


@query(
    "window_rank",
    """
    SELECT * FROM (
      SELECT o_custkey,
             o_orderkey,
             CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn,
             CAST(RANK()       OVER w AS BIGINT) AS rnk,
             CAST(DENSE_RANK() OVER w AS BIGINT) AS drnk
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate DESC, o_orderkey)
    ) WHERE rn <= 3
    ORDER BY o_custkey, rn
    """,
    doc="E1 ranking window functions; rn<=3 = latest-3-orders-per-customer",
)
def window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_orderdate"), "o_orderkey")
    return (
        o.select(
            "o_custkey",
            "o_orderkey",
            F.row_number().over(w).cast("long").alias("rn"),
            F.rank().over(w).cast("long").alias("rnk"),
            F.dense_rank().over(w).cast("long").alias("drnk"),
        )
        .filter(F.col("rn") <= 3)
    )


@query(
    "window_analytic",
    """
    SELECT o_custkey,
           o_orderkey,
           ROUND(SUM(o_totalprice) OVER (PARTITION BY o_custkey
                                         ORDER BY o_orderdate NULLS FIRST, o_orderkey
                                         ROWS UNBOUNDED PRECEDING), 2) AS running_total,
           ROUND(LAG(o_totalprice)  OVER w, 2) AS prev_price,
           ROUND(LEAD(o_totalprice) OVER w, 2) AS next_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate NULLS FIRST, o_orderkey)
    ORDER BY o_custkey, o_orderkey
    """,
    doc="E2 analytic window functions: lag/lead/running sum. The oracle "
    "pins NULLS FIRST on the nullable date key: Spark orders ascending "
    "NULLS FIRST while DuckDB defaults NULLS LAST in BOTH directions, "
    "so an unpinned ascending sort diverges the moment a fixture "
    "carries a NULL order date (descending sorts agree — both engines "
    "put nulls last there, which is why window_rank needs no pin). "
    "Found by the seeded fuzz sweep (scripts/fuzz_parity.py).",
)
def window_analytic(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(wr), 2).alias("running_total"),
        F.round(F.lag("o_totalprice").over(w), 2).alias("prev_price"),
        F.round(F.lead("o_totalprice").over(w), 2).alias("next_price"),
    )


@query(
    "topk",
    """
    SELECT o_custkey,
           ROUND(SUM(o_totalprice), 2) AS total_spent,
           CAST(COUNT(*) AS BIGINT)    AS n_orders
    FROM orders
    GROUP BY o_custkey
    ORDER BY total_spent DESC, o_custkey
    LIMIT 10
    """,
    doc="E3 global top-k — Spark plans TakeOrderedAndProject (no full "
    "sort; per-partition heaps + driver merge, the right 100-TB plan). "
    "Rounded sort key + custkey tie-break keep ranking deterministic.",
)
def topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_custkey")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("total_spent"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy(F.desc("total_spent"), "o_custkey")
        .limit(10)
    )


@query(
    "sort_multi",
    """
    SELECT o_orderkey, o_orderstatus, ROUND(o_totalprice, 2) AS price
    FROM orders
    ORDER BY o_orderstatus ASC, price DESC, o_orderkey ASC
    LIMIT 100
    """,
    doc="E4 multi-key sort + limit (TakeOrderedAndProject)",
)
def sort_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_orderstatus", F.round("o_totalprice", 2).alias("price"))
        .orderBy(F.asc("o_orderstatus"), F.desc("price"), F.asc("o_orderkey"))
        .limit(100)
    )


@query(
    "set_union",
    """
    WITH f AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'F'),
         o AS (SELECT DISTINCT o_custkey FROM orders WHERE o_orderstatus = 'O')
    SELECT 'both' AS op, o_custkey FROM (SELECT o_custkey FROM f INTERSECT SELECT o_custkey FROM o)
    UNION ALL
    SELECT 'f_only' AS op, o_custkey FROM (SELECT o_custkey FROM f EXCEPT SELECT o_custkey FROM o)
    UNION ALL
    SELECT 'either' AS op, o_custkey FROM (SELECT o_custkey FROM f UNION SELECT o_custkey FROM o)
    ORDER BY op, o_custkey
    """,
    doc="E5 union/intersect/except — multi-queue stream merge analog "
    "(MFramework.cpp:1119-1131)",
)
def set_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    f_cust = o.filter(F.col("o_orderstatus") == "F").select("o_custkey").distinct()
    o_cust = o.filter(F.col("o_orderstatus") == "O").select("o_custkey").distinct()
    both = f_cust.intersect(o_cust).select(F.lit("both").alias("op"), "o_custkey")
    f_only = f_cust.exceptAll(o_cust).select(F.lit("f_only").alias("op"), "o_custkey")
    either = f_cust.union(o_cust).distinct().select(
        F.lit("either").alias("op"), "o_custkey"
    )
    return both.unionByName(f_only).unionByName(either)


# --------------------------------------------------------------------
# D4b/E6 — cube + correlated subqueries. The subquery pair exists to
# prove the full SQL surface: Catalyst decorrelates EXISTS into a
# semi-join and the scalar subquery into an aggregate+join — plans the
# reference could never produce (it has no query optimizer, SURVEY §4).
# --------------------------------------------------------------------


@query(
    "agg_cube",
    """
    SELECT COALESCE(o_orderstatus, 'ALL')   AS status,
           COALESCE(o_orderpriority, 'ALL') AS priority,
           CAST(COUNT(*) AS BIGINT)         AS n_orders,
           ROUND(SUM(o_totalprice), 2)      AS sum_price
    FROM orders
    GROUP BY CUBE(o_orderstatus, o_orderpriority)
    HAVING COUNT(*) > 0
    ORDER BY status, priority
    """,
    doc="D4 cube (all grouping-set combinations; the rollup twin). "
    "HAVING COUNT(*) > 0 pins Spark's zero-rows-on-empty-input Expand "
    "semantics — see agg_rollup.",
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
        )
        .select(
            F.coalesce("o_orderstatus", F.lit("ALL")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "n_orders",
            "sum_price",
        )
    )


# {orders}/{lineitem} are templated table refs for the ORACLE side
# (.format()s the plain view names in). Until r12 the Spark side ran
# the same string via spark.sql(**kwargs); it now builds the explicit
# decorrelated join instead — Catalyst drops join hints written inside
# correlated subqueries, and the fact-fact join here must carry one
# (see subquery_exists). The SQL remains the single source of truth
# for the SEMANTICS both engines must agree on.
_SUBQ_EXISTS_SQL = """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM {orders} o
    WHERE EXISTS (
      SELECT 1 FROM {lineitem} l
      WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
    )
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
"""


@query(
    "subquery_exists",
    _SUBQ_EXISTS_SQL.format(orders="orders", lineitem="lineitem"),
    doc="correlated EXISTS (TPC-H Q4 shape) — implemented as the "
    "explicit decorrelated left-semi join so the fact side carries a "
    "merge hint (see function comment); same semantics as the oracle "
    "EXISTS, Catalyst produces the identical decorrelated shape.",
)
def subquery_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Explicit decorrelated form (r12): the EXISTS compiles to a
    # left-semi join of two FACT tables, and near the autoBroadcast
    # threshold Catalyst's pruned scan estimate undershoots the
    # materialized HashedRelation 5-10× (row overhead) — the ~sf1
    # loaded-driver sweep OOM'd exactly there ("Not enough memory to
    # build and broadcast"). A fact side must never rely on static
    # broadcast; the hint CANNOT be written in the SQL form:
    # RewritePredicateSubquery drops hints inside correlated
    # subqueries (verified on the x10 plan), so the query builds the
    # decorrelated join directly. r13: the merge pin is size-gated
    # (VERDICT r12 #3) — footer row count × 48 B/row prices the
    # (l_orderkey, l_shipdate) build; provably small keeps the
    # broadcast plan, otherwise sort-merge streams and spills.
    o = load_table(spark, sf_dir, "orders")
    li = maybe_merge(
        load_table(spark, sf_dir, "lineitem"), sf_dir, "lineitem"
    )
    sem = o.join(
        li,
        (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
        "left_semi",
    )
    return (
        sem.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("o_orderpriority")
    )


_SUBQ_SCALAR_SQL = """
    SELECT CAST(COUNT(*) AS BIGINT)      AS n_small,
           ROUND(SUM(l_extendedprice), 2) AS small_revenue
    FROM {lineitem} l1
    WHERE l_quantity < (
      SELECT 0.5 * AVG(l_quantity) FROM {lineitem} l2
      WHERE l2.l_partkey = l1.l_partkey
    )
"""


@query(
    "subquery_scalar",
    _SUBQ_SCALAR_SQL.format(lineitem="lineitem"),
    doc="correlated scalar subquery (TPC-H Q17 shape) — decorrelated "
    "into a per-part aggregate joined back to the fact",
)
def subquery_scalar(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Explicit decorrelated form (r12, same fact-vs-fact rule and
    # hint-dropping reason as subquery_exists): the per-part average
    # is CORPUS-scaled (one row per distinct partkey in lineitem) and
    # must not statically broadcast into the lineitem probe. Every l1
    # partkey exists in the aggregate (same table), so the inner
    # equi-join reproduces the correlated-scalar semantics exactly;
    # the threshold expression (0.5 * AVG) is byte-identical to the
    # oracle's. r13 size gate: the aggregate has one row per distinct
    # l_partkey, and partkeys are drawn from the part dim — its footer
    # row count BOUNDS the build side and itself grows with sf, so the
    # gate prices part-dim rows × 48 B (key + double + hash-entry
    # overhead). Small ⇒ unhinted (broadcast plan), else merge.
    li = load_table(spark, sf_dir, "lineitem")
    thr = maybe_merge(
        li.groupBy("l_partkey").agg(
            (F.lit(0.5) * F.avg("l_quantity")).alias("__thr")
        ),
        sf_dir,
        "part",
    )
    return (
        li.join(thr, "l_partkey")
        .filter(F.col("l_quantity") < F.col("__thr"))
        .agg(
            F.count(F.lit(1)).alias("n_small"),
            F.round(F.sum("l_extendedprice"), 2).alias("small_revenue"),
        )
    )


# --------------------------------------------------------------------
# TPC-H classics — breadth of the analytical surface on the same star
# schema (shipping-priority Q3, returned-items Q10, shipmode Q12
# shapes). All follow the engine's join discipline: dims broadcast,
# at most one shuffle join per fact pair.
# --------------------------------------------------------------------


@query(
    "tpch_q3_shipping_priority",
    f"""
    SELECT l.l_orderkey,
           {_duck_round_sum("l.l_extendedprice * (1 - l.l_discount)", 4)} AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d')                   AS orderdate
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l.l_shipdate  > TIMESTAMP '1998-03-15 00:00:00'
    GROUP BY l.l_orderkey, o.o_orderdate
    ORDER BY revenue DESC, l_orderkey
    LIMIT 20
    """,
    doc="TPC-H Q3 shape: segment filter + date-straddling join, top-20 "
    "revenue (TakeOrderedAndProject over the aggregate)",
)
def tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    l = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(maybe_broadcast(c, sf_dir, "customer"), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate")
        .agg(
            rounded_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
            ).alias("revenue")
        )
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(20)
    )


@query(
    "tpch_q10_returned_items",
    f"""
    SELECT c.c_custkey,
           c.c_name,
           {_duck_round_sum("l.l_extendedprice * (1 - l.l_discount)", 4)} AS revenue,
           n.n_name
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    doc="TPC-H Q10 shape: returned-item revenue per customer — "
    "lost-revenue ranking, dims broadcast",
)
def tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(maybe_broadcast(c, sf_dir, "customer"), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            rounded_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
            ).alias("revenue")
        )
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@query(
    "tpch_q12_priority_by_tier",
    """
    SELECT t.tier,
           CAST(COUNT(*) FILTER (WHERE o.o_orderpriority IN ('1-URGENT', '2-HIGH'))
                AS BIGINT) AS high_line_count,
           CAST(COUNT(*) FILTER (WHERE o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH'))
                AS BIGINT) AS low_line_count
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN (VALUES (0.0, 25.0, 'SMALL'), (25.0, 51.0, 'LARGE')) AS t(lo, hi, tier)
      ON l.l_quantity >= t.lo AND l.l_quantity < t.hi
    GROUP BY t.tier
    ORDER BY t.tier
    """,
    doc="TPC-H Q12 shape: conditional counts by shipment class (tier "
    "stands in for shipmode) — filtered aggregation over a fact join",
)
def tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd  # Arrow local relation: range_join collects it with no job

    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    tiers = spark.createDataFrame(
        pd.DataFrame([(0.0, 25.0, "SMALL"), (25.0, 51.0, "LARGE")]),
        "lo double, hi double, tier string",
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        range_join(l, tiers, "l_quantity")
        .join(o, F.col("l_orderkey") == o.o_orderkey)
        .groupBy("tier")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).cast("long").alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).cast("long").alias("low_line_count"),
        )
    )


# --------------------------------------------------------------------
# Reshaping + null-handling operators (D/E adjuncts): pivot, unpivot,
# coalesce/nullif/fill — the remaining everyday analytical surface.
# --------------------------------------------------------------------


@query(
    "agg_pivot",
    """
    SELECT o_orderpriority,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS BIGINT) AS f_cnt,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS BIGINT) AS o_cnt,
           CAST(COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS BIGINT) AS p_cnt
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    doc="pivot: status values → columns (Spark groupBy().pivot() with an "
    "explicit value list — never let pivot scan for distinct values at "
    "scale); oracle uses FILTER aggregation",
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    p = (
        o.groupBy("o_orderpriority")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .count()
    )
    return p.select(
        "o_orderpriority",
        F.coalesce(F.col("F"), F.lit(0)).alias("f_cnt"),
        F.coalesce(F.col("O"), F.lit(0)).alias("o_cnt"),
        F.coalesce(F.col("P"), F.lit(0)).alias("p_cnt"),
    )


@query(
    "agg_unpivot",
    """
    SELECT l_returnflag, metric, val FROM (
      SELECT l_returnflag,
             'sum_qty'   AS metric, ROUND(SUM(l_quantity), 2)      AS val
      FROM lineitem GROUP BY l_returnflag
      UNION ALL
      SELECT l_returnflag,
             'sum_price' AS metric, ROUND(SUM(l_extendedprice), 2) AS val
      FROM lineitem GROUP BY l_returnflag
    )
    ORDER BY l_returnflag, metric
    """,
    doc="unpivot/melt: metric columns → rows (Spark df.unpivot; oracle "
    "via UNION ALL)",
)
def agg_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    wide = li.groupBy("l_returnflag").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_price"),
    )
    return wide.unpivot(
        ids=["l_returnflag"],
        values=["sum_qty", "sum_price"],
        variableColumnName="metric",
        valueColumnName="val",
    )


@query(
    "null_handling",
    """
    SELECT event_id,
           COALESCE(NULLIF(event_type, 'error'), 'n/a')            AS type_or_na,
           COALESCE(CASE WHEN value >= 50 THEN value END, 0.0)     AS value_floor,
           CASE WHEN NULLIF(event_type, 'error') IS NULL THEN 1 ELSE 0 END
                                                                   AS was_error
    FROM events
    ORDER BY event_id
    """,
    doc="null semantics: nullif/coalesce/conditional defaulting — the "
    "engine's na.fill/na.drop surface expressed as expressions",
)
def null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    nulled = F.nullif(F.col("event_type"), F.lit("error"))
    return ev.select(
        "event_id",
        F.coalesce(nulled, F.lit("n/a")).alias("type_or_na"),
        F.coalesce(
            F.when(F.col("value") >= 50, F.col("value")), F.lit(0.0)
        ).alias("value_floor"),
        F.when(nulled.isNull(), 1).otherwise(0).alias("was_error"),
    )


@query(
    "agg_approx_quantile",
    """
    SELECT l_returnflag,
           ROUND(QUANTILE_CONT(l_quantity, 0.5), 4) AS exact_p50,
           QUANTILE_CONT(l_quantity, 0.5) IS NOT NULL AS approx_ok
    FROM lineitem
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    doc="D6 approximate percentile (percentile_approx — mergeable "
    "sketch, the streaming/100-TB variant of exact percentile). Sketch "
    "values aren't engine-portable, so approx_ok is the claim BOTH "
    "engines can derive from their own side under ANY fixture: the "
    "sketch produced an estimate exactly when the group had a non-null "
    "value. The 2%-relative-accuracy assertion lives in pytest "
    "(test_oracle_parity.py) — as an oracle column it was a standing "
    "gate risk: a group whose exact median is 0 made the relative "
    "error undefined (ANSI DIVIDE_BY_ZERO killed the whole query), "
    "and any sketch-vs-interpolation gap over 2% on a regenerated "
    "fixture would read as a hash mismatch rather than an accuracy "
    "finding.",
)
def agg_approx_quantile(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.round(F.expr("percentile(l_quantity, 0.5)"), 4).alias("exact_p50"),
            F.percentile_approx("l_quantity", 0.5, 10000).alias("approx_p50"),
        )
        .select(
            "l_returnflag",
            "exact_p50",
            F.col("approx_p50").isNotNull().alias("approx_ok"),
        )
    )


@query(
    "tpch_q14_promo_share",
    """
    SELECT ROUND(
             100.00 * SUM(CASE WHEN p.p_type LIKE 'PROMO%'
                               THEN l.l_extendedprice * (1 - l.l_discount)
                               ELSE 0 END)
             / SUM(l.l_extendedprice * (1 - l.l_discount)), 4) AS promo_share
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    """,
    doc="TPC-H Q14 shape: conditional-revenue share over a broadcast "
    "dim join (single global ratio; both aggregates in one pass)",
)
def tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").like("PROMO%"), rev).otherwise(0.0)
    return (
        l.join(maybe_broadcast(p, sf_dir, "part"), l.l_partkey == p.p_partkey)
        .agg(
            F.round(100.0 * F.sum(promo) / F.sum(rev), 4).alias("promo_share")
        )
    )


@query(
    "tpch_q22_idle_customers",
    """
    SELECT substring(c_name, 17, 2)       AS code,
           CAST(COUNT(*) AS BIGINT)       AS n_cust,
           ROUND(SUM(c_acctbal), 2)       AS total_bal
    FROM customer c
    WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer WHERE c_acctbal > 0)
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
                      AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    GROUP BY 1
    ORDER BY code
    """,
    doc="TPC-H Q22 shape: uncorrelated scalar subquery (global average) "
    "+ NOT EXISTS anti-join + substring grouping — customers with "
    "above-average balance but no recent orders",
)
def tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        """
        SELECT substring(c_name, 17, 2)  AS code,
               CAST(COUNT(*) AS BIGINT)  AS n_cust,
               ROUND(SUM(c_acctbal), 2)  AS total_bal
        FROM {customer} c
        WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM {customer} WHERE c_acctbal > 0)
          AND NOT EXISTS (SELECT 1 FROM {orders} o WHERE o.o_custkey = c.c_custkey
                          AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
        GROUP BY 1
        ORDER BY code
        """,
        customer=load_table(spark, sf_dir, "customer"),
        orders=load_table(spark, sf_dir, "orders"),
    )


@query(
    "tpch_q5_local_supplier_volume",
    f"""
    SELECT n.n_name,
           {_duck_round_sum("l.l_extendedprice * (1 - l.l_discount)", 4)} AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n.n_name
    """,
    doc="TPC-H Q5 shape: six-table star with the customer-nation = "
    "supplier-nation locality predicate; region/nation/supplier/"
    "customer all broadcast, the lineitem-orders fact pair is the only "
    "shuffle join",
)
def tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    l = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .join(maybe_broadcast(c, sf_dir, "customer"), o.o_custkey == c.c_custkey)
        .join(
            maybe_broadcast(s, sf_dir, "supplier"),
            (l.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(
            rounded_sum(
                F.col("l_extendedprice") * (1 - F.col("l_discount")), 4
            ).alias("revenue")
        )
    )


@query(
    "tpch_q18_large_orders",
    """
    SELECT c.c_custkey,
           o.o_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d')       AS orderdate,
           ROUND(o.o_totalprice, 2)                  AS totalprice,
           CAST(ROUND(t.sum_qty) AS BIGINT)          AS sum_qty
    FROM (SELECT l_orderkey, SUM(l_quantity) AS sum_qty
          FROM lineitem GROUP BY l_orderkey
          HAVING SUM(l_quantity) > 150) t
    JOIN orders o   ON o.o_orderkey = t.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    """,
    doc="TPC-H Q18 shape: HAVING-filtered pre-aggregate (map-side "
    "partial sum over the fact) joined back to orders/customer — the "
    "big-order screen; the aggregate runs BEFORE the joins so only "
    "qualifying orderkeys reach the join",
)
def tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    l = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    t = maybe_merge(
        # merge-vs-broadcast (r12 → r13): the large-order set is
        # CORPUS-scaled (a share of all orders), and Catalyst's
        # post-aggregation estimate is a guess — statically
        # broadcasting it into the orders fact join OOM'd the driver
        # at x10 (r12 pinned merge). r13 size-gates the pin: the
        # aggregate has ≤ one row per orderkey, so the orders footer
        # row count × 48 B prices the build; small keeps the r11
        # broadcast plan. The dim join below keeps maybe_broadcast.
        l.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty_raw"))
        .filter(F.col("sum_qty_raw") > 150),
        sf_dir,
        "orders",
    )
    return (
        t.join(o, t.l_orderkey == o.o_orderkey)
        .join(maybe_broadcast(c, sf_dir, "customer"), o.o_custkey == c.c_custkey)
        .select(
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.round("o_totalprice", 2).alias("totalprice"),
            F.round("sum_qty_raw").cast("bigint").alias("sum_qty"),
        )
    )


@query(
    "tpch_q21_waiting_suppliers",
    """
    WITH late AS (
      SELECT l.l_orderkey AS ok, l.l_suppkey AS sk
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderstatus = 'F'
        AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
    )
    SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM late l1
    JOIN supplier s ON s.s_suppkey = l1.sk
    WHERE EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.ok AND l2.l_suppkey <> l1.sk)
      AND NOT EXISTS (
        SELECT 1 FROM late l3
        WHERE l3.ok = l1.ok AND l3.sk <> l1.sk)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
    doc="TPC-H Q21 shape (r13): suppliers who were the SOLE late "
    "supplier on finished multi-supplier orders. The fixture carries "
    "no l_receiptdate/l_commitdate, so lateness is l_shipdate > "
    "o_orderdate + 60 days — the decorrelation structure (EXISTS "
    "another supplier in the order AND NOT EXISTS another LATE "
    "supplier) is the point: one semi-join + one anti-join, both "
    "equi on orderkey with a supplier-inequality residual, never a "
    "nested-loop. Count is per qualifying late LINE (the Q21 "
    "contract); top-20 by numwait with the s_name tie-break.",
)
def tpch_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Decorrelated form, same rules as subquery_exists (r12/r13): every
    # corpus-derived join side goes through the size gate — lineitem
    # bounds both the EXISTS probe and the late set; orders must not
    # statically broadcast into the late derivation at scale (the x10
    # loaded-driver OOM class lives exactly near that threshold).
    l = load_table(spark, sf_dir, "lineitem")
    o = maybe_merge(
        load_table(spark, sf_dir, "orders").filter(
            F.col("o_orderstatus") == "F"
        ),
        sf_dir,
        "orders",
    )
    s = load_table(spark, sf_dir, "supplier")
    late = (
        l.join(o, l.l_orderkey == F.col("o_orderkey"))
        .filter(
            F.col("l_shipdate")
            > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
        )
        .select(F.col("l_orderkey").alias("ok"), F.col("l_suppkey").alias("sk"))
    )
    others = maybe_merge(
        l.select(
            F.col("l_orderkey").alias("ok2"), F.col("l_suppkey").alias("sk2")
        ),
        sf_dir,
        "lineitem",
    )
    late3 = maybe_merge(
        late.select(F.col("ok").alias("ok3"), F.col("sk").alias("sk3")),
        sf_dir,
        "lineitem",  # late ⊆ lineitem: its footer count bounds the build
    )
    sole_late = (
        late.join(
            others,
            (F.col("ok") == F.col("ok2")) & (F.col("sk") != F.col("sk2")),
            "left_semi",
        ).join(
            late3,
            (F.col("ok") == F.col("ok3")) & (F.col("sk") != F.col("sk3")),
            "left_anti",
        )
    )
    return (
        sole_late.join(
            maybe_broadcast(s, sf_dir, "supplier"),
            F.col("sk") == F.col("s_suppkey"),
        )
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(20)
    )


@query(
    "merge_upsert",
    """
    WITH upd AS (
      SELECT c_custkey,
             ROUND(c_acctbal + 100, 2) AS c_acctbal,
             c_mktsegment,
             (c_custkey % 50 = 0)      AS deleted
      FROM customer WHERE c_custkey % 10 = 0
      UNION ALL
      SELECT c_custkey + 1000000, 0.0, 'NEW', FALSE
      FROM customer WHERE c_custkey % 97 = 0
    )
    SELECT c.c_custkey, ROUND(c.c_acctbal, 2) AS c_acctbal, c.c_mktsegment
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.c_custkey = c.c_custkey)
    UNION ALL
    SELECT c_custkey, c_acctbal, c_mktsegment FROM upd WHERE NOT deleted
    """,
    doc="CDC batch merge (MERGE INTO without a lakehouse): updates "
    "replace same-key base rows, new keys append, tombstones delete — "
    "survivors via one key anti-join + union. The update batch is "
    "synthesized from customer itself so the oracle replays the exact "
    "semantics.",
)
def q_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_work_flow_for_big_data_spark.operators.transforms import merge_upsert

    c = load_table(spark, sf_dir, "customer").select(
        "c_custkey", F.round("c_acctbal", 2).alias("c_acctbal"), "c_mktsegment"
    )
    changes = c.filter(F.col("c_custkey") % 10 == 0).select(
        "c_custkey",
        F.round(F.col("c_acctbal") + 100, 2).alias("c_acctbal"),
        "c_mktsegment",
        (F.col("c_custkey") % 50 == 0).alias("deleted"),
    )
    inserts = c.filter(F.col("c_custkey") % 97 == 0).select(
        (F.col("c_custkey") + 1000000).alias("c_custkey"),
        F.lit(0.0).alias("c_acctbal"),
        F.lit("NEW").alias("c_mktsegment"),
        F.lit(False).alias("deleted"),
    )
    return merge_upsert(
        c, changes.unionByName(inserts), ["c_custkey"], tombstone_col="deleted"
    )


@query(
    "profile_columns",
    """
    WITH one AS (
      SELECT COUNT(*)                                  AS n,
             COUNT(l_returnflag)                       AS nn_rf,
             COUNT(DISTINCT l_returnflag)              AS nd_rf,
             MIN(CAST(l_returnflag AS VARCHAR))        AS min_rf,
             MAX(CAST(l_returnflag AS VARCHAR))        AS max_rf,
             COUNT(l_quantity)                         AS nn_q,
             COUNT(DISTINCT l_quantity)                AS nd_q,
             MIN(CAST(l_quantity AS VARCHAR))          AS min_q,
             MAX(CAST(l_quantity AS VARCHAR))          AS max_q,
             COUNT(l_partkey)                          AS nn_p,
             COUNT(DISTINCT l_partkey)                 AS nd_p,
             MIN(CAST(l_partkey AS VARCHAR))           AS min_p,
             MAX(CAST(l_partkey AS VARCHAR))           AS max_p
      FROM lineitem
    )
    SELECT 'l_returnflag' AS column, CAST(n - nn_rf AS BIGINT) AS n_nulls,
           CAST(nd_rf AS BIGINT) AS n_distinct, min_rf AS min_s, max_rf AS max_s
    FROM one
    UNION ALL
    SELECT 'l_quantity', CAST(n - nn_q AS BIGINT), CAST(nd_q AS BIGINT), min_q, max_q FROM one
    UNION ALL
    SELECT 'l_partkey', CAST(n - nn_p AS BIGINT), CAST(nd_p AS BIGINT), min_p, max_p FROM one
    """,
    doc="Column profiling (ingest health report): null count, exact "
    "distinct, min/max per column in ONE aggregate pass + "
    "literal-size unpivot — one shuffle of constant-size partials.",
)
def q_profile_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_work_flow_for_big_data_spark.operators.transforms import (
        profile_columns,
    )

    li = load_table(spark, sf_dir, "lineitem")
    return profile_columns(li, ["l_returnflag", "l_quantity", "l_partkey"])


@query(
    "dq_validate",
    """
    WITH one AS (
      SELECT
        -- COALESCE(..., 0): SUM over an empty relation is NULL, but the
        -- operator's contract is "0 violations on empty input" (empty
        -- batches are a normal pipeline condition) — found by the r8
        -- tiny-cardinality fuzz axis
        COALESCE(SUM(CASE WHEN NOT COALESCE(l_quantity > 0, FALSE) THEN 1 ELSE 0 END), 0)  AS qty_positive,
        COALESCE(SUM(CASE WHEN NOT COALESCE(l_discount BETWEEN 0 AND 1, FALSE) THEN 1 ELSE 0 END), 0) AS discount_unit_range,
        COALESCE(SUM(CASE WHEN NOT COALESCE(l_returnflag IN ('A','N','R'), FALSE) THEN 1 ELSE 0 END), 0) AS returnflag_domain,
        COALESCE(SUM(CASE WHEN NOT COALESCE(l_shipdate >= TIMESTAMP '1990-01-01 00:00:00', FALSE) THEN 1 ELSE 0 END), 0) AS shipdate_sane
      FROM lineitem
    )
    SELECT 'qty_positive' AS rule, CAST(qty_positive AS BIGINT) AS n_violations FROM one
    UNION ALL SELECT 'discount_unit_range', CAST(discount_unit_range AS BIGINT) FROM one
    UNION ALL SELECT 'returnflag_domain', CAST(returnflag_domain AS BIGINT) FROM one
    UNION ALL SELECT 'shipdate_sane', CAST(shipdate_sane AS BIGINT) FROM one
    """,
    doc="Declarative data-quality rules (rules-as-data, the deequ/dbt "
    "analog of the reference's hard-coded validity filter "
    "MFramework.cpp:1245-1250): every rule evaluates in the SAME "
    "single-pass aggregate; unknown (NULL) fails the check.",
)
def q_dq_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_work_flow_for_big_data_spark.operators.transforms import dq_validate

    li = load_table(spark, sf_dir, "lineitem")
    return dq_validate(
        li,
        [
            ("qty_positive", "l_quantity > 0"),
            ("discount_unit_range", "l_discount BETWEEN 0 AND 1"),
            ("returnflag_domain", "l_returnflag IN ('A','N','R')"),
            ("shipdate_sane", "l_shipdate >= TIMESTAMP '1990-01-01 00:00:00'"),
        ],
    )


@query(
    "join_salted",
    """
    SELECT o.o_orderkey, o.o_custkey, c.c_mktsegment,
           ROUND(o.o_totalprice, 2) AS totalprice
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    """,
    doc="Skew-salted fact join: the fact side gets a random salt, the "
    "dim side explodes n_salts times, the hot key spreads over "
    "n_salts reducers — and the RESULT is provably identical to the "
    "plain join (the oracle IS the plain join). The plan, not the "
    "answer, is what salting changes.",
)
def join_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_work_flow_for_big_data_spark.operators.distribution import (
        salted_join,
    )

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer").withColumnRenamed(
        "c_custkey", "o_custkey"
    )
    return salted_join(o, c, "o_custkey", n_salts=8).select(
        "o_orderkey",
        "o_custkey",
        "c_mktsegment",
        F.round("o_totalprice", 2).alias("totalprice"),
    )


@query(
    "window_ntile",
    """
    SELECT o_custkey,
           o_orderkey,
           CAST(NTILE(4) OVER (ORDER BY ROUND(o_totalprice, 2) NULLS FIRST,
                               o_orderkey)
                AS BIGINT) AS price_quartile
    FROM orders
    """,
    doc="E1 quantile binning: exact NTILE(4) over a deterministic total "
    "order (rounded price + key tie-break) WITHOUT a global-order "
    "window — distributed_ntile range-repartitions on the sort key, "
    "freezes the partitioning, derives each partition's global-rank "
    "offset from a constant-size count collect, and applies NTILE's "
    "closed form to partition-local row_number + offset. Bit-identical "
    "to NTILE(4) OVER (ORDER BY ...) with no single-partition sort. "
    "NULL sort keys follow Spark's ascending NULLS FIRST (range "
    "partitioning and window agree); the oracle pins DuckDB — whose "
    "default is NULLS LAST — to the same order explicitly.",
)
def window_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from etl_work_flow_for_big_data_spark.operators.transforms import (
        distributed_ntile,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", F.round("o_totalprice", 2).alias("__price2")
    )
    binned = distributed_ntile(
        o,
        [F.col("__price2"), F.col("o_orderkey")],
        n_buckets=4,
        out_col="price_quartile",
    )
    return binned.select("o_custkey", "o_orderkey", "price_quartile")


@query(
    "agg_grouping_sets",
    """
    SELECT event_type,
           CAST(user_id % 3 AS BIGINT)  AS cohort,
           CAST(COUNT(*) AS BIGINT)     AS n,
           ROUND(SUM(value), 2)         AS total_value
    FROM events
    GROUP BY GROUPING SETS ((event_type, user_id % 3), (event_type), ())
    HAVING COUNT(*) > 0
    """,
    doc="D4 explicit GROUPING SETS (the third form next to rollup and "
    "cube): detail, per-type subtotal, and grand total in ONE pass — "
    "Spark plans the same Expand that rollup/cube use, one replica "
    "per grouping set. HAVING COUNT(*) > 0 pins Spark's "
    "zero-rows-on-empty-input Expand semantics — see agg_rollup.",
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.sql(
        """
        SELECT event_type,
               CAST(user_id % 3 AS BIGINT)  AS cohort,
               CAST(COUNT(*) AS BIGINT)     AS n,
               ROUND(SUM(value), 2)         AS total_value
        FROM {events}
        GROUP BY GROUPING SETS ((event_type, user_id % 3), (event_type), ())
        """,
        events=load_table(spark, sf_dir, "events"),
    )


@query(
    "window_range_frame",
    """
    SELECT event_id,
           user_id,
           CAST(COUNT(*) OVER w AS BIGINT)      AS n_trailing_1h,
           ROUND(SUM(value) OVER w, 2)          AS value_trailing_1h
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    """,
    doc="E2 time-RANGE window frame: per-user trailing-1-hour count and "
    "sum — the range frame (value-based bounds over event-time) next to "
    "the row-based running frames in window_analytic. Ordered by integer "
    "epoch-µs (unix_micros ↔ DuckDB epoch_us) so frame-boundary "
    "inclusion is exact on both engines — a double-valued epoch-seconds "
    "ordering risks last-bit rounding flips at exact 1-hour gaps, and a "
    "whole-second one truncates µs fixtures. One shuffle on the "
    "partition key; frames are time-bounded so state per row is the "
    "trailing hour, not the whole history.",
)
def window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros("ts"))
        .rangeBetween(-3600 * 1_000_000, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_trailing_1h"),
        F.round(F.sum("value").over(w), 2).alias("value_trailing_1h"),
    )
