"""Relational operator catalog (SURVEY.md §2.1-§2.11) over the test
corpus, each with a DuckDB oracle.

The scenario-shaped fixture used by the time-series operators is the
sparse per-(segment, priority) yearly revenue series from
``plans.pipelines.yearly_revenue_series`` — its SQL twin is the
``gapped`` CTE below.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from trisk_datawrangle_spark.functions.aggregates import (
    bool_any,
    collect_sorted_csv,
    median,
)
from trisk_datawrangle_spark.functions.scalars import (
    any_null,
    exact_cents_sum,
    recode,
    replace_na,
    safe_div,
    unite,
    UNIT,
)
from trisk_datawrangle_spark.operators.geography import containment_pairs
from trisk_datawrangle_spark.operators.interpolate import (
    fill_locf,
    lm_extrapolate,
    na_approx,
    zero_after_last,
)
from trisk_datawrangle_spark.operators.joins import (
    anti_join,
    bind_cols_single_row,
    closest_parent,
    natural_join,
    semi_join,
    union_with_precedence,
)
from trisk_datawrangle_spark.operators.quality import (
    duplicates_report,
    missings_report,
)
from trisk_datawrangle_spark.operators.reshape import (
    fan_out,
    melt,
    one_hot,
    pivot_wider,
    separate,
)
from trisk_datawrangle_spark.operators.setops import clone_recode
from trisk_datawrangle_spark.operators.temporal import interval_join, join_asof
from trisk_datawrangle_spark.operators.spine import (
    complete_cross,
    complete_spine,
    missing_combinations,
)
from trisk_datawrangle_spark.operators.windows import (
    baseline_index,
    group_max_col,
    slice_max,
    with_asset_id,
)
from trisk_datawrangle_spark.plans.pipelines import (
    flagship_market_share,
    yearly_revenue_series,
)
from trisk_datawrangle_spark.sources.readers import fan_out_scan, load_tables

QUERIES: dict = {}
ORACLES: dict[str, str] = {}


def q(name: str, sql: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLES[name] = sql
        return fn

    return deco


# ---------------------------------------------------------------- #
# shared SQL fixture: sparse scenario-shaped yearly revenue series  #
# (mirror of plans.pipelines.yearly_revenue_series, gap_modulus=3)  #
# ---------------------------------------------------------------- #

GAPPED_CTE = """
yearly AS (
    SELECT c.c_mktsegment AS segment,
           o.o_orderpriority AS priority,
           CAST(year(o.o_orderdate) AS INTEGER) AS year,
           SUM(CAST(round(o.o_totalprice * 100) AS BIGINT)) / 100.0 AS value
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY 1, 2, 3
), bounds AS (
    SELECT segment, priority, MIN(year) AS lo, MAX(year) AS hi
    FROM yearly GROUP BY 1, 2
), gapped AS (
    SELECT y.segment, y.priority, y.year, y.value
    FROM yearly y JOIN bounds b USING (segment, priority)
    WHERE (y.year % 3 <> 0) OR y.year = b.lo OR y.year = b.hi
)
"""

INTERP_WINDOWS = """
    WINDOW wback AS (PARTITION BY segment, priority ORDER BY year
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           wfwd AS (PARTITION BY segment, priority ORDER BY year
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
"""


def _series(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["orders", "customer"])
    # cached: every spine-based entry (w8/w9/t4/t6/...) left-joins the
    # series back onto a spine built from its own bounds aggregate —
    # without the cache each use duplicates the scan+join+agg subtree
    # (Spark's cache manager dedups by analyzed plan, so all catalog
    # entries share one materialization per sf_dir). An eager
    # localCheckpoint instead was measured and rejected in round 13
    # (w8 0.85 → 1.48 s, w9 0.92 → 1.45 s): the chain is cheap to
    # re-plan, so eager materialization costs more than truncation.
    return yearly_revenue_series(t["orders"], t["customer"]).cache()


# ---------------------------------------------------------------- #
# flagship: T1 spine + W8 interpolation + W1/W2 market shares       #
# ---------------------------------------------------------------- #


@q(
    "flagship_market_share",
    f"""
WITH {GAPPED_CTE},
spine AS (
    SELECT b.segment, b.priority,
           CAST(unnest(generate_series(b.lo, b.hi)) AS INTEGER) AS year
    FROM bounds b
), dense AS (
    SELECT s.segment, s.priority, s.year, g.value
    FROM spine s LEFT JOIN gapped g USING (segment, priority, year)
), marked AS (
    SELECT segment, priority, year, value,
        last_value(value IGNORE NULLS) OVER wback AS prev_v,
        last_value(CASE WHEN value IS NOT NULL THEN year END IGNORE NULLS)
            OVER wback AS prev_x,
        first_value(value IGNORE NULLS) OVER wfwd AS next_v,
        first_value(CASE WHEN value IS NOT NULL THEN year END IGNORE NULLS)
            OVER wfwd AS next_x
    FROM dense
    {INTERP_WINDOWS}
), interp AS (
    SELECT segment, priority, year,
        CASE WHEN value IS NOT NULL THEN value
             WHEN prev_v IS NOT NULL AND next_v IS NOT NULL
             THEN prev_v + (next_v - prev_v) * (year - prev_x) / (next_x - prev_x)
        END AS value
    FROM marked
), nn AS (
    SELECT * FROM interp WHERE value IS NOT NULL
), tot AS (
    SELECT segment, priority, year, value,
           SUM(value) OVER (PARTITION BY segment, year) AS sector_total
    FROM nn
)
SELECT segment, priority, year,
    ROUND(value, 6) AS value,
    ROUND((value - first_value(value) OVER wt) / first_value(value) OVER wt, 6)
        AS tmsr,
    ROUND((value - first_value(value) OVER wt)
          / first_value(sector_total) OVER wt, 6) AS smsp
FROM tot
WINDOW wt AS (PARTITION BY segment, priority ORDER BY year
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
""",
)
def flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["orders", "customer"])
    return flagship_market_share(t["orders"], t["customer"])


# ---------------------------------------------------------------- #
# §2.2 projection / filter / predicates                             #
# ---------------------------------------------------------------- #


@q(
    "p1_project_rename",
    """
SELECT l_orderkey AS orderkey, l_linenumber AS lineno,
       l_quantity AS qty, l_extendedprice AS price
FROM lineitem
""",
)
def p1(spark, sf_dir):
    (li,) = load_tables(spark, sf_dir, ["lineitem"]).values()
    return li.select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice") \
        .withColumnsRenamed(
            {
                "l_orderkey": "orderkey",
                "l_linenumber": "lineno",
                "l_quantity": "qty",
                "l_extendedprice": "price",
            }
        )


@q(
    "p3_filter_isin",
    """
SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity
FROM lineitem
WHERE l_returnflag IN ('A', 'R') AND l_quantity >= 25
""",
)
def p3(spark, sf_dir):
    (li,) = load_tables(spark, sf_dir, ["lineitem"]).values()
    return li.filter(
        F.col("l_returnflag").isin("A", "R") & (F.col("l_quantity") >= 25)
    ).select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")


@q(
    "p4_filter_regex",
    """
SELECT p_partkey, p_name, p_type
FROM part
WHERE regexp_matches(p_type, '^(ECONOMY|PROMO)') AND p_name LIKE '%widget%'
""",
)
def p4(spark, sf_dir):
    (part,) = load_tables(spark, sf_dir, ["part"]).values()
    return part.filter(
        F.col("p_type").rlike("^(ECONOMY|PROMO)")
        & F.col("p_name").contains("widget")
    ).select("p_partkey", "p_name", "p_type")


@q(
    "p6_filter_any_null",
    """
SELECT c.c_custkey, o.o_orderkey, o.o_totalprice
FROM customer c
LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 400000) o
       ON c.c_custkey = o.o_custkey
WHERE o.o_orderkey IS NULL OR o.o_totalprice IS NULL
""",
)
def p6(spark, sf_dir):
    t = load_tables(spark, sf_dir, ["customer", "orders"])
    big = t["orders"].filter(F.col("o_totalprice") > 400000)
    joined = t["customer"].join(
        big, t["customer"].c_custkey == big.o_custkey, "left"
    ).select("c_custkey", "o_orderkey", "o_totalprice")
    return joined.filter(any_null(["o_orderkey", "o_totalprice"]))


@q(
    "p7_distinct",
    "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
)
def p7(spark, sf_dir):
    (li,) = load_tables(spark, sf_dir, ["lineitem"]).values()
    return li.select("l_returnflag", "l_linestatus").distinct()


@q(
    "p8_distinct_keep_first",
    """
SELECT l_orderkey, l_partkey, l_quantity FROM (
    SELECT l_orderkey, l_partkey, l_quantity,
           row_number() OVER (PARTITION BY l_orderkey
               ORDER BY l_linenumber, l_partkey, l_quantity, l_extendedprice)
               AS rn
    FROM lineitem
) WHERE rn = 1
""",
)
def p8(spark, sf_dir):
    """distinct(.keep_all=TRUE) with pinned deterministic order
    (P8 + SURVEY.md §7.3.2): the corpus has duplicate
    (orderkey, linenumber) keys, so the tie-break covers every
    output column."""
    (li,) = load_tables(spark, sf_dir, ["lineitem"]).values()
    w = Window.partitionBy("l_orderkey").orderBy(
        "l_linenumber", "l_partkey", "l_quantity", "l_extendedprice"
    )
    return (
        li.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("l_orderkey", "l_partkey", "l_quantity")
    )


@q(
    "p9_first_year_positive",
    """
SELECT DISTINCT o_custkey FROM (
    SELECT o_custkey, year,
           first_value(value) OVER (PARTITION BY o_custkey ORDER BY year
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
               AS first_v
    FROM (
        SELECT o_custkey, CAST(year(o_orderdate) AS INTEGER) AS year,
               SUM(CAST(round(o_totalprice * 100) AS BIGINT)) / 100.0 AS value
        FROM orders GROUP BY 1, 2
    )
) WHERE first_v > 300000
""",
)
def p9(spark, sf_dir):
    """Keep groups whose first-year value clears a gate (P9,
    run_prepare_abcd_stress_test_input.R:107-111)."""
    (orders,) = load_tables(spark, sf_dir, ["orders"]).values()
    yearly = orders.groupBy(
        "o_custkey", F.year("o_orderdate").alias("year")
    ).agg(exact_cents_sum("o_totalprice").alias("value"))
    w = (
        Window.partitionBy("o_custkey")
        .orderBy("year")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        yearly.withColumn("first_v", F.first("value").over(w))
        .filter(F.col("first_v") > 300000)
        .select("o_custkey")
        .distinct()
    )


# ---------------------------------------------------------------- #
# §2.3 joins                                                        #
# ---------------------------------------------------------------- #


@q(
    "j1_left_join",
    """
SELECT o.o_orderkey, c.c_name, c.c_mktsegment
FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
""",
)
def j1(spark, sf_dir):
    t = load_tables(spark, sf_dir, ["orders", "customer"])
    return t["orders"].join(
        F.broadcast(t["customer"]),
        t["orders"].o_custkey == t["customer"].c_custkey,
        "left",
    ).select("o_orderkey", "c_name", "c_mktsegment")


@q(
    "j2_inner_join_revenue",
    """
SELECT p.p_brand, s.s_name,
    SUM(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100) AS BIGINT))
        / 100.0 AS revenue,
    COUNT(*) AS n_lines
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
GROUP BY 1, 2
""",
)
def j2(spark, sf_dir):
    t = load_tables(spark, sf_dir, ["lineitem", "part", "supplier"])
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    # the sf corpus is one unsplittable parquet file: without the
    # gated fan-out the scan + both broadcast joins + the partial
    # aggregation all run on ONE core (measured 0.86 s warm → 0.73 s
    # with the fan-out at sf0.1/32 cores; no-op on split inputs)
    li = fan_out_scan(
        t["lineitem"].select(
            "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
        ),
        "l_partkey",
    )
    return (
        li
        .join(F.broadcast(t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("p_brand", "s_name")
        .agg(
            (F.sum(F.round(disc * 100).cast("long")) / 100.0).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@q(
    "j3_full_outer_natural",
    """
SELECT COALESCE(a.p_partkey, b.p_partkey) AS p_partkey,
       a.p_retailprice, b.sum_qty
FROM (SELECT p_partkey, p_retailprice FROM part WHERE p_size <= 25) a
FULL OUTER JOIN (
    -- DuckDB SUM(BIGINT) returns HUGEINT (pandas float64); re-cast so the
    -- driver's hash-exact compare sees int64 like Spark's sum(long).
    SELECT l_partkey AS p_partkey,
           CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
    FROM lineitem GROUP BY 1
) b USING (p_partkey)
""",
)
def j3(spark, sf_dir):
    t = load_tables(spark, sf_dir, ["part", "lineitem"])
    a = t["part"].filter(F.col("p_size") <= 25).select("p_partkey", "p_retailprice")
    b = t["lineitem"].groupBy(
        F.col("l_partkey").alias("p_partkey")
    ).agg(F.sum(F.col("l_quantity").cast("long")).alias("sum_qty"))
    return natural_join(a, b, "outer")


@q(
    "j4_anti_join",
    """
SELECT c_custkey, c_name FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
""",
)
def j4(spark, sf_dir):
    t = load_tables(spark, sf_dir, ["customer", "orders"])
    return anti_join(
        t["customer"],
        t["orders"].select(F.col("o_custkey").alias("c_custkey")),
        ["c_custkey"],
    ).select("c_custkey", "c_name")


@q(
    "j5_semi_join",
    """
SELECT s_suppkey, s_name FROM supplier
WHERE s_suppkey IN (
    SELECT l_suppkey FROM lineitem WHERE l_shipdate >= TIMESTAMP '2000-01-01'
)
""",
)
def j5(spark, sf_dir):
    t = load_tables(spark, sf_dir, ["supplier", "lineitem"])
    recent = t["lineitem"].filter(
        F.col("l_shipdate") >= F.lit("2000-01-01").cast("timestamp")
    ).select(F.col("l_suppkey").alias("s_suppkey"))
    return semi_join(t["supplier"], recent, ["s_suppkey"]).select(
        "s_suppkey", "s_name"
    )


@q(
    "j6_right_join",
    """
SELECT n.n_name, cnt.n_customers
FROM (SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS n_customers
      FROM customer GROUP BY 1) cnt
RIGHT JOIN nation n ON cnt.c_nationkey = n.n_nationkey
""",
)
def j6(spark, sf_dir):
    t = load_tables(spark, sf_dir, ["customer", "nation"])
    cnt = t["customer"].groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n_customers")
    )
    return cnt.join(
        t["nation"], cnt.c_nationkey == t["nation"].n_nationkey, "right"
    ).select("n_name", "n_customers")


@q(
    "j7_cross_join",
    """
SELECT r.r_name, s.seg
FROM region r CROSS JOIN (SELECT DISTINCT c_mktsegment AS seg FROM customer) s
""",
)
def j7(spark, sf_dir):
    t = load_tables(spark, sf_dir, ["region", "customer"])
    segs = t["customer"].select(F.col("c_mktsegment").alias("seg")).distinct()
    return t["region"].crossJoin(segs).select("r_name", "seg")


@q(
    "j8_global_share",
    """
WITH per_flag AS (
    SELECT l_returnflag,
        SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0 AS flag_rev
    FROM lineitem GROUP BY 1
), total AS (
    SELECT SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0
        AS total_rev
    FROM lineitem
)
SELECT f.l_returnflag, ROUND(f.flag_rev / t.total_rev, 6) AS rev_share
FROM per_flag f CROSS JOIN total t
""",
)
def j8(spark, sf_dir):
    """bind_cols of a 1-row global aggregate (J8) — broadcast cross
    join, not a collect."""
    (li,) = load_tables(spark, sf_dir, ["lineitem"]).values()
    per_flag = li.groupBy("l_returnflag").agg(
        exact_cents_sum("l_extendedprice").alias("flag_rev")
    )
    total = li.agg(exact_cents_sum("l_extendedprice").alias("total_rev"))
    return bind_cols_single_row(per_flag, total).select(
        "l_returnflag",
        F.round(F.col("flag_rev") / F.col("total_rev"), 6).alias("rev_share"),
    )


@q(
    "j9_closest_parent",
    """
SELECT c_custkey, o_orderkey AS first_orderkey FROM (
    SELECT c.c_custkey, o.o_orderkey,
           row_number() OVER (PARTITION BY c.c_custkey
                              ORDER BY o.o_orderdate, o.o_orderkey) AS rn
    FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
) WHERE rn = 1
""",
)
def j9(spark, sf_dir):
    """Nearest-ancestor join+slice_min (J9): customer='subsidiary',
    orders='ownership edges', orderdate='ownership_level'."""
    t = load_tables(spark, sf_dir, ["customer", "orders"])
    edges = t["orders"].select(
        "o_custkey", "o_orderkey", "o_orderdate"
    )
    res = closest_parent(
        t["customer"].select("c_custkey"),
        edges,
        child_key="c_custkey",
        edge_child_key="o_custkey",
        level_col="o_orderdate",
        tie_cols=["o_orderkey"],
    )
    return res.select("c_custkey", F.col("o_orderkey").alias("first_orderkey"))


@q(
    "j10_majority_pick",
    """
SELECT o_custkey, o_orderkey AS top_orderkey, o_totalprice AS top_price
FROM (
    SELECT o_custkey, o_orderkey, o_totalprice,
           row_number() OVER (PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
    FROM orders
) WHERE rn = 1
""",
)
def j10(spark, sf_dir):
    """slice_max majority pick (J10, prep_datalake.R:290-303)."""
    (orders,) = load_tables(spark, sf_dir, ["orders"]).values()
    top = slice_max(orders, ["o_custkey"], ["o_totalprice", "o_orderkey"])
    return top.select(
        "o_custkey",
        F.col("o_orderkey").alias("top_orderkey"),
        F.col("o_totalprice").alias("top_price"),
    )


# ---------------------------------------------------------------- #
# §2.4 aggregations                                                 #
# ---------------------------------------------------------------- #


@q(
    "a1_pricing_summary",
    """
SELECT l_returnflag, l_linestatus,
    SUM(CAST(round(l_quantity * 100) AS BIGINT)) / 100.0 AS sum_qty,
    SUM(CAST(round(l_extendedprice * 100) AS BIGINT)) / 100.0 AS sum_base,
    SUM(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
        / 100.0 AS sum_disc,
    ROUND((SUM(CAST(round(l_quantity * 100) AS BIGINT)) / 100.0)
        / COUNT(*), 6) AS avg_qty,
    COUNT(*) AS n
FROM lineitem
GROUP BY 1, 2
""",
)
def a1(spark, sf_dir):
    """TPC-H-Q1-shaped rollup (A1) with order-independent exact sums."""
    (li,) = load_tables(spark, sf_dir, ["lineitem"]).values()
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        exact_cents_sum("l_quantity").alias("sum_qty"),
        exact_cents_sum("l_extendedprice").alias("sum_base"),
        (F.sum(F.round(disc * 100).cast("long")) / 100.0).alias("sum_disc"),
        F.round(
            (F.sum(F.round(F.col("l_quantity") * 100).cast("long")) / 100.0)
            / F.count(F.lit(1)),
            6,
        ).alias("avg_qty"),
        F.count(F.lit(1)).alias("n"),
    )


@q(
    "a2_sum_or_null",
    """
SELECT l_partkey,
    SUM(CAST(round(CASE WHEN l_quantity > 45 THEN l_extendedprice END * 100)
        AS BIGINT)) / 100.0 AS hi_rev
FROM lineitem GROUP BY 1
""",
)
def a2(spark, sf_dir):
    """sum-or-all-NULL (A2): groups with no qualifying rows yield
    NULL, not 0 — Spark's native sum == the reference's
    .sum_or_all_nans."""
    (li,) = load_tables(spark, sf_dir, ["lineitem"]).values()
    hi = F.when(F.col("l_quantity") > 45, F.col("l_extendedprice"))
    return li.groupBy("l_partkey").agg(
        (F.sum(F.round(hi * 100).cast("long")) / 100.0).alias("hi_rev")
    )


@q(
    "a3_mean",
    """
SELECT c_nationkey, ROUND(
    (SUM(CAST(round(c_acctbal * 100) AS BIGINT)) / 100.0) / COUNT(c_acctbal),
    6) AS avg_bal
FROM customer GROUP BY 1
""",
)
def a3(spark, sf_dir):
    (c,) = load_tables(spark, sf_dir, ["customer"]).values()
    return c.groupBy("c_nationkey").agg(
        F.round(
            exact_cents_sum("c_acctbal") / F.count("c_acctbal"), 6
        ).alias("avg_bal")
    )


@q(
    "a4_median",
    """
SELECT o_orderpriority,
       ROUND(quantile_cont(o_totalprice, 0.5), 4) AS median_price
FROM orders GROUP BY 1
""",
)
def a4(spark, sf_dir):
    """Exact median (A4) — percentile interpolation matches R median."""
    (o,) = load_tables(spark, sf_dir, ["orders"]).values()
    # exact-median buffers accumulate every value: on the one-task
    # scan of the unsplittable sf file that is a serial pass
    # (measured 0.39 s warm → 0.22 s with the gated fan-out; the
    # hash repartition on the group key makes the agg single-phase)
    o = fan_out_scan(
        o.select("o_orderpriority", "o_totalprice"), "o_orderpriority"
    )
    return o.groupBy("o_orderpriority").agg(
        F.round(median("o_totalprice"), 4).alias("median_price")
    )


@q(
    "a5_a12_counts",
    """
SELECT c_mktsegment, COUNT(*) AS n,
       CAST(COUNT(DISTINCT c_nationkey) AS BIGINT) AS n_nations
FROM customer GROUP BY 1
""",
)
def a5(spark, sf_dir):
    (c,) = load_tables(spark, sf_dir, ["customer"]).values()
    return c.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.countDistinct("c_nationkey").alias("n_nations"),
    )


@q(
    "a8_minmax",
    """
SELECT l_returnflag,
    strftime(MIN(l_shipdate), '%Y-%m-%d') AS first_ship,
    strftime(MAX(l_shipdate), '%Y-%m-%d') AS last_ship,
    MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty
FROM lineitem GROUP BY 1
""",
)
def a8(spark, sf_dir):
    (li,) = load_tables(spark, sf_dir, ["lineitem"]).values()
    return li.groupBy("l_returnflag").agg(
        F.date_format(F.min("l_shipdate"), "yyyy-MM-dd").alias("first_ship"),
        F.date_format(F.max("l_shipdate"), "yyyy-MM-dd").alias("last_ship"),
        F.min("l_quantity").alias("min_qty"),
        F.max("l_quantity").alias("max_qty"),
    )


@q(
    "a9_bool_reduce",
    """
SELECT l_partkey FROM lineitem GROUP BY 1
HAVING MAX(CASE WHEN l_quantity > 48 THEN 1 ELSE 0 END) = 0
""",
)
def a9(spark, sf_dir):
    """all-empty-group detection (A9): parts never ordered in bulk."""
    (li,) = load_tables(spark, sf_dir, ["lineitem"]).values()
    return (
        li.groupBy("l_partkey")
        .agg(bool_any(F.col("l_quantity") > 48).alias("has_bulk"))
        .filter(~F.col("has_bulk"))
        .select("l_partkey")
    )


@q(
    "a10_collect_sorted",
    """
SELECT n_regionkey, string_agg(n_name, ',' ORDER BY n_name) AS nations
FROM nation GROUP BY 1
""",
)
def a10(spark, sf_dir):
    (n,) = load_tables(spark, sf_dir, ["nation"]).values()
    return n.groupBy("n_regionkey").agg(
        collect_sorted_csv("n_name").alias("nations")
    )


@q(
    "a11_first_by_order",
    """
SELECT o_custkey, o_orderpriority AS first_priority FROM (
    SELECT o_custkey, o_orderpriority,
           row_number() OVER (PARTITION BY o_custkey
                              ORDER BY o_orderdate, o_orderkey) AS rn
    FROM orders
) WHERE rn = 1
""",
)
def a11(spark, sf_dir):
    """Grouped first with pinned order (A11 + §7.4 determinism)."""
    (o,) = load_tables(spark, sf_dir, ["orders"]).values()
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", F.col("o_orderpriority").alias("first_priority"))
    )


# ---------------------------------------------------------------- #
# §2.5 windows                                                      #
# ---------------------------------------------------------------- #


@q(
    "w1_baseline_index",
    f"""
WITH {GAPPED_CTE}
SELECT segment, priority, year,
    ROUND((value - first_value(value) OVER wt) / first_value(value) OVER wt, 6)
        AS tmsr
FROM gapped
WINDOW wt AS (PARTITION BY segment, priority ORDER BY year
              ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
""",
)
def w1(spark, sf_dir):
    series = _series(spark, sf_dir)
    return baseline_index(
        series, ["segment", "priority"], "year", "value", "tmsr"
    ).select("segment", "priority", "year", F.round("tmsr", 6).alias("tmsr"))


@q(
    "w4_row_number",
    """
SELECT o_orderkey,
       concat(o_custkey, '_', row_number() OVER (PARTITION BY o_custkey
           ORDER BY o_orderdate, o_orderkey)) AS asset_id
FROM orders
""",
)
def w4(spark, sf_dir):
    (o,) = load_tables(spark, sf_dir, ["orders"]).values()
    return with_asset_id(
        o, "o_custkey", ["o_orderdate", "o_orderkey"]
    ).select("o_orderkey", "asset_id")


@q(
    "w6_group_max_ratio",
    """
SELECT o_orderkey,
    ROUND(o_totalprice / MAX(o_totalprice) OVER (PARTITION BY o_custkey), 6)
        AS price_ratio
FROM orders
""",
)
def w6(spark, sf_dir):
    (o,) = load_tables(spark, sf_dir, ["orders"]).values()
    return group_max_col(o, ["o_custkey"], "o_totalprice", "max_price").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") / F.col("max_price"), 6).alias(
            "price_ratio"
        ),
    )


@q(
    "w7_locf_fill",
    f"""
WITH {GAPPED_CTE},
spine AS (
    SELECT b.segment, b.priority,
           CAST(unnest(generate_series(b.lo, b.hi)) AS INTEGER) AS year
    FROM bounds b
), dense AS (
    SELECT s.segment, s.priority, s.year, g.value
    FROM spine s LEFT JOIN gapped g USING (segment, priority, year)
)
SELECT segment, priority, year,
    ROUND(coalesce(value, last_value(value IGNORE NULLS) OVER wback), 6)
        AS value
FROM dense
WINDOW wback AS (PARTITION BY segment, priority ORDER BY year
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
""",
)
def w7(spark, sf_dir):
    series = _series(spark, sf_dir)
    dense = complete_spine(series, ["segment", "priority"], "year", bounds="group")
    filled = fill_locf(dense, ["segment", "priority"], "year", "value", "down")
    return filled.select(
        "segment", "priority", "year", F.round("value", 6).alias("value")
    )


@q(
    "w8_interpolate_keep_edges",
    f"""
WITH {GAPPED_CTE},
spine AS (
    SELECT g.segment, g.priority,
           CAST(unnest(generate_series(1994, 2002)) AS INTEGER) AS year
    FROM (SELECT DISTINCT segment, priority FROM gapped) g
), dense AS (
    SELECT s.segment, s.priority, s.year, g.value
    FROM spine s LEFT JOIN gapped g USING (segment, priority, year)
), marked AS (
    SELECT segment, priority, year, value,
        last_value(value IGNORE NULLS) OVER wback AS prev_v,
        last_value(CASE WHEN value IS NOT NULL THEN year END IGNORE NULLS)
            OVER wback AS prev_x,
        first_value(value IGNORE NULLS) OVER wfwd AS next_v,
        first_value(CASE WHEN value IS NOT NULL THEN year END IGNORE NULLS)
            OVER wfwd AS next_x
    FROM dense
    {INTERP_WINDOWS}
)
SELECT segment, priority, year,
    ROUND(CASE WHEN value IS NOT NULL THEN value
         WHEN prev_v IS NOT NULL AND next_v IS NOT NULL
         THEN prev_v + (next_v - prev_v) * (year - prev_x) / (next_x - prev_x)
    END, 6) AS value
FROM marked
""",
)
def w8(spark, sf_dir):
    """na.approx with na_rm=False (W8 edge policy): the 1994/2002
    spine years fall outside every group's observations and stay
    NULL — exactly zoo::na.approx(na.rm=FALSE)."""
    series = _series(spark, sf_dir)
    dense = complete_spine(
        series, ["segment", "priority"], "year", bounds="fixed", lo=1994, hi=2002
    )
    res = na_approx(dense, ["segment", "priority"], "year", "value", na_rm=False)
    return res.select(
        "segment", "priority", "year", F.round("value", 6).alias("value")
    )


@q(
    "w9_lm_extrapolate",
    f"""
WITH {GAPPED_CTE},
spine AS (
    SELECT g.segment, g.priority,
           CAST(unnest(generate_series(1995, 2004)) AS INTEGER) AS year
    FROM (SELECT DISTINCT segment, priority FROM gapped) g
), dense AS (
    SELECT s.segment, s.priority, s.year, g.value
    FROM spine s LEFT JOIN gapped g USING (segment, priority, year)
), ints AS (
    SELECT segment, priority, CAST(year AS HUGEINT) AS x,
           CAST(round(value * 100) AS HUGEINT) AS yc
    FROM dense WHERE value IS NOT NULL
), coef AS (
    SELECT segment, priority, CAST(COUNT(*) AS HUGEINT) AS n,
           SUM(x) AS sx, SUM(x * x) AS sxx, SUM(yc) AS sy,
           SUM(x * yc) AS sxy
    FROM ints GROUP BY 1, 2
), cf AS (
    SELECT segment, priority, n, sx, sy,
        n * sxy - sx * sy AS a, n * sxx - sx * sx AS b
    FROM coef
), pred AS (
    SELECT d.segment, d.priority, d.year, d.value,
        c.sy * c.b - c.a * c.sx + c.a * c.n * CAST(d.year AS HUGEINT)
            AS num,
        c.b * c.n AS den
    FROM dense d LEFT JOIN cf c USING (segment, priority)
)
SELECT segment, priority, year,
    COALESCE(value, CAST(
        CASE WHEN den IS NULL OR den = 0 THEN NULL
             WHEN num >= 0 THEN (2 * num + den) // (2 * den)
             ELSE -((2 * (-num) + den) // (2 * den)) END
        AS DOUBLE) / 100.0) AS value
FROM pred
""",
)
def w9(spark, sf_dir):
    """Per-group OLS extension (W9+T4): spine beyond the data, NULLs
    filled by the closed-form regression — two shuffles total.
    ``exact_scale=2``: the prediction is an exact small-denominator
    rational that lands on half-cent rounding boundaries, so it is
    rounded in integer arithmetic with explicit tie-breaking —
    bit-identical on any partitioning/engine (float covar_pop or even
    float slope·x flips those ties by noise)."""
    series = _series(spark, sf_dir)
    dense = complete_spine(
        series, ["segment", "priority"], "year", bounds="fixed", lo=1995, hi=2004
    )
    res = lm_extrapolate(
        dense, ["segment", "priority"], "year", "value", exact_scale=2
    )
    return res.select(
        "segment", "priority", "year", F.round("value", 2).alias("value")
    )


# ---------------------------------------------------------------- #
# §2.9 spines (beyond the flagship's T1)                            #
# ---------------------------------------------------------------- #


@q(
    "t2_complete_cross",
    f"""
WITH {GAPPED_CTE},
grid AS (
    SELECT s.segment, p.priority,
           CAST(unnest(generate_series(1995, 2001)) AS INTEGER) AS year
    FROM (SELECT DISTINCT segment FROM gapped) s
    CROSS JOIN (SELECT DISTINCT priority FROM gapped) p
)
SELECT g.segment, g.priority, g.year, ROUND(d.value, 6) AS value
FROM grid g LEFT JOIN gapped d USING (segment, priority, year)
""",
)
def t2(spark, sf_dir):
    series = _series(spark, sf_dir)
    res = complete_cross(
        series, ["segment", "priority"], x_col="year", lo=1995, hi=2001
    )
    return res.select(
        "segment", "priority", "year", F.round("value", 6).alias("value")
    )


@q(
    "t3_missing_combinations",
    """
WITH cust AS (
    SELECT n.n_name, c.c_mktsegment
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
)
SELECT a.n_name, b.c_mktsegment
FROM (SELECT DISTINCT n_name FROM cust) a
CROSS JOIN (SELECT DISTINCT c_mktsegment FROM cust) b
ANTI JOIN cust USING (n_name, c_mktsegment)
""",
)
def t3(spark, sf_dir):
    t = load_tables(spark, sf_dir, ["customer", "nation"])
    cust = t["customer"].join(
        F.broadcast(t["nation"]),
        t["customer"].c_nationkey == t["nation"].n_nationkey,
    ).select("n_name", "c_mktsegment")
    return missing_combinations(cust, ["n_name", "c_mktsegment"])


@q(
    "t5_zero_after_last",
    f"""
WITH {GAPPED_CTE},
interior AS (
    SELECT segment, priority, year, value FROM gapped WHERE year % 3 <> 0
), spine AS (
    SELECT g.segment, g.priority,
           CAST(unnest(generate_series(1995, 2001)) AS INTEGER) AS year
    FROM (SELECT DISTINCT segment, priority FROM interior) g
), dense AS (
    SELECT s.segment, s.priority, s.year, i.value
    FROM spine s LEFT JOIN interior i USING (segment, priority, year)
), marked AS (
    SELECT segment, priority, year, value,
        MAX(CASE WHEN value IS NOT NULL THEN year END)
            OVER (PARTITION BY segment, priority) AS last_x
    FROM dense
)
SELECT segment, priority, year,
    ROUND(CASE WHEN value IS NULL AND year > last_x THEN 0.0
               ELSE value END, 6) AS value
FROM marked
""",
)
def t5(spark, sf_dir):
    """Trailing-NULL → 0 (T5): drop endpoint years from the series so
    the global spine has leading (kept NULL) and trailing (zeroed)
    gaps."""
    series = _series(spark, sf_dir).filter(F.col("year") % 3 != 0)
    dense = complete_spine(
        series, ["segment", "priority"], "year", bounds="fixed", lo=1995, hi=2001
    )
    res = zero_after_last(dense, ["segment", "priority"], "year", "value")
    return res.select(
        "segment", "priority", "year", F.round("value", 6).alias("value")
    )


# ---------------------------------------------------------------- #
# §2.6 reshape                                                      #
# ---------------------------------------------------------------- #


@q(
    "r1_melt",
    """
SELECT p_partkey, 'p_size' AS measure, CAST(p_size AS DOUBLE) AS value
FROM part
UNION ALL
SELECT p_partkey, 'p_retailprice', p_retailprice FROM part
""",
)
def r1(spark, sf_dir):
    (p,) = load_tables(spark, sf_dir, ["part"]).values()
    wide = p.select(
        "p_partkey",
        F.col("p_size").cast("double").alias("p_size"),
        "p_retailprice",
    )
    return melt(wide, ["p_partkey"], ["p_size", "p_retailprice"], "measure", "value")


SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]


@q(
    "r3_pivot_wider",
    """
SELECT n_name,
    COUNT(CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 END) AS AUTOMOBILE,
    COUNT(CASE WHEN c_mktsegment = 'BUILDING' THEN 1 END) AS BUILDING,
    COUNT(CASE WHEN c_mktsegment = 'FURNITURE' THEN 1 END) AS FURNITURE,
    COUNT(CASE WHEN c_mktsegment = 'HOUSEHOLD' THEN 1 END) AS HOUSEHOLD,
    COUNT(CASE WHEN c_mktsegment = 'MACHINERY' THEN 1 END) AS MACHINERY
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY 1
""",
)
def r3(spark, sf_dir):
    """pivot_wider with pinned values (R3) — no distinct pre-job,
    stable schema at any scale."""
    t = load_tables(spark, sf_dir, ["customer", "nation"])
    joined = t["customer"].join(
        F.broadcast(t["nation"]),
        t["customer"].c_nationkey == t["nation"].n_nationkey,
    )
    return (
        joined.groupBy("n_name")
        .pivot("c_mktsegment", SEGMENTS)
        .agg(F.count(F.lit(1)))
        .na.fill(0, SEGMENTS)
    )


@q(
    "r4_r5_strings",
    """
SELECT p_partkey,
    concat(p_brand, '_', p_type) AS brand_type,
    string_split(p_name, ' ')[1] AS name_adj,
    string_split(p_name, ' ')[2] AS name_noun,
    upper(p_brand) AS brand_upper,
    CAST(length(p_name) AS INTEGER) AS name_len,
    substring(p_type, 1, 3) AS type_prefix,
    regexp_extract(p_name, '([a-z]+)', 1) AS first_word,
    regexp_replace(p_name, ' ', '-', 'g') AS name_slug
FROM part
""",
)
def r4(spark, sf_dir):
    """unite + separate + the scalar string family (R4/R5,
    F3-F8)."""
    (p,) = load_tables(spark, sf_dir, ["part"]).values()
    # separate() drops its source column; run it on a frame carrying a
    # duplicate so p_name survives for the scalar ops below — the
    # previous version re-attached it with a full self-join of part
    sep = separate(
        p.select(
            "p_partkey",
            "p_name",
            F.col("p_name").alias("__p_name_split"),
            "p_brand",
            "p_type",
        ),
        "__p_name_split",
        ["name_adj", "name_noun"],
        " ",
    )
    return sep.select(
        "p_partkey",
        unite("_", "p_brand", "p_type").alias("brand_type"),
        "name_adj",
        "name_noun",
        F.upper("p_brand").alias("brand_upper"),
        F.length("p_name").cast("int").alias("name_len"),
        F.substring("p_type", 1, 3).alias("type_prefix"),
        F.regexp_extract("p_name", "([a-z]+)", 1).alias("first_word"),
        F.regexp_replace("p_name", " ", "-").alias("name_slug"),
    )


@q(
    "r6_one_hot",
    """
SELECT c_custkey,
    CASE WHEN c_mktsegment = 'AUTOMOBILE' THEN 1 ELSE 0 END AS seg_AUTOMOBILE,
    CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS seg_BUILDING,
    CASE WHEN c_mktsegment = 'FURNITURE' THEN 1 ELSE 0 END AS seg_FURNITURE,
    CASE WHEN c_mktsegment = 'HOUSEHOLD' THEN 1 ELSE 0 END AS seg_HOUSEHOLD,
    CASE WHEN c_mktsegment = 'MACHINERY' THEN 1 ELSE 0 END AS seg_MACHINERY
FROM customer
""",
)
def r6(spark, sf_dir):
    (c,) = load_tables(spark, sf_dir, ["customer"]).values()
    return one_hot(
        c.select("c_custkey", "c_mktsegment"), "c_mktsegment", SEGMENTS, "seg_"
    ).drop("c_mktsegment")


@q(
    "r8_fan_out",
    """
SELECT r_name, m.model
FROM region CROSS JOIN (VALUES ('GCAM'), ('REMIND'), ('MESSAGE')) m(model)
""",
)
def r8(spark, sf_dir):
    (r,) = load_tables(spark, sf_dir, ["region"]).values()
    return fan_out(r.select("r_name"), "model", ["GCAM", "REMIND", "MESSAGE"])


# ---------------------------------------------------------------- #
# §2.7 set operations                                               #
# ---------------------------------------------------------------- #


@q(
    "u1_union_by_name",
    """
SELECT c_custkey, c_name, c_acctbal, NULL AS c_mktsegment FROM customer
WHERE c_nationkey < 10
UNION ALL
SELECT c_custkey, c_name, NULL, c_mktsegment FROM customer
WHERE c_nationkey >= 10
""",
)
def u1(spark, sf_dir):
    (c,) = load_tables(spark, sf_dir, ["customer"]).values()
    a = c.filter(F.col("c_nationkey") < 10).select(
        "c_custkey", "c_name", "c_acctbal"
    )
    b = c.filter(F.col("c_nationkey") >= 10).select(
        "c_custkey", "c_name", "c_mktsegment"
    )
    from trisk_datawrangle_spark.operators.setops import union_by_name

    res = union_by_name(a, b)
    return res.withColumn(
        "c_mktsegment", F.col("c_mktsegment").cast("string")
    )


@q(
    "u2_clone_recode",
    """
SELECT l_returnflag, COUNT(*) AS n FROM (
    SELECT l_returnflag FROM lineitem
    UNION ALL
    SELECT 'A_CLONE' FROM lineitem WHERE l_returnflag = 'A'
) GROUP BY 1
""",
)
def u2(spark, sf_dir):
    """clone-with-recode (U2): the SDS→NZE / GasCap→OilCap idiom."""
    (li,) = load_tables(spark, sf_dir, ["lineitem"]).values()
    cloned = clone_recode(
        li.select("l_returnflag"),
        F.col("l_returnflag") == "A",
        {"l_returnflag": "A_CLONE"},
    )
    return cloned.groupBy("l_returnflag").agg(F.count(F.lit(1)).alias("n"))


@q(
    "u3_union_precedence",
    """
WITH a AS (
    SELECT c_custkey, c_name, 'primary' AS src FROM customer
    WHERE c_nationkey < 12
), b AS (
    SELECT c_custkey, c_name, 'secondary' AS src FROM customer
)
SELECT * FROM a
UNION ALL
SELECT b.* FROM b ANTI JOIN a USING (c_custkey)
""",
)
def u3(spark, sf_dir):
    (c,) = load_tables(spark, sf_dir, ["customer"]).values()
    a = c.filter(F.col("c_nationkey") < 12).select(
        "c_custkey", "c_name", F.lit("primary").alias("src")
    )
    b = c.select("c_custkey", "c_name", F.lit("secondary").alias("src"))
    return union_with_precedence(a, b, ["c_custkey"])


# ---------------------------------------------------------------- #
# §2.8 scalar functions                                             #
# ---------------------------------------------------------------- #


@q(
    "f1_recode",
    """
SELECT o_orderkey,
    CASE o_orderpriority
        WHEN '1-URGENT' THEN 'U' WHEN '2-HIGH' THEN 'H'
        WHEN '3-MEDIUM' THEN 'M' ELSE 'OTHER' END AS prio_code
FROM orders
""",
)
def f1(spark, sf_dir):
    (o,) = load_tables(spark, sf_dir, ["orders"]).values()
    return o.select(
        "o_orderkey",
        recode(
            "o_orderpriority",
            {"1-URGENT": "U", "2-HIGH": "H", "3-MEDIUM": "M"},
            default=F.lit("OTHER"),
        ).alias("prio_code"),
    )


@q(
    "f10_unit_convert",
    """
SELECT l_orderkey, l_linenumber,
    ROUND(l_extendedprice * 0.16, 6) AS price_gj,
    ROUND(l_extendedprice * 0.9478171203, 6) AS price_mbtu_gj,
    ROUND(l_quantity * 1000.0 / (24 * 365), 6) AS qty_gw
FROM lineitem
""",
)
def f10(spark, sf_dir):
    (li,) = load_tables(spark, sf_dir, ["lineitem"]).values()
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_extendedprice") * UNIT.BARREL_TO_GJ, 6).alias("price_gj"),
        F.round(F.col("l_extendedprice") * UNIT.MBTU_TO_GJ, 6).alias(
            "price_mbtu_gj"
        ),
        F.round(F.col("l_quantity") * UNIT.TWH_TO_GW_YEAR, 6).alias("qty_gw"),
    )


@q(
    "f11_f12_null_gates",
    """
SELECT c_custkey,
    ROUND(COALESCE(NULLIF(c_acctbal, 0.0), -1.0), 6) AS bal_or_flag,
    c_acctbal BETWEEN 0 AND 5000 AS bal_in_band
FROM customer
""",
)
def f11(spark, sf_dir):
    (c,) = load_tables(spark, sf_dir, ["customer"]).values()
    return c.select(
        "c_custkey",
        F.round(
            replace_na(F.nullif(F.col("c_acctbal"), F.lit(0.0)), -1.0), 6
        ).alias("bal_or_flag"),
        F.col("c_acctbal").between(0, 5000).alias("bal_in_band"),
    )


@q(
    "f14_safe_div",
    """
SELECT l_orderkey, l_linenumber,
    ROUND(CASE WHEN (l_quantity - 25.0) = 0 OR (l_quantity - 25.0) IS NULL
          THEN NULL ELSE l_extendedprice / (l_quantity - 25.0) END, 6)
        AS price_per_extra
FROM lineitem
""",
)
def f14(spark, sf_dir):
    """Explicit x/0 policy (F14, SURVEY.md §7.3.3)."""
    (li,) = load_tables(spark, sf_dir, ["lineitem"]).values()
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(
            safe_div("l_extendedprice", F.col("l_quantity") - 25.0), 6
        ).alias("price_per_extra"),
    )


# ---------------------------------------------------------------- #
# §2.10 data quality                                                #
# ---------------------------------------------------------------- #


@q(
    "q5_missings_report",
    """
SELECT COUNT(CASE WHEN o.o_orderkey IS NULL THEN 1 END) AS o_orderkey,
       COUNT(CASE WHEN o.o_totalprice IS NULL THEN 1 END) AS o_totalprice
FROM customer c
LEFT JOIN (SELECT * FROM orders WHERE o_totalprice > 400000) o
       ON c.c_custkey = o.o_custkey
""",
)
def q5(spark, sf_dir):
    t = load_tables(spark, sf_dir, ["customer", "orders"])
    big = t["orders"].filter(F.col("o_totalprice") > 400000)
    joined = t["customer"].join(
        big, t["customer"].c_custkey == big.o_custkey, "left"
    )
    return missings_report(joined, ["o_orderkey", "o_totalprice"])


@q(
    "q6_duplicates_report",
    """
SELECT o_custkey, strftime(o_orderdate, '%Y-%m-%d') AS order_day, n
FROM (
    SELECT o_custkey, o_orderdate, COUNT(*) AS n
    FROM orders GROUP BY 1, 2
) WHERE n > 1
""",
)
def q6(spark, sf_dir):
    (o,) = load_tables(spark, sf_dir, ["orders"]).values()
    rep = duplicates_report(o, ["o_custkey", "o_orderdate"])
    return rep.select(
        "o_custkey",
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_day"),
        "n",
    )


@q(
    "q8_incomplete_groups",
    """
WITH cust AS (
    SELECT c_nationkey, c_mktsegment FROM customer
)
SELECT DISTINCT a.c_nationkey
FROM (SELECT DISTINCT c_nationkey FROM cust) a
CROSS JOIN (SELECT DISTINCT c_mktsegment FROM cust) b
ANTI JOIN cust USING (c_nationkey, c_mktsegment)
""",
)
def q8(spark, sf_dir):
    """Incomplete-group removal probe (Q8): nations whose customers
    don't span every observed segment."""
    (c,) = load_tables(spark, sf_dir, ["customer"]).values()
    missing = missing_combinations(
        c.select("c_nationkey", "c_mktsegment"), ["c_nationkey", "c_mktsegment"]
    )
    return missing.select("c_nationkey").distinct()


# ---------------------------------------------------------------- #
# §2.11 geography regrouping (set-similarity)                       #
# ---------------------------------------------------------------- #


@q(
    "g1_containment_pairs",
    """
WITH s AS (
    SELECT DISTINCT c_mktsegment AS g, c_nationkey AS m FROM customer
), sz AS (
    SELECT g, COUNT(*) AS n FROM s GROUP BY 1
), inter AS (
    SELECT a.g AS geo_a, b.g AS geo_b, COUNT(*) AS ni
    FROM s a JOIN s b ON a.m = b.m AND a.g <> b.g
    GROUP BY 1, 2
)
SELECT i.geo_a, i.geo_b, ROUND(i.ni / sz.n, 6) AS containment
FROM inter i JOIN sz ON i.geo_a = sz.g
WHERE i.ni / sz.n >= 0.6
""",
)
def g1(spark, sf_dir):
    """§2.11: containment ratio |A∩B|/|A| between 'geographies'
    (segments) over their 'country' (nation) sets."""
    (c,) = load_tables(spark, sf_dir, ["customer"]).values()
    bridge = c.select(
        F.col("c_mktsegment").alias("scenario_geography"),
        F.col("c_nationkey").alias("country_iso"),
    )
    pairs = containment_pairs(bridge, tolerance=0.6)
    return pairs.select(
        "geo_a", "geo_b", F.round("containment", 6).alias("containment")
    )


# ---------------------------------------------------------------- #
# events: batch time-bucketing + JSON props                         #
# ---------------------------------------------------------------- #


@q(
    "e1_tumbling_window",
    """
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
       event_type, COUNT(*) AS n,
       SUM(CAST(round(value * 100) AS BIGINT)) / 100.0 AS sum_value
FROM events GROUP BY 1, 2
""",
)
def e1(spark, sf_dir):
    (ev,) = load_tables(spark, sf_dir, ["events"]).values()
    res = ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type").agg(
        F.count(F.lit(1)).alias("n"),
        exact_cents_sum("value").alias("sum_value"),
    )
    return res.select(
        F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n",
        "sum_value",
    )


@q(
    "e2_json_extract",
    """
SELECT event_type,
    CAST(SUM(CAST(json_extract_string(props, '$.k') AS INTEGER)) AS BIGINT)
        AS sum_k,
    COUNT(*) AS n
FROM events GROUP BY 1
""",
)
def e2(spark, sf_dir):
    (ev,) = load_tables(spark, sf_dir, ["events"]).values()
    k = F.get_json_object("props", "$.k").cast("int")
    return ev.groupBy("event_type").agg(
        F.sum(k).cast("long").alias("sum_k"), F.count(F.lit(1)).alias("n")
    )


@q(
    "e7_asof_forward",
    """
WITH c AS (
    SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
), err AS (
    SELECT user_id, ts, value FROM events WHERE event_type = 'error'
)
SELECT c.event_id, c.user_id,
    CASE WHEN err.ts <= c.ts + INTERVAL 1 HOUR
         THEN strftime(err.ts, '%Y-%m-%d %H:%M:%S.%f') END AS err_ts,
    CASE WHEN err.ts <= c.ts + INTERVAL 1 HOUR
         THEN err.value END AS err_value
FROM c ASOF LEFT JOIN err
    ON c.user_id = err.user_id AND err.ts >= c.ts
""",
)
def e7(spark, sf_dir):
    """Forward as-of join (same one-shuffle union+window plan run over
    the reversed sort order): every click gets the EARLIEST same-user
    error at or after it, voided when more than 1 hour later. DuckDB's
    native forward ASOF JOIN (``err.ts >= c.ts``) is the oracle; the
    nearest direction is pandas-parity property-tested
    (tests/test_asof_properties.py)."""
    (ev,) = load_tables(spark, sf_dir, ["events"]).values()
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id", "ts", "value"
    )
    res = join_asof(
        clicks,
        errors,
        on=["user_id"],
        right_cols=["value"],
        tolerance_seconds=3600,
        direction="forward",
    )
    return res.select(
        "event_id",
        "user_id",
        F.date_format("ts_asof", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("err_ts"),
        F.col("value_asof").alias("err_value"),
    )


@q(
    "e3_asof_join",
    """
WITH c AS (
    SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
), err AS (
    SELECT user_id, ts, value FROM events WHERE event_type = 'error'
)
SELECT c.event_id, c.user_id,
    CASE WHEN err.ts >= c.ts - INTERVAL 1 HOUR
         THEN strftime(err.ts, '%Y-%m-%d %H:%M:%S.%f') END AS err_ts,
    CASE WHEN err.ts >= c.ts - INTERVAL 1 HOUR
         THEN err.value END AS err_value
FROM c ASOF LEFT JOIN err
    ON c.user_id = err.user_id AND err.ts <= c.ts
""",
)
def e3(spark, sf_dir):
    """As-of join (union + LOCF window — one shuffle, no inequality
    join): every click gets the latest same-user error value at or
    before it, voided when older than 1 hour. DuckDB's native ASOF
    JOIN is the oracle."""
    (ev,) = load_tables(spark, sf_dir, ["events"]).values()
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id", "ts", "value"
    )
    res = join_asof(
        clicks,
        errors,
        on=["user_id"],
        right_cols=["value"],
        tolerance_seconds=3600,
    )
    return res.select(
        "event_id",
        "user_id",
        F.date_format("ts_asof", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("err_ts"),
        F.col("value_asof").alias("err_value"),
    )


@q(
    "e4_interval_join",
    """
SELECT c.event_id, e.event_id AS incident_id
FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
JOIN (SELECT event_id, user_id, ts FROM events WHERE event_type = 'error') e
  ON c.user_id = e.user_id
 AND c.ts BETWEEN e.ts AND e.ts + INTERVAL 30 MINUTE
""",
)
def e4(spark, sf_dir):
    """Point-in-interval join via time-bucketed equi-join (no
    broadcast-nested-loop): clicks falling inside any same-user
    30-minute incident window opened by an error event."""
    (ev,) = load_tables(spark, sf_dir, ["events"]).values()
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    incidents = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("incident_id"),
        "user_id",
        F.col("ts").alias("start"),
        (F.col("ts") + F.expr("INTERVAL 30 MINUTES")).alias("end"),
    )
    res = interval_join(
        clicks,
        incidents,
        on=["user_id"],
        ts_col="ts",
        start_col="start",
        end_col="end",
        bucket_seconds=1800,
    )
    return res.select("event_id", "incident_id")


# ---------------------------------------------------------------- #
# classic multi-way-join analytics (TPC-H Q3/Q5 shapes)             #
# ---------------------------------------------------------------- #

# revenue = price*(1-discount) carried as an exact integer in 1e-4
# units: cents(price) × (100 - cents(discount)) — both factors are
# exact small integers, so the sum is associative and engine-portable
# (a float product rounded at the boundary is not).
_REV_SQL = (
    "CAST(round(l_extendedprice * 100) AS BIGINT)"
    " * (100 - CAST(round(l_discount * 100) AS BIGINT))"
)


def _rev_e4() -> F.Column:
    return F.round(F.col("l_extendedprice") * 100).cast("long") * (
        F.lit(100) - F.round(F.col("l_discount") * 100).cast("long")
    )


@q(
    "q3_shipping_priority",
    f"""
SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       o_orderpriority, SUM({_REV_SQL}) / 10000.0 AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-06-30'
  AND l_shipdate > TIMESTAMP '1998-06-30'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, o_orderkey
LIMIT 10
""",
)
def q3(spark, sf_dir):
    """TPC-H Q3 shape: two fact-fact shuffled joins + a selective
    dimension filter, top-k with a deterministic tie-break. Filters
    sit on the scan side of each join (pushdown audited in
    tests/test_plans.py patterns); AQE owns the join strategy."""
    t = load_tables(spark, sf_dir, ["customer", "orders", "lineitem"])
    cutoff = "1998-06-30"
    res = (
        t["customer"]
        .filter(F.col("c_mktsegment") == "BUILDING")
        .join(
            t["orders"].filter(F.col("o_orderdate") < cutoff),
            F.col("c_custkey") == F.col("o_custkey"),
        )
        .join(
            t["lineitem"].filter(F.col("l_shipdate") > cutoff),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg((F.sum(_rev_e4()) / 10000.0).alias("revenue"))
    )
    return (
        res.orderBy(F.col("revenue").desc(), "o_orderkey")
        .limit(10)
        .select(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
            "revenue",
        )
    )


@q(
    "q5_local_supplier_volume",
    f"""
SELECT n_name, SUM({_REV_SQL}) / 10000.0 AS revenue
FROM region
JOIN nation ON n_regionkey = r_regionkey
JOIN customer ON c_nationkey = n_nationkey
JOIN orders ON o_custkey = c_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY 1
""",
)
def q5(spark, sf_dir):
    """TPC-H Q5 shape: star joins with tiny dims broadcast
    explicitly, fact joins shuffled, plus the correlated
    customer-nation = supplier-nation predicate."""
    t = load_tables(
        spark,
        sf_dir,
        ["region", "nation", "customer", "orders", "lineitem", "supplier"],
    )
    asia_nations = (
        t["nation"]
        .join(
            F.broadcast(t["region"].filter(F.col("r_name") == "ASIA")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("n_nationkey", "n_name")
    )
    cust = t["customer"].join(
        F.broadcast(asia_nations),
        F.col("c_nationkey") == F.col("n_nationkey"),
    )
    ord_f = t["orders"].filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1997-01-01")
    )
    res = (
        cust.join(ord_f, F.col("o_custkey") == F.col("c_custkey"))
        .join(t["lineitem"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            t["supplier"],
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .groupBy("n_name")
        .agg((F.sum(_rev_e4()) / 10000.0).alias("revenue"))
    )
    return res


@q(
    "a13_approx_median_gate",
    """
SELECT o_orderpriority,
       ROUND(quantile_cont(o_totalprice, 0.5), 4) AS median_price,
       TRUE AS within_bound
FROM orders GROUP BY 1
""",
)
def a13(spark, sf_dir):
    """Mergeable approx-median gated against the exact percentile
    (a sketch checked against ground truth): ``median_approx`` is
    the documented 100 TB rollup swap-in (bounded sketch memory per
    group vs the exact percentile's keep-every-value); this entry
    driver-gates its rank-error contract — the sketch value must land
    between the group's exact 49th and 51st percentiles, far inside
    percentile_approx's n/10000 rank bound, so a failure means the
    sketch broke, not bad luck."""
    from trisk_datawrangle_spark.functions.aggregates import median_approx

    (o,) = load_tables(spark, sf_dir, ["orders"]).values()
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.round(median("o_totalprice"), 4).alias("median_price"),
            median_approx("o_totalprice").alias("__approx"),
            F.percentile("o_totalprice", F.lit(0.49)).alias("__lo"),
            F.percentile("o_totalprice", F.lit(0.51)).alias("__hi"),
        )
        .select(
            "o_orderpriority",
            "median_price",
            (
                (F.col("__approx") >= F.col("__lo"))
                & (F.col("__approx") <= F.col("__hi"))
            ).alias("within_bound"),
        )
    )


