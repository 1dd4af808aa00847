"""Pipeline compositions (SURVEY.md §3, §7.1.2).

The flagship slice reproduces the reference's scenario entry stage —
``interpolate_yearly`` + ``add_market_share_columns``
(run_prepare_Scenarios_AnalysisInput.R:78-86) — over the test
corpus's orders/customer tables, shaped like a scenario pathway:
(segment=sector, priority=technology, year, value). One lazy DAG:
scan → join → aggregate → spine → interpolate → two windows; Catalyst
sees the whole pipeline (the reference materializes CSV between every
stage).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from trisk_datawrangle_spark.functions.scalars import exact_cents_sum
from trisk_datawrangle_spark.operators.interpolate import na_approx
from trisk_datawrangle_spark.operators.spine import complete_spine
from trisk_datawrangle_spark.operators.windows import add_market_share_columns


def yearly_revenue_series(
    orders: DataFrame, customer: DataFrame, gap_modulus: int = 3
) -> DataFrame:
    """Sparse per-(segment, priority) yearly revenue — the
    scenario-pathway-shaped input. ``gap_modulus`` drops every k-th
    year to create the gaps the interpolation operators fill (mirrors
    the reference's sparse WEO years: 2020/2025/2030/2040/2050).

    The customer dimension is broadcast; revenue uses the exact
    integer-cents sum so results are identical on any partitioning.

    Measured and rejected in round 12 (git history): ``fan_out_scan``
    on the orders scan (w8 warm 0.77–0.84 → 1.00–1.07 s — year() plus
    one cents sum is too light to repay a 150k-row exchange), and
    broadcast opt-ins on the spine/OLS joins downstream (exchanges
    9 → 6 on flagship, but w8 0.89/0.91 → 1.01/1.07 s: the exchanges
    removed carry the dimension-bounded aggregated series, while each
    BroadcastExchange adds a driver-side build that AQE's runtime
    SMJ→BHJ switch avoids).
    """
    from pyspark.sql import Window

    yearly = (
        orders.join(F.broadcast(customer), orders.o_custkey == customer.c_custkey)
        .withColumn("year", F.year("o_orderdate"))
        .groupBy(
            F.col("c_mktsegment").alias("segment"),
            F.col("o_orderpriority").alias("priority"),
            "year",
        )
        .agg(exact_cents_sum("o_totalprice").alias("value"))
    )
    # knock out every gap_modulus-th year (keep series endpoints);
    # bounds via a window, not a self-join — a bounds join would
    # duplicate the whole scan+agg subtree in the physical plan
    w = Window.partitionBy("segment", "priority")
    return (
        yearly.withColumn("__lo", F.min("year").over(w))
        .withColumn("__hi", F.max("year").over(w))
        .filter(
            (F.col("year") % gap_modulus != 0)
            | (F.col("year") == F.col("__lo"))
            | (F.col("year") == F.col("__hi"))
        )
        .drop("__lo", "__hi")
    )


def flagship_market_share(
    orders: DataFrame, customer: DataFrame
) -> DataFrame:
    """interpolate_yearly + add_market_share_columns (SURVEY.md
    §7.1.2): dense yearly spine per (segment, priority), linear
    interpolation of the gaps, then tmsr/smsp market-share indexing
    with segment as the "sector" grouping."""
    # stage-boundary materialization: the aggregated series is tiny
    # (groups × years) but its lineage scans the fact table — the
    # spine op reuses it twice (bounds agg + join back), so without
    # the cache the physical plan duplicates the scan+join+agg subtree.
    # r13 re-measured the two per-query levers the r12 verdict
    # proposed for the window-chain tail and REJECTED both: an
    # explicit .repartition("segment", "priority") before the cache
    # is optimizer-eliminated (the series' gap window already leaves
    # hash(segment, priority), plan-identical both ways), and an
    # eager localCheckpoint (LogicalRDD) reports UnknownPartitioning
    # under AQE so no consumer exchange elides while the eager
    # materialization adds ~0.5 s per pass (A/B: ckpt 1.21/2.26 vs
    # cache 1.16/1.21 warm-min). The consumer exchanges carry the
    # dimension-bounded aggregated series — small at any scale.
    series = yearly_revenue_series(orders, customer).cache()
    dense = complete_spine(series, ["segment", "priority"], "year", bounds="group")
    interp = na_approx(dense, ["segment", "priority"], "year", "value", na_rm=True)
    shares = add_market_share_columns(
        interp,
        tech_group_cols=["segment", "priority"],
        sector_group_cols=["segment"],
        x_col="year",
        value_col="value",
    )
    return shares.select(
        "segment",
        "priority",
        "year",
        F.round("value", 6).alias("value"),
        F.round("tmsr", 6).alias("tmsr"),
        F.round("smsp", 6).alias("smsp"),
    )
