"""TRISK-v2 final reshape + cross-table alignment (SURVEY.md §3.3
steps 9-10; reference data-raw/run_workflow.R:36-75 and :104-268).

The six canonical tables (outputs_structure.dbml) are denormalized
into the two frames the stress-test model consumes:

- ``assets_data``: abcd production series × company financials, with
  the per-asset capacity-factor normalization (W6,
  run_workflow.R:139-148).
- ``scenarios_data``: scenario pathways × prices × capacity factors
  × carbon tax on the conformed (scenario, geography, business unit,
  year) keys, with the scenario-provider prefix (F8,
  run_workflow.R:215-217).

Alignment (run_workflow.R:36-75) prunes each table to the
scenario×geography combinations present in *all* of them, so the
downstream joins never fabricate NULL blocks.

Scale: scenario/price/capacity tables are model outputs — small
dimensions against the asset-level fact; they broadcast. The only
fact-sized shuffle is the financial join on company_id.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def align_to_common_scenarios(
    scenarios: DataFrame, prices: DataFrame, capacity_factors: DataFrame
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Consistency pruning (J2/J4, run_workflow.R:36-75): keep only
    (scenario, scenario_geography) pairs present in every table. The
    pairs are found once: the three tables' pairs, each tagged with
    its table's bit, are unioned and grouped, and a pair whose bits
    add up to all three is common. The tables are small dimensions
    that are broadcast whole later on, so the grouping runs in one
    task, without a shuffle; its few dozen rows are broadcast to the
    three semi-joins."""
    key = ["scenario", "scenario_geography"]
    tables = (scenarios, prices, capacity_factors)
    tagged = reduce(
        DataFrame.unionByName,
        [t.select(*key, F.lit(1 << i).alias("__in")) for i, t in enumerate(tables)],
    )
    common = (
        tagged.coalesce(1)
        .groupBy(*key)
        .agg(F.bit_or("__in").alias("__in"))
        .filter(F.col("__in") == (1 << len(tables)) - 1)
        .select(*key)
    )
    b = F.broadcast(common)
    return tuple(t.join(b, key, "left_semi") for t in tables)


def assemble_assets_data(abcd: DataFrame, financial: DataFrame) -> DataFrame:
    """assets_data (run_workflow.R:104-160): production series joined
    to company financials; per-asset capacity factor = production /
    max production over the asset's years (W6, :139-148)."""
    w = Window.partitionBy("asset_id")
    with_cf = abcd.withColumn(
        "capacity_factor",
        F.when(
            F.max("plan_tech_prod").over(w) > 0,
            F.col("plan_tech_prod") / F.max("plan_tech_prod").over(w),
        ).otherwise(F.lit(0.0)),
    )
    fin = financial.select(
        "company_id",
        "ald_sector",
        "pd",
        "net_profit_margin",
        "debt_equity_ratio",
        "volatility",
    )
    # fact-sized join: same grain on both sides after the company
    # rollup; AQE broadcast-promotes fin when it is small enough
    return with_cf.join(fin, ["company_id", "ald_sector"], "left")


def assemble_scenarios_data(
    scenarios: DataFrame,
    capacity_factors: DataFrame,
    prices: DataFrame,
    carbon: DataFrame | None = None,
) -> DataFrame:
    """scenarios_data (run_workflow.R:162-268): pathway × capacity
    factor × price on conformed keys; provider prefix from the
    scenario name (F8, :215-217). All right sides are broadcast
    dimensions; the price dedup and the carbon mean each run in one
    task (``coalesce(1)``, as in :func:`align_to_common_scenarios`),
    so the stage plans no shuffle: each broadcast's job computes its
    side."""
    out = scenarios.join(
        F.broadcast(
            capacity_factors.select(
                "scenario",
                "scenario_geography",
                "ald_business_unit",
                "year",
                "capacity_factor",
            )
        ),
        ["scenario", "scenario_geography", "ald_business_unit", "year"],
        "left",
    )
    # price join (run_workflow.R:197-199): the reference drops
    # scenario_geography from the price side, distincts, and
    # INNER-joins on (scenario, ald_sector[, ald_business_unit], year)
    # — technology-granular when the price table carries the business
    # unit (LCOE-adjusted Power prices), sector-grain otherwise; rows
    # without a price are dropped, not NULL-padded.
    price_keys = ["scenario", "ald_sector"]
    p = prices.withColumnsRenamed({"sector": "ald_sector"})
    if "ald_business_unit" in p.columns:
        price_keys.append("ald_business_unit")
    price_keys.append("year")
    p = p.select(*price_keys, "price").coalesce(1).distinct()
    out = out.join(F.broadcast(p), price_keys, "inner")
    if carbon is not None:
        # the carbon table is keyed by (model, scenario, geography,
        # variable, unit, year) — NGFS raw carries 3 models
        # (GCAM/REMIND/MESSAGE), so joining it as-is fans every
        # scenarios row out N×. Reduce to one row per join key (mean
        # across models/variables) and conform the NGFS geography
        # vocabulary ('World') to the scenario tables' 'Global' first.
        # The mean is a double sum, so it depends on the order its
        # rows arrive in, here one task's file order (ROADMAP item 2
        # audits the double aggregations).
        conformed = carbon.withColumn(
            "scenario_geography",
            F.when(
                F.col("scenario_geography") == "World", F.lit("Global")
            ).otherwise(F.col("scenario_geography")),
        )
        reduced = conformed.coalesce(1).groupBy(
            "scenario", "scenario_geography", "year"
        ).agg(F.avg("carbon_tax").alias("carbon_tax"))
        out = out.join(
            F.broadcast(reduced),
            ["scenario", "scenario_geography", "year"],
            "left",
        )
    return out.withColumn(
        "scenario_provider", F.regexp_extract("scenario", "^[^_]+", 0)
    )
