"""Dense-spine completion operators (SURVEY.md §2.9 T1-T3).

The reference builds yearly spines with
``tidyr::complete(year = full_seq(year, 1), nesting(keys...))``
(prepare_scenario_data.R:14; prepare_prewrangled_capacity_factors.R:113-120;
prepare_ngfs_carbon_price.R:102-110). Spark-first formulation: the
spine is ``distinct keys × explode(sequence(lo, hi))`` — generated
*distributed*, never on the driver. New spine rows carry NULL values,
feeding the interpolation operators.

Scale notes: the distinct-keys aggregation is a map-side-combinable
shuffle on the group keys, and the left join back is on the keys + x.
That join shuffles both sides again: with
``spark.sql.requireAllClusterKeysForCoPartition`` (on by default) a
join needs its children partitioned on all of its keys. A plan
already partitioned on a key subset builds its spine without a join
instead (``plans/abcd.py``). The explode fans out rows *after* the
distinct (cheap), not before.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def complete_spine(
    df: DataFrame,
    group_cols: Sequence[str],
    x_col: str = "year",
    bounds: str = "group",
    lo: int | None = None,
    hi: int | None = None,
    step: int = 1,
) -> DataFrame:
    """Complete ``df`` to a dense ``x_col`` grid per group (T1).

    bounds:
      - ``"group"``  per-group [min, max] — ``full_seq(year, 1)`` with
        ``nesting(...)`` semantics.
      - ``"global"`` dataset-wide [min, max] (one-row aggregate
        broadcast back — stays lazy, no driver collect).
      - ``"fixed"``  explicit ``lo``/``hi`` — the reference's
        ``seq(start_year, end_year)`` call sites, and the T4
        add-years extension when ``hi`` exceeds the data. Either
        side may be None: the missing bound comes from the data via
        a one-row aggregate broadcast back (lazy — no driver
        collect, no empty-input crash).

    Missing combinations appear with NULL in all non-key columns.
    """
    group_cols = list(group_cols)
    if bounds == "group":
        keys = df.groupBy(*group_cols).agg(
            F.min(x_col).alias("__lo"), F.max(x_col).alias("__hi")
        )
    elif bounds == "global":
        agg = df.agg(F.min(x_col).alias("__lo"), F.max(x_col).alias("__hi"))
        keys = df.select(*group_cols).distinct().crossJoin(F.broadcast(agg))
    elif bounds == "fixed":
        if lo is None and hi is None:
            raise ValueError("bounds='fixed' requires lo and/or hi")
        keys = df.select(*group_cols).distinct()
        if lo is None or hi is None:
            agg = df.agg(
                F.min(x_col).alias("__dlo"), F.max(x_col).alias("__dhi")
            )
            keys = (
                keys.crossJoin(F.broadcast(agg))
                .withColumn(
                    "__lo", F.lit(lo) if lo is not None else F.col("__dlo")
                )
                .withColumn(
                    "__hi", F.lit(hi) if hi is not None else F.col("__dhi")
                )
                .drop("__dlo", "__dhi")
            )
        else:
            keys = keys.withColumn("__lo", F.lit(lo)).withColumn(
                "__hi", F.lit(hi)
            )
    else:
        raise ValueError(f"unknown bounds mode {bounds!r}")

    spine = keys.select(
        *group_cols,
        F.explode(F.sequence(F.col("__lo"), F.col("__hi"), F.lit(step))).alias(x_col),
    )
    return spine.join(df, group_cols + [x_col], "left")


def complete_cross(
    df: DataFrame,
    level_cols: Sequence[str],
    x_col: str | None = None,
    lo: int | None = None,
    hi: int | None = None,
) -> DataFrame:
    """Cartesian completion across *independently observed* level sets
    (T2): ``complete(scenario, technology, year = start:max)``
    (prepare_scenario_data.R:948-952). Each level set is tiny after
    distinct → broadcast cross joins, no large shuffle."""
    grid = None
    for c in level_cols:
        levels = df.select(c).distinct()
        grid = levels if grid is None else grid.crossJoin(F.broadcast(levels))
    if x_col is not None:
        if lo is None or hi is None:
            # a half-specified bound is honored, not silently
            # discarded: coalesce the given side with the data bound
            agg = df.agg(F.min(x_col).alias("__dlo"), F.max(x_col).alias("__dhi"))
            grid = grid.crossJoin(F.broadcast(agg))
            lo_c = F.lit(lo) if lo is not None else F.col("__dlo")
            hi_c = F.lit(hi) if hi is not None else F.col("__dhi")
            years = F.explode(F.sequence(lo_c, hi_c)).alias(x_col)
            grid = grid.select(*level_cols, years)
        else:
            grid = grid.select(
                "*", F.explode(F.sequence(F.lit(lo), F.lit(hi))).alias(x_col)
            )
    on = list(level_cols) + ([x_col] if x_col else [])
    return grid.join(df, on, "left")


def missing_combinations(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Report level combinations absent from the data (T3,
    helpers.R:68-84: ``expand`` + ``anti_join``)."""
    grid = None
    for c in cols:
        levels = df.select(c).distinct()
        grid = levels if grid is None else grid.crossJoin(F.broadcast(levels))
    return grid.join(df.select(*cols).distinct(), list(cols), "left_anti")
