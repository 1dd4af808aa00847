"""Dense-spine completion operators (SURVEY.md §2.9 T1-T3).

The reference builds yearly spines with
``tidyr::complete(year = full_seq(year, 1), nesting(keys...))``
(prepare_scenario_data.R:14; prepare_prewrangled_capacity_factors.R:113-120;
prepare_ngfs_carbon_price.R:102-110). Spark-first formulation: each
group's grid is ``sequence(lo, hi)`` — generated *distributed*, never
on the driver. New spine rows carry NULL values, feeding the
interpolation operators.

Scale notes: one ``groupBy`` on the group keys gathers each group's
rows (``collect_list`` of structs) and its x bounds; one ``inline``
then emits the rows that lie on the grid plus an all-NULL row for
every grid point the group lacks. No join: with
``spark.sql.requireAllClusterKeysForCoPartition`` (on by default) a
join on the keys + x would shuffle both sides again, while the
aggregate is satisfied by any partitioning on a subset of the group
keys, so a plan already partitioned on a key prefix completes its
spine without an exchange, and the ``inline`` keeps that
partitioning for the windows after it.
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

    Missing combinations appear with NULL in all non-key columns. The
    result is the left join of the spine onto ``df`` on the keys +
    ``x_col``: duplicate (key, x) rows all survive, rows with a NULL
    or off-grid x drop out, and a group with a NULL key keeps only its
    (all-NULL) spine rows. Columns: the keys, ``x_col``, then the
    others in ``df`` order.
    """
    group_cols = list(group_cols)
    rest = [c for c in df.columns if c not in group_cols and c != x_col]
    gathered = df.groupBy(*group_cols).agg(
        F.collect_list(
            F.struct(*[F.col(f"`{c}`") for c in [x_col, *rest]])
        ).alias("__rows"),
        F.min(x_col).alias("__lo"),
        F.max(x_col).alias("__hi"),
    )
    if bounds == "fixed" and lo is None and hi is None:
        raise ValueError("bounds='fixed' requires lo and/or hi")
    if bounds not in ("group", "global", "fixed"):
        raise ValueError(f"unknown bounds mode {bounds!r}")
    lo_c, hi_c = F.col("__lo"), F.col("__hi")
    if bounds != "group":
        if bounds == "global" or lo is None or hi is None:
            # the data-wide bound: a one-row aggregate broadcast back
            # (lazy: no driver collect, no empty-input crash)
            agg = df.agg(F.min(x_col).alias("__dlo"), F.max(x_col).alias("__dhi"))
            gathered = gathered.crossJoin(F.broadcast(agg))
            lo_c, hi_c = F.col("__dlo"), F.col("__dhi")
        if bounds == "fixed":
            lo_c = F.lit(lo) if lo is not None else lo_c
            hi_c = F.lit(hi) if hi is not None else hi_c

    fields = {f.name: f.dataType for f in df.schema.fields}
    x_type = fields[x_col].simpleString()
    keyed = F.lit(True)
    for c in group_cols:
        keyed = keyed & F.col(c).isNotNull()
    # a row lies on the grid when sequence(lo, hi, step) holds its x
    on_grid = F.filter(
        "__rows",
        lambda r: keyed
        & r[x_col].between(F.least(lo_c, hi_c), F.greatest(lo_c, hi_c))
        & ((r[x_col] - lo_c) % step == 0),
    )
    missing = F.transform(
        F.array_except(
            F.sequence(lo_c, hi_c, F.lit(step)).cast(f"array<{x_type}>"),
            F.transform(on_grid, lambda r: r[x_col]),
        ),
        lambda x: F.struct(
            x.alias(x_col),
            *[F.lit(None).cast(fields[c]).alias(c) for c in rest],
        ),
    )
    return gathered.select(*group_cols, F.inline(F.concat(on_grid, missing)))


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
