"""Reshape operators: pivot / unpivot / split (SURVEY.md §2.6).

Scale notes: ``melt`` uses Spark's native ``unpivot`` (a projection —
no shuffle); ``melt_year_columns`` an ``inline``, which also keeps
the input's partitioning; ``pivot_wider`` always takes an explicit
``values`` list when known, because an unpinned pivot runs an extra
distinct job and (at 100 TB) an unbounded column fan-out.
"""

from __future__ import annotations

import re
from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def melt(
    df: DataFrame,
    id_cols: Sequence[str],
    value_cols: Sequence[str],
    var_name: str = "name",
    value_name: str = "value",
) -> DataFrame:
    """``tidyr::pivot_longer`` (R1/R2) via native ``unpivot``."""
    return df.unpivot(list(id_cols), list(value_cols), var_name, value_name)


def melt_year_columns(
    df: DataFrame,
    id_cols: Sequence[str],
    pattern: str = r"(\d{4})",
    year_name: str = "year",
    value_name: str = "value",
) -> DataFrame:
    """Melt wide year columns ("2018", "Equity Ownership 2023", …) to
    long ``(value, year:int)`` (R1, prepare_abcd_stress_test_input.R:22-32
    — year extracted from the column name via regex :29).

    The year columns are packed into one array of (value, year)
    structs and ``inline``d: a ``Generate`` keeps the input's
    partitioning, where ``unpivot``'s ``Expand`` drops it and makes the
    next aggregate shuffle again. The array takes the columns' common
    type, as ``unpivot`` does."""
    rx = re.compile(pattern)
    value_cols = [(c, m.group(1)) for c in df.columns if (m := rx.search(c))]
    if not value_cols:
        raise ValueError(f"no columns match {pattern!r}")
    # the year is group 1 of the SAME pattern that selected the column,
    # cast as a string: a caller pattern like r"FY(\d{2})" works too
    years = F.array(*[
        F.struct(
            F.col(f"`{c}`").alias(value_name),
            F.lit(y).cast("int").alias(year_name),
        )
        for c, y in value_cols
    ])
    return df.select(*id_cols, F.inline(years))


def pivot_wider(
    df: DataFrame,
    id_cols: Sequence[str],
    name_col: str,
    value_cols: Sequence[str],
    values: Sequence[str] | None = None,
    agg: str = "first",
) -> DataFrame:
    """``tidyr::pivot_wider`` (R3,
    prepare_prewrangled_capacity_factors.R:450-464;
    multi-``values_from`` at
    prepare_prewrangled_financial_data_stress_test.R:406-412).

    Multi-value: one pivot with one aggregate per value column;
    output columns named ``{value}_{name}`` exactly like tidyr.
    Single value: plain ``{name}`` columns.
    """
    agg_fn = getattr(F, agg)
    if values is None and len(value_cols) > 1:
        # the multi-value rename below needs the pivot levels; derive
        # them deterministically (sorted distinct) instead of silently
        # dropping every pivoted column
        values = sorted(
            r[0] for r in df.select(name_col).distinct().collect()
        )
    gb = df.groupBy(*id_cols)
    piv = gb.pivot(name_col, list(values) if values else None)
    if len(value_cols) == 1:
        return piv.agg(agg_fn(value_cols[0]))
    return piv.agg(
        *[agg_fn(v).alias(v) for v in value_cols]
    ).select(
        *id_cols,
        *[
            F.col(f"{n}_{v}").alias(f"{v}_{n}")
            for n in values
            for v in value_cols
        ],
    )


def separate(
    df: DataFrame, col: str, into: Sequence[str], sep: str = "_"
) -> DataFrame:
    """``tidyr::separate`` (R5, prepare_scenario_data.R:842-843)."""
    parts = F.split(F.col(col), sep)
    out = df
    for i, name in enumerate(into):
        out = out.withColumn(name, parts.getItem(i))
    return out.drop(col)


def one_hot(
    df: DataFrame, col: str, values: Sequence[str], prefix: str | None = None
) -> DataFrame:
    """``fastDummies::dummy_cols`` (R6,
    prepare_prewrangled_financial_data_stress_test.R:144-161): one
    0/1 column per pinned value. Values are pinned (no distinct job,
    stable schema at any scale)."""
    p = prefix if prefix is not None else f"{col}_"
    out = df
    for v in values:
        out = out.withColumn(
            f"{p}{v}", F.when(F.col(col) == v, 1).otherwise(0)
        )
    return out


def fan_out(df: DataFrame, col: str, values: Sequence[str]) -> DataFrame:
    """Duplicate every row across literal values (R8,
    prepare_LCOE_adjusted_price_data.R:225-242 builds constant columns
    then melts them; the Spark idiom is explode over a literal
    array — a projection, no shuffle)."""
    arr = F.array(*[F.lit(v) for v in values])
    return df.withColumn(col, F.explode(arr))
