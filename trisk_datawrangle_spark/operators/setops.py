"""Table-composition set operations (SURVEY.md §2.7).

``bind_rows`` unions by *name* and fills missing columns with NULL —
never positional — so the engine only exposes
``unionByName(allowMissingColumns=True)`` (SURVEY.md §7.3.6).
"""

from __future__ import annotations

from collections.abc import Callable, Mapping
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def union_by_name(*dfs: DataFrame) -> DataFrame:
    """``bind_rows`` (U1, ~35 sites, e.g.
    prepare_prewrangled_capacity_factors.R:233-237): union any number
    of frames by column name, absent columns → NULL."""
    return reduce(
        lambda a, b: a.unionByName(b, allowMissingColumns=True), dfs
    )


def clone_recode(
    df: DataFrame,
    predicate: Column,
    mapping: Mapping[str, object] | Callable[[DataFrame], DataFrame],
) -> DataFrame:
    """The clone-with-recode idiom (U2): filter a slice, relabel its
    key columns, union it back — e.g. SDS→NZE scenario cloning
    (prepare_scenario_data.R:911-915), GasCap→OilCap capacity cloning
    (prepare_prewrangled_capacity_factors.R:225-237).

    ``mapping``: either ``{col: new_literal}`` or a function
    DataFrame→DataFrame for arbitrary relabeling.
    """
    clone = df.filter(predicate)
    if callable(mapping):
        clone = mapping(clone)
    else:
        for col, new in mapping.items():
            clone = clone.withColumn(
                col, new if isinstance(new, Column) else F.lit(new)
            )
    return df.unionByName(clone)
