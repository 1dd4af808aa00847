"""Table-composition set operations (SURVEY.md §2.7).

``bind_rows`` unions by *name* and fills missing columns with NULL —
never positional — so the engine only exposes
``unionByName(allowMissingColumns=True)`` (SURVEY.md §7.3.6).
"""

from __future__ import annotations

from collections.abc import Mapping
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
    df: DataFrame, predicate: Column, mapping: Mapping[str, object]
) -> DataFrame:
    """The clone-with-recode idiom (U2): every row, plus a copy of the
    rows where ``predicate`` holds with ``mapping``'s columns set to
    new values (literals or Columns) — e.g. SDS→NZE scenario cloning
    (prepare_scenario_data.R:911-915), GasCap→OilCap capacity cloning
    (prepare_prewrangled_capacity_factors.R:225-237).

    One pass: each row ``explode``s into itself and, where the
    predicate holds, its recoded copy — the reference's filter + union
    would run ``df`` twice."""
    unknown = set(mapping) - set(df.columns)
    if unknown:
        raise ValueError(f"clone_recode: no columns {sorted(unknown)}")
    copies = F.when(predicate, F.array(F.lit(False), F.lit(True))).otherwise(
        F.array(F.lit(False))
    )
    clone = F.col("__clone")

    def recoded(c: str) -> Column:
        new = mapping[c]
        new = new if isinstance(new, Column) else F.lit(new)
        return F.when(clone, new).otherwise(F.col(f"`{c}`")).alias(c)

    return df.select("*", F.explode(copies).alias("__clone")).select(*[
        recoded(c) if c in mapping else F.col(f"`{c}`") for c in df.columns
    ])
