"""Eikon + ownership → ``prewrangled_financial_data_stress_test``
(SURVEY.md §3.2; reference entry ``prepare_financial_data``,
R/prepare_prewrangled_financial_data_stress_test.R:528-607, driver
params at run_prepare_prewrangled_financial_data_stress_test.R:35-41).

Input shape (FIXTURES.md §2-3): isin-level ``eikon`` indicators, a
(company_id, ald_sector) production-company list, and the precomputed
ownership edge list. Output: one row per company with median-imputed
indicators plus ``*_rawdata_ratio`` provenance columns
(README.md:179-186).

Plan: each input is shuffled once, on ``company_id`` (the ownership
edges on their subsidiary id), and nothing is shuffled on it again:
the medians, the parent match and the final per-(company, sector)
rollup are keyed by a superset of ``company_id``. The firm rows and
the companies eikon lacks come out of one left join of the pairs
onto the medians, so eikon is read once. Two steps need other
companies' rows, and both are broadcast: the company-grain firm
table, for the parent lookup, and the three imputation layers, one
``rollup`` aggregate gathered into a one-row map whose keys
``grouping_id()`` tells apart. The gather runs in one task, so it
adds no shuffle to the rollup's. Nothing is cached.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from trisk_datawrangle_spark.functions.aggregates import median
from trisk_datawrangle_spark.operators.joins import closest_parent

INDICATORS = ("pd", "net_profit_margin", "debt_equity_ratio", "volatility")


def company_indicator_medians(
    eikon: DataFrame,
    companies: DataFrame,
    npm_range: tuple[float, float] = (0.0, 1.0),
    indicators: Sequence[str] = INDICATORS,
) -> DataFrame:
    """ISIN-level indicators → (company_id, ald_sector, region)
    medians (A4, ``create_averages_eikon``
    R/prepare_prewrangled_financial_data_stress_test.R:61-108).

    ``companies`` (company_id, ald_sector) attaches sector with the
    reference's intended many-to-many duplication (:10-14 —
    multi-sector companies contribute to every sector's pool). A
    company's rows are the same in each of its sectors, so the
    medians are taken per (company, region) and the sectors joined
    on after, both keyed by ``company_id``. Every pair of
    ``companies`` is kept: ``__pooled`` is true on the rows eikon has
    medians for, and NULL on one row of NULLs for a pair it lacks.
    Implausible net profit margins are nulled before aggregation
    (:464-474, F12 ``between`` gate).
    """
    lo, hi = npm_range
    gated = eikon.repartition("company_id").withColumn(
        "net_profit_margin",
        F.when(
            F.col("net_profit_margin").between(lo, hi),
            F.col("net_profit_margin"),
        ),
    )
    medians = gated.groupBy("company_id", "region").agg(
        *[median(i).alias(i) for i in indicators]
    )
    return (
        companies.select("company_id", "ald_sector")
        .distinct()
        .join(medians.withColumn("__pooled", F.lit(True)), "company_id", "left")
        .select("company_id", "ald_sector", "region", *indicators, "__pooled")
    )


def layered_averages(
    firm_level: DataFrame,
    min_sample_size: int = 50,
    indicators: Sequence[str] = INDICATORS,
) -> DataFrame:
    """The three imputation layers (A4×3, :246-291) from one rollup:
    medians over firms at (sector, region) — kept only when the pool
    has more than ``min_sample_size`` firms — then per sector, then
    one global row. Returned as one row: a map ``__layers`` from
    (``grouping_id()``, sector, region) to the layer's medians, where
    the id is 0 for a (sector, region) layer, 1 for a sector and 3 for
    the global row, so a NULL region cannot pass for a sector. Small
    enough to broadcast at any input scale. The rollup's input is
    company-grain, so it shuffles; its few dozen rows are then
    gathered in one task (``coalesce(1)``), which plans no
    ``SinglePartition`` shuffle: the broadcast's job computes it."""
    rolled = firm_level.rollup("ald_sector", "region").agg(
        F.grouping_id().alias("layer"),
        F.count(F.lit(1)).alias("__n"),
        *[median(i).alias(i) for i in indicators],
    )
    # strict >, matching the reference's sample_sufficient gate
    # (create_averages_eikon, :71: size_sample > minimum_sample_size)
    kept = (F.col("layer") != 0) | (F.col("__n") > min_sample_size)
    entry = F.struct(
        _layer_key(F.col("layer"), F.col("ald_sector"), F.col("region")),
        F.struct(*indicators),
    )
    return rolled.coalesce(1).agg(
        F.map_from_entries(F.collect_list(F.when(kept, entry))).alias("__layers")
    )


def _layer_key(layer: Column, sector: Column, region: Column) -> Column:
    return F.struct(
        layer.cast("long").alias("layer"),
        sector.cast("string").alias("ald_sector"),
        region.cast("string").alias("region"),
    )


def attach_averages(
    firm_level: DataFrame,
    layers: DataFrame,
    indicators: Sequence[str] = INDICATORS,
) -> DataFrame:
    """Granularity cascade (J2+J4+J8, :303-339): each firm gets the
    finest average layer available — (sector, region) when that pool
    passed the sample gate, else sector, else global. One pass: the
    one-row ``layers`` map is broadcast onto every firm and looked up
    finest-first; a NULL region finds no (sector, region) layer."""
    sector, region, none = F.col("ald_sector"), F.col("region"), F.lit(None)
    found = [
        F.when(region.isNotNull(), F.col("__layers")[_layer_key(F.lit(0), sector, region)]),
        F.col("__layers")[_layer_key(F.lit(1), sector, none)],
        F.col("__layers")[_layer_key(F.lit(3), none, none)],
    ]
    # ONE select, not a withColumn-per-indicator loop: each withColumn
    # re-analyzes the whole upstream logical plan, which is quadratic
    # in chain depth
    return firm_level.crossJoin(F.broadcast(layers)).select(
        *firm_level.columns,
        *[F.coalesce(*[f[i] for f in found]).alias(f"avg_{i}") for i in indicators],
    )


def impute_with_provenance(
    with_avgs: DataFrame, indicators: Sequence[str] = INDICATORS
) -> DataFrame:
    """Eikon-else-average fill + provenance tagging (R2+F11+R3,
    :348-441). The reference melts indicators and averages long,
    coalesces, tags the source, and pivots back; columnar Spark does
    the same per indicator as pure projections (no shuffle at all —
    the melt/pivot round-trip exists in R only because dplyr mutate
    can't loop columns)."""
    # one select (see attach_averages: withColumn loops are quadratic
    # in plan depth)
    avg_cols = {f"avg_{i}" for i in indicators}
    passthrough = [
        c
        for c in with_avgs.columns
        if c not in set(indicators) and c not in avg_cols
    ]
    return with_avgs.select(
        *passthrough,
        *[F.coalesce(F.col(i), F.col(f"avg_{i}")).alias(i) for i in indicators],
        *[
            F.when(F.col(i).isNotNull(), 1.0)
            .otherwise(0.0)
            .alias(f"{i}_rawdata_ratio")
            for i in indicators
        ],
    )


def prepare_financial_data(
    eikon: DataFrame,
    companies: DataFrame,
    ownership_tree: DataFrame,
    min_sample_size: int = 50,
    npm_range: tuple[float, float] = (0.0, 1.0),
    indicators: Sequence[str] = INDICATORS,
) -> DataFrame:
    """Full §3.2 chain. Companies present in production but absent
    from Eikon (J4, :227-232) inherit their closest parent's firm-
    level record through the ownership tree (J9, :172-217) before the
    layered imputation cascade runs; companies still uncovered fall
    through to the cascade averages. Output: one row per
    (company_id, ald_sector) with indicators + provenance ratios
    (:586-603); a pair with a NULL company or sector has none."""
    # NOT NULL up front: the joins below infer it on their keys, and
    # one filter everywhere lets every read of `pairs` share one
    # shuffle
    pairs = (
        companies.select("company_id", "ald_sector")
        .filter(F.col("company_id").isNotNull() & F.col("ald_sector").isNotNull())
        .repartition("company_id")
        .distinct()
    )
    firm = company_indicator_medians(eikon, pairs, npm_range, indicators)

    # production companies with no financial record (J4, :227-232)
    # → closest parent (J9). Every firm row takes the tree join: a
    # read of the missing pairs alone would prune eikon to company_id
    # and scan and shuffle it again.
    parents = closest_parent(
        firm,
        ownership_tree.select(
            F.col("subsidiary_company_id"),
            F.col("parent_company_id"),
            "ownership_level",
        ),
        child_key="company_id",
        edge_child_key="subsidiary_company_id",
        tie_cols=["parent_company_id"],
        # one keep-one window PER firm row — keyed by company alone, a
        # multi-sector company kept an arbitrary single sector and the
        # others vanished from the output
        group_cols=["company_id", "ald_sector", "region"],
    )
    # a missing pair takes its parent's pooled firm rows of the same
    # sector; with none it keeps its one row of NULL indicators,
    # outside the pool, which the cascade averages fill with
    # provenance 0 (the reference reaches the same rows through its
    # bind_cols fallback, :319-322). Both reads of the parent rows
    # take the parent's pool flag, so they share one broadcast.
    values = ["region", *indicators]
    own, parent = F.col("__pooled"), F.col("__parent___pooled")
    parent_rows = F.broadcast(
        firm.select(
            F.col("company_id").alias("__parent"),
            F.col("ald_sector").alias("__parent_sector"),
            *[F.col(c).alias(f"__parent_{c}") for c in [*values, "__pooled"]],
        )
    )
    rows = parents.join(
        parent_rows,
        own.isNull()
        & (F.col("parent_company_id") == F.col("__parent"))
        & (F.col("ald_sector") == F.col("__parent_sector")),
        "left",
    ).select(
        "company_id",
        "ald_sector",
        *[
            F.when(own, F.col(c)).when(parent, F.col(f"__parent_{c}")).alias(c)
            for c in values
        ],
        F.coalesce(own, parent).alias("__pooled"),
    )

    layers = layered_averages(
        rows.filter(F.col("__pooled")), min_sample_size, indicators
    )
    filled = impute_with_provenance(
        attach_averages(rows.drop("__pooled"), layers, indicators), indicators
    )

    # company-level rollup (A4, :586-593) + overall provenance ratio
    # (F13, :484-500)
    ratio_cols = [f"{i}_rawdata_ratio" for i in indicators]
    out = filled.groupBy("company_id", "ald_sector").agg(
        *[median(i).alias(i) for i in indicators],
        *[F.avg(rc).alias(rc) for rc in ratio_cols],
    )
    n = len(indicators)
    overall = sum((F.col(rc) for rc in ratio_cols), F.lit(0.0)) / F.lit(float(n))
    return out.withColumn("rawdata_ratio", overall)
