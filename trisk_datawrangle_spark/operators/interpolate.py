"""Gap-filling / time-series operators (SURVEY.md §2.5 W7-W9, §2.9).

The engine's flagship custom operator family: ``zoo::na.approx``
parity (linear interpolation between known points), LOCF fill,
per-group OLS extrapolation, spine extension. All are *expression
trees over windows and joins* — not UDFs — so they stay inside
whole-stage codegen and scale with ordinary shuffle machinery.

Window-frame scale note: every window here partitions by the
interpolation groups and orders by the x column. For climate-scenario
shapes, groups are small (tens of rows) and numerous (millions at
100 TB) — exactly the shape Spark's window operator handles well
after one shuffle on the group keys. Later windows on the same keys
reuse that partitioning; a join does not. ``complete_spine`` is an
aggregate and an ``inline`` (``operators/spine.py``) and
``lm_extrapolate`` a window, so a spine→interpolate→extend→index
pipeline partitioned once on a prefix of its group keys shuffles
once.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _w_back(groups: Sequence[str], x_col: str):
    """Frame: partition start .. current row (ordered by x)."""
    return (
        Window.partitionBy(*groups)
        .orderBy(x_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )


def _w_fwd(groups: Sequence[str], x_col: str):
    """Frame: current row .. partition end (ordered by x)."""
    return (
        Window.partitionBy(*groups)
        .orderBy(x_col)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )


def na_approx(
    df: DataFrame,
    group_cols: Sequence[str],
    x_col: str = "year",
    value_col: str = "value",
    na_rm: bool = True,
    out_col: str | None = None,
) -> DataFrame:
    """``zoo::na.approx(value, x)`` parity per group (W8; reference
    sites: prepare_scenario_data.R:11-20,
    prepare_prewrangled_capacity_factors.R:129-134,
    prepare_price_data_long.R:216-222, prepare_ngfs_carbon_price.R:115-165).

    Interior NULLs are linearly interpolated against ``x_col`` (the
    reference always passes the year as the x coordinate — index-based
    interpolation only coincides on dense spines, SURVEY.md §7.3.1).
    Leading/trailing NULLs: kept as NULL when ``na_rm=False``
    (``zoo`` ``na.rm=FALSE``), rows dropped when ``na_rm=True``
    (``zoo`` default).
    """
    out = out_col or value_col
    groups = list(group_cols)
    v = F.col(value_col)
    known_x = F.when(v.isNotNull(), F.col(x_col))

    prev_v = F.last(value_col, ignorenulls=True).over(_w_back(groups, x_col))
    prev_x = F.last(known_x, ignorenulls=True).over(_w_back(groups, x_col))
    next_v = F.first(value_col, ignorenulls=True).over(_w_fwd(groups, x_col))
    next_x = F.first(known_x, ignorenulls=True).over(_w_fwd(groups, x_col))

    interp = prev_v + (next_v - prev_v) * (F.col(x_col) - prev_x) / (next_x - prev_x)
    filled = F.when(v.isNotNull(), v).when(
        prev_v.isNotNull() & next_v.isNotNull(), interp
    )
    res = df.withColumn(out, filled)
    if na_rm:
        res = res.filter(F.col(out).isNotNull())
    return res


def fill_locf(
    df: DataFrame,
    group_cols: Sequence[str],
    x_col: str = "year",
    value_col: str = "value",
    direction: str = "down",
    out_col: str | None = None,
) -> DataFrame:
    """``tidyr::fill(.direction=)`` (W7; prepare_price_data_long.R:159-169,
    prepare_abcd_stress_test_input.R:287-288). ``down`` = last
    observation carried forward; ``up`` = next carried backward;
    ``downup``/``updown`` chain both."""
    out = out_col or value_col
    groups = list(group_cols)
    col = F.col(value_col)
    down = F.last(value_col, ignorenulls=True).over(_w_back(groups, x_col))
    up = F.first(value_col, ignorenulls=True).over(_w_fwd(groups, x_col))
    if direction == "down":
        filled = down
    elif direction == "up":
        filled = up
    elif direction == "downup":
        filled = F.coalesce(down, up)
    elif direction == "updown":
        filled = F.coalesce(up, down)
    else:
        raise ValueError(f"unknown direction {direction!r}")
    return df.withColumn(out, F.coalesce(col, filled))


def interpolate_yearly(
    df: DataFrame,
    group_cols: Sequence[str],
    x_col: str = "year",
    value_col: str = "value",
) -> DataFrame:
    """The reference's ``interpolate_yearly`` (T7,
    prepare_scenario_data.R:11-20): complete the per-group year spine,
    then na.approx with dropped edges. One reusable op because it is
    the first step of every scenario pipeline (SURVEY.md §3.3)."""
    from trisk_datawrangle_spark.operators.spine import complete_spine

    dense = complete_spine(df, group_cols, x_col, bounds="group")
    return na_approx(dense, group_cols, x_col, value_col, na_rm=True)


def zero_after_last(
    df: DataFrame,
    group_cols: Sequence[str],
    x_col: str = "year",
    value_col: str = "value",
) -> DataFrame:
    """Trailing-NULL → 0 after the last observation (T5,
    prepare_scenario_data.R:980-995): ``last_value_year =
    max(year[!is.na(value)])``; beyond it, value := 0."""
    groups = list(group_cols)
    w = Window.partitionBy(*groups)
    last_x = F.max(
        F.when(F.col(value_col).isNotNull(), F.col(x_col))
    ).over(w)
    return df.withColumn(
        value_col,
        F.when(
            F.col(value_col).isNull() & (F.col(x_col) > last_x), F.lit(0.0)
        ).otherwise(F.col(value_col)),
    )


def backfill_from_year(
    df: DataFrame,
    group_cols: Sequence[str],
    x_col: str,
    value_col: str,
    source_x: int,
) -> DataFrame:
    """Leading-NULL backfill from a specific x's value (T6,
    prepare_scenario_data.R:1004-1013: DRI-BOF NAs ← the scenario's
    2026 value). Implemented as a per-group single-row lookup joined
    back (broadcast-sized after the filter)."""
    groups = list(group_cols)
    # reduce to ONE row per group: duplicate observations at source_x
    # would otherwise fan out every row of the group through the join
    lookup = (
        df.filter((F.col(x_col) == source_x) & F.col(value_col).isNotNull())
        .groupBy(*groups)
        .agg(F.min(value_col).alias("__src"))
    )
    return (
        df.join(lookup, groups, "left")
        .withColumn(value_col, F.coalesce(F.col(value_col), F.col("__src")))
        .drop("__src")
    )


def lm_extrapolate(
    df: DataFrame,
    group_cols: Sequence[str],
    x_col: str = "year",
    y_col: str = "value",
    fit_lo: int | None = None,
    fit_hi: int | None = None,
    out_col: str | None = None,
    exact_scale: int | None = None,
) -> DataFrame:
    """Per-group OLS fill (W9, prepare_price_data_long.R:725-733:
    ``lm(price ~ year)`` on a trailing window, predict the NULLs).

    Spark-first: the per-group regression is a *closed form* over
    plain aggregates — slope = covar_pop/var_pop, intercept =
    ȳ − slope·x̄ — taken as aggregates over an unordered window on the
    groups, over the rows with a known ``y_col`` (and ``x_col`` in
    [``fit_lo``, ``fit_hi``]). No join, so a plan partitioned on the
    groups (or a subset) computes the fit without an exchange and
    without a second pass over its input; the reference's R loop
    (price_data_long.R:728-733 iterates rows!) becomes one window. A
    group with a NULL key gets no prediction, as an equi-join of the
    coefficients would give it none.

    ``exact_scale``: for fixed-point y (money with ``exact_scale``
    decimals) and integer x, compute the closed form from *integer*
    sums (n, Σx, Σx², Σy, Σxy as BIGINT) — bit-identical on any
    partitioning / cluster size / engine. The default float
    ``covar_pop`` path is order-dependent in the last ulps, which
    flips values sitting on a rounding boundary between runs.
    """
    out = out_col or y_col
    groups = list(group_cols)
    fit = F.col(y_col).isNotNull()
    if fit_lo is not None:
        fit = fit & (F.col(x_col) >= fit_lo)
    if fit_hi is not None:
        fit = fit & (F.col(x_col) <= fit_hi)
    keyed = F.lit(True)
    for g in groups:
        keyed = keyed & F.col(g).isNotNull()
    w = Window.partitionBy(*groups)
    if exact_scale is not None:
        # Exact-rational prediction. With fixed-point y the closed
        # form pred = ((sy·B − A·sx) + A·n·x) / (B·n), A = n·sxy−sx·sy,
        # B = n·sxx−sx², is a small-denominator rational that lands
        # EXACTLY on half-ulp rounding boundaries (e.g. ….435) — any
        # float evaluation then decides the tie by noise. So the
        # quotient is rounded in integer arithmetic (decimal128) with
        # explicit half-away-from-zero, bit-identical on any engine,
        # partitioning or FMA behavior.
        # assembled as few parsed SQL strings (r12): the same
        # Catalyst expressions built as Column-object chains cost one
        # py4j round-trip per operator (~0.6-2 ms each on this box;
        # ~0.2 s of pure driver latency per call at this branch's
        # ~100 operators), while each selectExpr/expr string is one
        # round-trip to the identical resolved plan — the
        # _signatures_from_shingles lesson applied here.
        mult = 10 ** exact_scale
        over = "OVER (PARTITION BY " + ", ".join(f"`{g}`" for g in groups) + ")"
        dec = "decimal(38,0)"
        fitted = df.select(
            "*",
            F.when(fit, F.col(x_col).cast("long")).alias("__xi"),
            F.when(fit, F.round(F.col(y_col) * mult).cast("long")).alias("__yi"),
            F.when(fit, F.lit(1)).alias("__in"),
        ).selectExpr(
            "*",
            f"cast(count(__in) {over} as {dec}) AS __n",
            f"cast(sum(__xi) {over} as {dec}) AS __sx",
            f"cast(sum(__xi * __xi) {over} as {dec}) AS __sxx",
            f"cast(sum(__yi) {over} as {dec}) AS __sy",
            f"cast(sum(__xi * __yi) {over} as {dec}) AS __sxy",
        ).selectExpr(
            "*",
            "__n * __sxy - __sx * __sy AS __A",
            "__n * __sxx - __sx * __sx AS __B",
        ).selectExpr(
            "*",
            f"__sy * __B - __A * __sx + __A * __n * cast(`{x_col}` as {dec})"
            " AS __num",
            "__B * __n AS __den",
        )
        scaled_units = F.expr(
            "CASE WHEN __den IS NULL OR __den = 0 THEN NULL "
            "WHEN __num >= 0 THEN (2 * __num + __den) div (2 * __den) "
            "ELSE -((2 * (-__num) + __den) div (2 * __den)) END"
        )
        pred = scaled_units.cast("double") / F.lit(float(mult))
        return fitted.withColumn(
            out, F.coalesce(F.col(y_col), F.when(keyed, pred))
        ).select(*df.columns, *([out] if out not in df.columns else []))
    x = F.when(fit, F.col(x_col).cast("double"))
    y = F.when(fit, F.col(y_col))
    slope = F.covar_pop(x, y).over(w) / F.var_pop(x).over(w)
    icept = F.avg(y).over(w) - slope * F.avg(x).over(w)
    pred = icept + slope * F.col(x_col).cast("double")
    return df.withColumn(out, F.coalesce(F.col(y_col), F.when(keyed, pred)))


def fit_window_extension(
    df: DataFrame,
    group_cols: Sequence[str],
    x_col: str,
    value_col: str,
    fit_lo: int,
    fit_hi: int,
) -> DataFrame:
    """Fill NULL ``value_col`` rows from a per-group OLS line fitted
    over rows with ``x`` in [``fit_lo``, ``fit_hi``] (the reference's
    "linear extrapolation using the last 20 years of observation"
    loops, prepare_price_data_long.R:735-744 and
    prepare_LCOE_adjusted_price_data.R:199-207 — one grouped
    aggregate + broadcast join here, never a per-combination loop).

    The normal equations are computed from plain sums
    (n·Σxy − ΣxΣy over n·Σx² − (Σx)²) in a fixed expression sequence.
    ``__sy`` and ``__sxy`` are double sums taken in the order rows
    arrive, so, like any double sum, the fit can differ in the last
    bits between runs that partition the rows differently."""
    groups = list(group_cols)
    fit = (
        df.filter(
            F.col(x_col).between(fit_lo, fit_hi)
            & F.col(value_col).isNotNull()
        )
        .groupBy(*groups)
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum(F.col(x_col).cast("double")).alias("__sx"),
            F.sum(value_col).alias("__sy"),
            F.sum(F.col(x_col) * F.col(value_col)).alias("__sxy"),
            F.sum((F.col(x_col) * F.col(x_col)).cast("double")).alias(
                "__sxx"
            ),
        )
        .withColumn(
            "__slope",
            (F.col("__n") * F.col("__sxy") - F.col("__sx") * F.col("__sy"))
            / (F.col("__n") * F.col("__sxx") - F.col("__sx") * F.col("__sx")),
        )
        .withColumn(
            "__icept",
            (F.col("__sy") - F.col("__slope") * F.col("__sx"))
            / F.col("__n"),
        )
        .select(*groups, "__slope", "__icept")
    )
    return (
        df.join(F.broadcast(fit), groups, "left")
        .withColumn(
            value_col,
            F.coalesce(
                F.col(value_col),
                F.col("__slope") * F.col(x_col) + F.col("__icept"),
            ),
        )
        .drop("__slope", "__icept")
    )
