"""Data-quality / assertion operators (SURVEY.md §2.10).

The reference runs ``assertr::verify`` / ``stopifnot`` checks inline;
here each check is either a *gate* (a Column condition that a bad row
satisfies), an *assertion* (raises ``DataQualityError``) or a *report*
(returns a small DataFrame for logging).

The workflow's gates are observed during the write that publishes
their table (``sources.readers.write_output``): they cost no job of
their own, and a table that fails one is never published. The eager
asserts below run the same gate as a count job of their own and stay
for ad-hoc use. FK references are checked many at once by
:func:`fk_audit`, one job for any number of them.
"""

from __future__ import annotations

import operator
import typing
from collections.abc import Sequence
from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, StringType

from trisk_datawrangle_spark.functions.scalars import any_null


class DataQualityError(AssertionError):
    pass


def require_columns(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """Schema assert (Q1, prepare_scenario_data.R:174-182)."""
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise DataQualityError(f"missing columns: {missing}")
    return df


def assert_row_count(df: DataFrame, expected: int) -> DataFrame:
    """Join-safety row-count invariant (Q2,
    prepare_prewrangled_financial_data_stress_test.R:211-214)."""
    n = df.count()
    if n != expected:
        raise DataQualityError(f"row count {n} != expected {expected}")
    return df


def null_rows(cols: Sequence[str]) -> Column:
    """Gate: a row with a NULL in any of ``cols`` (Q3)."""
    return any_null(list(cols))


def out_of_bounds(col: str, lo: float | None = None, hi: float | None = None) -> Column:
    """Gate: a row whose ``col`` lies outside [lo, hi] (Q4)."""
    cond = F.lit(False)
    if lo is not None:
        cond = cond | (F.col(col) < lo)
    if hi is not None:
        cond = cond | (F.col(col) > hi)
    return cond


def _assert_none(df: DataFrame, bad: Column, what: str) -> DataFrame:
    n = df.filter(bad).count()
    if n:
        raise DataQualityError(f"{n} rows {what}")
    return df


def assert_no_null(df: DataFrame, cols: Sequence[str] | None = None) -> DataFrame:
    """No-NULL assert (Q3,
    prepare_prewrangled_financial_data_stress_test.R:600-603)."""
    cols = list(cols) if cols else df.columns
    return _assert_none(df, null_rows(cols), f"contain NULL in {cols}")


def assert_bounds(
    df: DataFrame, col: str, lo: float | None = None, hi: float | None = None
) -> DataFrame:
    """Bounds assert (Q4, capacity_factor ∈ [0,1] at
    prepare_prewrangled_capacity_factors.R:182-193)."""
    return _assert_none(
        df, out_of_bounds(col, lo, hi), f"of {col} outside [{lo}, {hi}]"
    )


def missings_report(df: DataFrame, cols: Sequence[str] | None = None) -> DataFrame:
    """Per-column NULL counts (Q5, helpers.R:11-25) — one aggregate
    job, no per-column scans."""
    cols = list(cols) if cols else df.columns
    return df.select(
        *[
            F.count(F.when(F.col(c).isNull(), 1)).alias(c)
            for c in cols
        ]
    )


def duplicates_report(df: DataFrame, key_cols: Sequence[str]) -> DataFrame:
    """Key groups with n()>1 (Q6, helpers.R:36-52)."""
    return (
        df.groupBy(*key_cols)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
    )


def row_diff_report(
    before: DataFrame, after: DataFrame, cause: str = ""
) -> DataFrame:
    """Row-count delta between two stages of a pipeline (Q7,
    helpers.R:97-104). The reference prints a colored message; here
    it is a one-row report frame (initial_rows, final_rows, diff,
    status, cause) — composable, and the two counts run as two
    count-only jobs (column-pruned scans), never a collect of data."""
    b = before.agg(F.count(F.lit(1)).alias("initial_rows"))
    a = after.agg(F.count(F.lit(1)).alias("final_rows"))
    diff = F.col("initial_rows") - F.col("final_rows")
    return (
        b.crossJoin(a)
        .withColumn("diff", diff)
        .withColumn(
            "status",
            F.when(F.col("diff") > 0, F.lit("removed"))
            .when(F.col("diff") < 0, F.lit("added"))
            .otherwise(F.lit("unchanged")),
        )
        .withColumn("cause", F.lit(cause))
    )


def incomplete_groups(
    df: DataFrame,
    group_cols: Sequence[str],
    lookup: DataFrame,
    lookup_group_col: str,
    lookup_member_col: str,
    member_col: str | None = None,
) -> DataFrame:
    """Groups missing any required member (Q8, helpers.R:110-154):
    per group, right-join the (group-kind → required members) lookup
    and report groups where any member is absent. The reference loops
    ``split + map_dfr`` per (scenario, geography); here it is one
    broadcast join + one aggregate over all groups at once."""
    member = member_col or lookup_member_col
    present = df.select(*group_cols, member).distinct()
    # expected member set per group: groups × their kind's members
    kinds = df.select(*group_cols, lookup_group_col).distinct()
    expected = kinds.join(F.broadcast(lookup), lookup_group_col, "inner")
    probe = expected.join(
        present.withColumnRenamed(member, lookup_member_col),
        list(group_cols) + [lookup_member_col],
        "left_anti",
    )
    return probe.select(*group_cols).distinct()


def _fk_pairs(keys) -> list[tuple[str, str]]:
    """Normalize ``keys`` to (child_col, parent_col) pairs: accepts a
    dict {child: parent}, a list of such pairs, or a list of shared
    column names."""
    if isinstance(keys, dict):
        return list(keys.items())
    out = []
    for k in keys:
        out.append((k, k) if isinstance(k, str) else (k[0], k[1]))
    return out


def _key_type(spark: SparkSession, child: DataType, parent: DataType) -> DataType:
    """The type an equi-join of a ``child`` key with a ``parent`` key
    compares in: the common type, except that without ANSI a string
    is cast to the other side's type."""
    if child == parent:
        return child
    ansi = spark.conf.get("spark.sql.ansi.enabled", "true").lower() == "true"
    if not ansi and isinstance(child, StringType) != isinstance(parent, StringType):
        return parent if isinstance(child, StringType) else child
    pair = (F.lit(None).cast(child), F.lit(None).cast(parent))
    return spark.range(0).select(F.coalesce(*pair)).schema[0].dataType


def _tagged_orphans(refs) -> tuple[DataFrame, list[list[tuple[str, str]]]]:
    """The one anti-join behind :func:`fk_orphans` and :func:`fk_audit`.

    ``refs`` is a list of (child, parent, keys). Both sides of a
    reference are cast to the type the per-reference join compares
    in, and each key tuple is tagged with its reference's index.
    A key of position ``i`` and type ``T`` goes to the slot column
    ``__k<j>`` of (i, T); the slots a reference does not use are NULL
    on both sides and match null-safely. Each distinct child and
    parent DataFrame is scanned once: one projection emits the tagged
    tuples of every reference it takes part in.

    Returns the orphans (``__ref``, the slots by key position,
    ``orphan_rows``) and, per reference, its (slot, child column)
    pairs in key order."""
    spark = refs[0][0].sparkSession
    slot_of: dict[tuple[int, str], tuple[str, DataType]] = {}
    per_ref = []
    for child, parent, keys in refs:
        used = []
        for i, (c, p) in enumerate(_fk_pairs(keys)):
            t = _key_type(spark, child.schema[c].dataType, parent.schema[p].dataType)
            name, _ = slot_of.setdefault(
                (i, t.simpleString()), (f"__k{len(slot_of)}", t)
            )
            used.append((name, c, p, t))
        per_ref.append(used)
    # position-major, so sorting by the slots sorts each reference by
    # its own key order (its other slots are constant NULL)
    slots = [slot_of[k] for k in sorted(slot_of, key=lambda k: k[0])]

    def side(k: int, prefix: str) -> DataFrame:
        tags: list[tuple[DataFrame, list[Column]]] = []
        for r, (ref, used) in enumerate(zip(refs, per_ref)):
            df = ref[k]
            cols = {name: F.col((c, p)[k]).cast(t) for name, c, p, t in used}
            tag = F.struct(
                F.lit(r).alias("__ref"),
                *[cols.get(n, F.lit(None).cast(t)).alias(n) for n, t in slots],
            )
            # SQL MATCH SIMPLE: a child tuple with a NULL references
            # nothing, and a parent one matches nothing
            not_null = reduce(
                operator.and_, [F.col((c, p)[k]).isNotNull() for _, c, p, _ in used]
            )
            same = [ts for d, ts in tags if d is df]
            if same:
                same[0].append(F.when(not_null, tag))
            else:
                tags.append((df, [F.when(not_null, tag)]))
        names = ["__ref", *[n for n, _ in slots]]
        frames = [
            df.select(F.explode(F.array(*ts)).alias("__t"))
            .where(F.col("__t").isNotNull())
            .select(*[F.col(f"__t.{n}").alias(prefix + n) for n in names])
            for df, ts in tags
        ]
        return reduce(DataFrame.union, frames)

    # the child side is pre-aggregated to its distinct tuples, so the
    # shuffle carries key-cardinality rows
    child_keys = side(0, "").groupBy("__ref", *[n for n, _ in slots]).agg(
        F.count(F.lit(1)).alias("orphan_rows")
    )
    parent_keys = side(1, "p").distinct()
    on = [F.col("__ref") == F.col("p__ref")] + [
        F.col(n).eqNullSafe(F.col("p" + n)) for n, _ in slots
    ]
    orphans = child_keys.join(parent_keys, on, "left_anti")
    return orphans, [[(name, c) for name, c, *_ in used] for used in per_ref]


def fk_orphans(child: DataFrame, parent: DataFrame, keys) -> DataFrame:
    """Referential-integrity audit (Q9): distinct child FK tuples
    with no matching parent row, plus how many child rows carry each
    (the reference declares these FKs between its six canonical
    outputs in data-raw/outputs_structure.dbml:69-107 but never
    checks them; a publisher of the quintet wants the audit the dbml
    promises).

    SQL MATCH SIMPLE semantics: a child tuple containing any NULL is
    exempt (it references nothing). Scale shape: the child side is
    pre-aggregated to its DISTINCT key tuples (map-side combine — the
    shuffle carries key-cardinality rows, never the fact table), the
    parent side is column-pruned to its distinct keys, and the
    left-anti join is the only cross-table exchange; AQE broadcasts
    the parent side when it is dimension-sized. Many references at
    once: :func:`fk_audit`.

    Output: one row per orphan key tuple — the child columns plus
    ``orphan_rows`` (child rows carrying that tuple).
    """
    orphans, (used,) = _tagged_orphans([(child, parent, keys)])
    return orphans.select(
        *[F.col(n).cast(child.schema[c].dataType).alias(c) for n, c in used],
        "orphan_rows",
    )


class FkAudit(typing.NamedTuple):
    """One reference's result from :func:`fk_audit`."""

    pairs: list[tuple[str, str]]
    orphan_keys: int = 0
    orphan_rows: int = 0
    #: the worst orphan tuples, most child rows first: key values, then
    #: the rows carrying them
    top: tuple = ()

    def check(self) -> None:
        """Raise :class:`DataQualityError` naming the worst orphan
        tuples when any child key has no parent."""
        if self.orphan_keys:
            raise DataQualityError(
                f"FK violation on {self.pairs}: orphan keys (top by rows) = "
                + ", ".join(str(t) for t in self.top)
            )


def fk_audit(refs, top: int = 5) -> list[FkAudit]:
    """:func:`fk_orphans` for many references in one job: ``refs`` is
    a list of (child, parent, keys). Returns, per reference in order,
    its orphan-key count, orphan-row count and the ``top`` (>= 1)
    orphan tuples by child rows, ties by key."""
    if not refs:
        return []
    orphans, used = _tagged_orphans(refs)
    slots = [c for c in orphans.columns if c.startswith("__k")]
    by_ref = Window.partitionBy("__ref")
    rank = F.row_number().over(
        by_ref.orderBy(F.col("orphan_rows").desc(), *slots)
    )
    ranked = orphans.select(
        "*",
        rank.alias("__rank"),
        F.count(F.lit(1)).over(by_ref).alias("__keys"),
        F.sum("orphan_rows").over(by_ref).alias("__rows"),
    ).where(F.col("__rank") <= top)
    out = [FkAudit(_fk_pairs(keys)) for _, _, keys in refs]
    for r in sorted(ranked.collect(), key=lambda r: (r["__ref"], r["__rank"])):
        i = r["__ref"]
        worst = (*[r[n] for n, _ in used[i]], r["orphan_rows"])
        out[i] = out[i]._replace(
            orphan_keys=r["__keys"], orphan_rows=r["__rows"],
            top=(*out[i].top, worst),
        )
    return out


def assert_fk(child: DataFrame, parent: DataFrame, keys) -> DataFrame:
    """FK assert: raises :class:`DataQualityError` naming the worst
    orphan tuples when any child key has no parent; returns ``child``
    unchanged otherwise (chainable like the other Q asserts)."""
    fk_audit([(child, parent, keys)])[0].check()
    return child


def psi_drift(
    df_a: DataFrame,
    df_b: DataFrame,
    value_col: str,
    edges: Sequence[float],
    smoothing: float = 1.0,
) -> DataFrame:
    """Population Stability Index between two table versions over one
    numeric column — THE standard production drift gate (PSI < 0.1
    stable, 0.1-0.25 drifting, > 0.25 shifted). Binning uses CALLER-
    SUPPLIED literal edges (freeze them from the reference period's
    quantiles) so the measure is reproducible across runs and
    engines; bin 0 is the underflow bin, bin len(edges) the overflow
    bin, NULL/NaN rows are excluded from both sides.

    ``psi = Σ_bins (p_i − q_i)·ln(p_i/q_i)`` with add-``smoothing``
    counts so an empty bin never produces ±inf.

    Scale shape: one bins-sized aggregate per side (map-side
    combinable, shuffle carries ≤ len(edges)+1 rows each), a
    broadcast-sized join on bin id. Returns one row per bin
    (n_a, n_b, contribution) plus the total under ``psi`` on every
    row — consumers gate on ``first(psi)``."""
    n_bins = len(edges) + 1

    def bucket(df: DataFrame, name: str) -> DataFrame:
        v = F.col(value_col).cast("double")
        b = F.lit(0)
        for e in edges:
            b = b + F.when(v >= F.lit(float(e)), 1).otherwise(0)
        return (
            df.filter(v.isNotNull() & ~F.isnan(v))
            .select(b.alias("bin"))
            .groupBy("bin")
            .agg(F.count(F.lit(1)).alias(name))
        )

    bins = df_a.sparkSession.range(0, n_bins).select(
        F.col("id").cast("int").alias("bin")
    )
    counts = (
        bins.join(F.broadcast(bucket(df_a, "n_a")), "bin", "left")
        .join(F.broadcast(bucket(df_b, "n_b")), "bin", "left")
        .select(
            "bin",
            F.coalesce("n_a", F.lit(0)).alias("n_a"),
            F.coalesce("n_b", F.lit(0)).alias("n_b"),
        )
    )
    tot = counts.agg(
        F.sum("n_a").alias("ta"), F.sum("n_b").alias("tb")
    )
    s = float(smoothing)
    p = (F.col("n_a") + s) / (F.col("ta") + s * n_bins)
    q = (F.col("n_b") + s) / (F.col("tb") + s * n_bins)
    contrib = (p - q) * F.log(p / q)
    per_bin = counts.crossJoin(F.broadcast(tot)).select(
        "bin", "n_a", "n_b", contrib.alias("contribution")
    )
    total = per_bin.agg(F.sum("contribution").alias("psi"))
    return per_bin.crossJoin(F.broadcast(total)).select(
        "bin",
        "n_a",
        "n_b",
        F.round("contribution", 9).alias("contribution"),
        F.round("psi", 9).alias("psi"),
    )


def schema_drift_report(df_a: DataFrame, df_b: DataFrame) -> DataFrame:
    """Column-level drift between two table versions: added / dropped
    / retyped columns plus per-column null-rate on each side — the
    metadata sibling of :func:`psi_drift` (run this first; PSI the
    surviving numeric columns). One aggregate row per side (null
    counts are map-side combinable); the report itself is
    columns-sized, built on the driver."""
    spark = df_a.sparkSession
    ta = {f.name: f.dataType.simpleString() for f in df_a.schema.fields}
    tb = {f.name: f.dataType.simpleString() for f in df_b.schema.fields}

    def null_rates(df: DataFrame, names) -> dict:
        if not names:
            return {}
        row = df.agg(
            F.count(F.lit(1)).alias("__n"),
            *[
                F.sum(
                    F.when(F.col(c).isNull(), 1).otherwise(0)
                ).alias(c)
                for c in names
            ],
        ).first()
        n = row["__n"] or 0
        return {
            c: (round(row[c] / n, 6) if n else None) for c in names
        }

    ra = null_rates(df_a, list(ta))
    rb = null_rates(df_b, list(tb))
    rows = []
    for c in sorted(set(ta) | set(tb)):
        if c not in tb:
            status = "dropped"
        elif c not in ta:
            status = "added"
        elif ta[c] != tb[c]:
            status = "retyped"
        else:
            status = "unchanged"
        rows.append(
            (c, status, ta.get(c), tb.get(c), ra.get(c), rb.get(c))
        )
    return spark.createDataFrame(
        rows,
        "column string, status string, type_a string, type_b string, "
        "null_rate_a double, null_rate_b double",
    )
