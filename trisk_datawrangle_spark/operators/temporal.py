"""Temporal joins Spark lacks as built-ins: as-of join and
point-in-interval (range) join.

Both are implemented as compositions of existing DataFrame ops chosen
for their shuffle shape, not as UDFs:

- ``join_asof`` uses the union + last-observation-carried-forward
  window trick: one shuffle on the join key, one sort within
  partitions — instead of the naive inequality join, whose plan is a
  per-key cross product (quadratic in rows-per-key, catastrophic on a
  100 TB event log).
- ``interval_join`` buckets time to a fixed grain and turns the range
  predicate into an equi-join on (key, bucket) + a residual filter —
  Catalyst shuffles hash-partitioned instead of falling back to
  broadcast-nested-loop. Each point joins only its own bucket, so no
  post-join distinct is needed.

The reference has no temporal joins (its panels are yearly and dense —
SURVEY.md §2.9 spine ops cover that grain); these exist for the
event/telemetry side of a training-data pipeline.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def _epoch_micros(c: Column) -> Column:
    """Microseconds-since-epoch for any time-like column, without a
    timestamp→numeric cast (illegal for TIMESTAMP_NTZ under Spark 4's
    ANSI rules). ``cast("timestamp")`` is a no-op on TIMESTAMP,
    relabels TIMESTAMP_NTZ under the (UTC-pinned) session zone, and
    interprets numerics as epoch seconds — so the same expression
    serves all dtypes the operators accept."""
    return F.unix_micros(c.cast("timestamp"))


def join_asof(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str = "ts",
    right_ts: str = "ts",
    right_cols: Sequence[str] | None = None,
    tolerance_seconds: float | None = None,
    suffix: str = "_asof",
    direction: str = "backward",
) -> DataFrame:
    """For every left row, attach the matching right row per join key
    (pandas ``merge_asof`` / DuckDB ``ASOF JOIN`` semantics):

    - ``backward`` (default): latest right with ``right_ts <= left_ts``
    - ``forward``: earliest right with ``right_ts >= left_ts``
    - ``nearest``: whichever of the two is closer in time (exact ties
      resolve to the backward match)

    Left rows with no match (or none within ``tolerance_seconds``)
    keep NULLs. NULL timestamps carry no as-of meaning: NULL-ts RIGHT
    rows are excluded (they can never be "before"/"after" anything —
    unexcluded, the window scan would fabricate them as matches), and
    NULL-ts LEFT rows are kept with a NULL match (pandas merge_asof
    rejects NaT keys outright; DuckDB ASOF skips them).

    Plan shape: tag sides, union, then ``last(..., ignorenulls)`` over
    a (key)-partitioned window ordered by (ts, side) — right rows sort
    before left rows at equal timestamps so exact-tie matches are
    taken (forward runs the same frame over the reversed order;
    nearest evaluates both windows on ONE hash shuffle — two sorts,
    no second exchange). Right-side ties at the same (key, ts) resolve
    to the largest carried struct (deterministic). No inequality join
    anywhere.

    Output: all left columns plus ``<right_ts><suffix>`` and
    ``<col><suffix>`` for each of ``right_cols``.
    """
    if direction not in ("backward", "forward", "nearest"):
        raise ValueError(
            f"join_asof: direction must be backward/forward/nearest, "
            f"got {direction!r}"
        )
    on = list(on)
    if not on:
        raise ValueError(
            "join_asof: at least one join key is required — a keyless "
            "as-of would put the whole dataset in ONE window partition "
            "(a single-task global sort at corpus scale); add a "
            "constant key column explicitly if that is really intended"
        )
    # right_ts is always carried (as <right_ts><suffix>) — listing it
    # in right_cols again would emit two identically-named columns
    right_cols = [
        c for c in (right_cols or []) if c not in on and c != right_ts
    ]

    reserved = {"__ts", "__side", "__r", "__m", "__mb", "__mf"}
    clashes = reserved & set(left.columns) | {
        f"{right_ts}{suffix}",
        *(f"{c}{suffix}" for c in right_cols),
    } & set(left.columns)
    if clashes:
        raise ValueError(
            f"join_asof: left columns collide with internals/outputs: "
            f"{sorted(clashes)}"
        )

    r_struct = F.struct(
        F.col(right_ts).alias("__rts"), *[F.col(c) for c in right_cols]
    )
    rt = right.filter(F.col(right_ts).isNotNull()).select(
        *on,
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__side"),
        r_struct.alias("__r"),
    )
    null_r = F.lit(None).cast(rt.schema["__r"].dataType)
    lt = left.select(
        *left.columns,
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__side"),
        null_r.alias("__r"),
    )
    unioned = lt.unionByName(rt, allowMissingColumns=True)

    frame = (Window.unboundedPreceding, Window.currentRow)
    # backward: ascending scan — the last right row seen at or before
    # each left row. forward: the same frame over the reversed order.
    # At equal __ts, __side ASC puts right rows (0) first in BOTH
    # orders, so exact-timestamp matches are taken in every direction.
    wb = (
        Window.partitionBy(*on)
        .orderBy(F.col("__ts").asc(), F.col("__side").asc(), F.col("__r").asc())
        .rowsBetween(*frame)
    )
    # __r ASC in the desc scan: the last right row seen at equal
    # (key, ts) is the LARGEST carried struct — the same tie rule as
    # the backward scan (__r asc under ts asc), so forward/nearest and
    # backward agree on duplicate right timestamps.
    wf = (
        Window.partitionBy(*on)
        .orderBy(
            F.col("__ts").desc(), F.col("__side").asc(), F.col("__r").asc()
        )
        .rowsBetween(*frame)
    )

    tol_us = (
        F.lit(int(round(float(tolerance_seconds) * 1_000_000)))
        if tolerance_seconds is not None
        else None
    )

    def gate(m: Column, delta: Column) -> Column:
        # void matches outside the tolerance window
        return F.when(delta <= tol_us, m) if tol_us is not None else m

    ts_us = _epoch_micros(F.col("__ts"))
    if direction == "backward":
        matched = unioned.withColumn(
            "__m", F.last("__r", ignorenulls=True).over(wb)
        ).filter(F.col("__side") == 1)
        matched = matched.withColumn(
            "__m",
            gate(F.col("__m"), ts_us - _epoch_micros(F.col("__m.__rts"))),
        )
    elif direction == "forward":
        matched = unioned.withColumn(
            "__m", F.last("__r", ignorenulls=True).over(wf)
        ).filter(F.col("__side") == 1)
        matched = matched.withColumn(
            "__m",
            gate(F.col("__m"), _epoch_micros(F.col("__m.__rts")) - ts_us),
        )
    else:  # nearest: both candidates from one shuffle, pick the closer
        matched = (
            unioned.withColumn("__mb", F.last("__r", ignorenulls=True).over(wb))
            .withColumn("__mf", F.last("__r", ignorenulls=True).over(wf))
            .filter(F.col("__side") == 1)
        )
        db = ts_us - _epoch_micros(F.col("__mb.__rts"))
        df_ = _epoch_micros(F.col("__mf.__rts")) - ts_us
        matched = matched.withColumn(
            "__mb", gate(F.col("__mb"), db)
        ).withColumn("__mf", gate(F.col("__mf"), df_))
        matched = matched.withColumn(
            "__m",
            F.when(F.col("__mb").isNull(), F.col("__mf"))
            .when(F.col("__mf").isNull(), F.col("__mb"))
            .when(df_ < db, F.col("__mf"))
            .otherwise(F.col("__mb")),
        )
    # a NULL-ts left row must never match: the desc (forward) scan
    # orders NULLs last, so the running last-right would otherwise
    # hand it the smallest-ts right row as a fabricated "forward"
    # match (and nearest would inherit it)
    matched = matched.withColumn(
        "__m", F.when(F.col("__ts").isNotNull(), F.col("__m"))
    )

    out = [F.col(c) for c in left.columns]
    out.append(F.col("__m.__rts").alias(f"{right_ts}{suffix}"))
    out.extend(F.col(f"__m.{c}").alias(f"{c}{suffix}") for c in right_cols)
    return matched.select(*out)


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    on: Sequence[str],
    ts_col: str = "ts",
    start_col: str = "start",
    end_col: str = "end",
    bucket_seconds: int = 3600,
) -> DataFrame:
    """Join point rows to interval rows on shared keys with
    ``start <= ts <= end`` (inclusive), as an equi-join.

    Every interval row is exploded to the time buckets it covers
    (``(end - start) / bucket_seconds + 1`` rows — pick the grain near
    the typical interval length so the fan-out stays O(1) per
    interval); points carry their single bucket. The join key becomes
    (keys…, bucket), which Catalyst executes as a plain shuffled hash
    join with the residual BETWEEN as a post-join filter. A point's
    bucket appears once per covering interval, so no duplicates are
    produced and no distinct is needed.
    """
    on = list(on)
    grain_us = F.lit(int(bucket_seconds) * 1_000_000)

    def bucket_of(c: Column) -> Column:
        return F.floor(_epoch_micros(c) / grain_us).cast("long")

    pts = points.withColumn("__bucket", bucket_of(F.col(ts_col)))
    ivs = intervals.withColumn(
        "__bucket",
        F.explode(
            F.sequence(
                bucket_of(F.col(start_col)), bucket_of(F.col(end_col))
            )
        ),
    )
    joined = pts.join(ivs, [*on, "__bucket"], "inner")
    residual = F.col(ts_col).between(F.col(start_col), F.col(end_col))
    return joined.filter(residual).drop("__bucket")

