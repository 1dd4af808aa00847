"""Temporal join semantics: the shuffle-friendly implementations
(union+LOCF as-of, bucketed interval equi-join) must agree with the
naive inequality-join definitions they replace.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import functions as F

from trisk_datawrangle_spark.operators.temporal import (
    interval_join,
    join_asof,
)


def _ts(s):
    return datetime.fromisoformat(s)


def _trades_quotes(spark):
    trades = spark.createDataFrame(
        [
            (1, "A", _ts("2024-01-01 10:00:00"), 100.0),
            (2, "A", _ts("2024-01-01 10:00:05"), 101.0),
            (3, "A", _ts("2024-01-01 09:00:00"), 99.0),  # before any quote
            (4, "B", _ts("2024-01-01 10:00:03"), 50.0),
            (5, "C", _ts("2024-01-01 10:00:00"), 7.0),  # key with no quotes
        ],
        "trade_id long, sym string, ts timestamp, px double",
    )
    quotes = spark.createDataFrame(
        [
            ("A", _ts("2024-01-01 09:59:58"), 99.9),
            ("A", _ts("2024-01-01 10:00:00"), 100.1),  # exact tie with trade 1
            ("A", _ts("2024-01-01 10:00:04"), 100.4),
            ("B", _ts("2024-01-01 09:00:00"), 49.0),  # stale for trade 4
        ],
        "sym string, ts timestamp, bid double",
    )
    return trades, quotes


def test_asof_backward_semantics(spark):
    trades, quotes = _trades_quotes(spark)
    out = {
        r.trade_id: (r.ts_asof, r.bid_asof)
        for r in join_asof(
            trades, quotes, on=["sym"], right_cols=["bid"]
        ).collect()
    }
    assert len(out) == 5  # left join: every trade survives
    # exact timestamp tie matches (right <= left is inclusive)
    assert out[1] == (_ts("2024-01-01 10:00:00"), 100.1)
    assert out[2] == (_ts("2024-01-01 10:00:04"), 100.4)
    # no quote at or before → NULLs
    assert out[3] == (None, None)
    assert out[5] == (None, None)
    # stale quote still matches without tolerance
    assert out[4] == (_ts("2024-01-01 09:00:00"), 49.0)


def test_asof_tolerance_voids_stale_matches(spark):
    trades, quotes = _trades_quotes(spark)
    out = {
        r.trade_id: r.bid_asof
        for r in join_asof(
            trades, quotes, on=["sym"], right_cols=["bid"],
            tolerance_seconds=60,
        ).collect()
    }
    assert out[1] == 100.1
    assert out[4] is None  # quote is an hour old, outside tolerance


def test_asof_matches_naive_inequality_join(spark, sf_dir):
    """Cross-check against the quadratic definition on real events."""
    from trisk_datawrangle_spark.sources.readers import load_tables

    (ev,) = load_tables(spark, sf_dir, ["events"]).values()
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("user_id").alias("u"), F.col("ts").alias("ets"),
        F.col("value").alias("ev"),
    )
    fast = {
        r.event_id: (r.ts_asof, r.value_asof)
        for r in join_asof(
            clicks, errors.select(
                F.col("u").alias("user_id"), F.col("ets").alias("ts"),
                F.col("ev").alias("value"),
            ), on=["user_id"], right_cols=["value"],
        ).collect()
    }
    naive_rows = (
        clicks.join(
            errors,
            (F.col("user_id") == F.col("u")) & (F.col("ets") <= F.col("ts")),
            "left",
        )
        .groupBy("event_id")
        .agg(F.max(F.struct("ets", "ev")).alias("m"))
        .select("event_id", "m.ets", "m.ev")
        .collect()
    )
    naive = {r.event_id: (r.ets, r.ev) for r in naive_rows}
    assert fast == naive and len(fast) > 0


def test_interval_join_matches_naive_and_handles_edges(spark):
    points = spark.createDataFrame(
        [
            (1, "k", _ts("2024-01-01 10:00:00")),
            (2, "k", _ts("2024-01-01 10:30:00")),
            (3, "k", _ts("2024-01-01 11:00:00")),  # == end: inclusive
            (4, "k", _ts("2024-01-01 11:00:01")),  # just outside
            (5, "j", _ts("2024-01-01 10:30:00")),  # other key
        ],
        "pid long, k string, ts timestamp",
    )
    spans = spark.createDataFrame(
        [
            (10, "k", _ts("2024-01-01 10:00:00"), _ts("2024-01-01 11:00:00")),
            (11, "k", _ts("2024-01-01 10:15:00"), _ts("2024-01-01 10:45:00")),
            (12, "j", _ts("2024-01-01 00:00:00"), _ts("2024-01-02 00:00:00")),
        ],
        "iid long, k string, start timestamp, end timestamp",
    )
    got = {
        (r.pid, r.iid)
        for r in interval_join(
            points, spans, on=["k"], bucket_seconds=600
        ).collect()
    }
    # intervals longer than the bucket span multiple buckets; each
    # point still matches exactly once per covering interval
    assert got == {(1, 10), (2, 10), (2, 11), (3, 10), (5, 12)}


def test_asof_rejects_colliding_left_columns(spark):
    trades, quotes = _trades_quotes(spark)
    import pytest as _pt

    with _pt.raises(ValueError, match="collide"):
        join_asof(
            trades.withColumn("bid_asof", F.lit(1)), quotes,
            on=["sym"], right_cols=["bid"],
        )
    with _pt.raises(ValueError, match="collide"):
        join_asof(
            trades.withColumn("__ts", F.lit(1)), quotes,
            on=["sym"], right_cols=["bid"],
        )


def test_asof_right_ts_in_right_cols_not_duplicated(spark):
    """Passing the right timestamp in right_cols must not emit two
    identically-named output columns."""
    trades, quotes = _trades_quotes(spark)
    out = join_asof(trades, quotes, on=["sym"], right_cols=["ts", "bid"])
    assert out.columns.count("ts_asof") == 1
    assert out.count() == 5


def test_join_asof_rejects_keyless_and_bad_direction(spark):
    import pytest

    from trisk_datawrangle_spark.operators.temporal import join_asof

    left = spark.createDataFrame([(1, 10)], "k long, ts long")
    right = spark.createDataFrame([(1, 5, 1.0)], "k long, ts long, v double")
    with pytest.raises(ValueError, match="join key"):
        join_asof(left, right, on=[])
    with pytest.raises(ValueError, match="direction"):
        join_asof(left, right, on=["k"], direction="sideways")


def test_asof_duplicate_right_ts_tie_rule_direction_invariant(spark):
    """Right-side ties at the same (key, ts) must resolve to the
    LARGEST carried struct in every direction — backward, forward,
    and nearest all pick the same duplicate."""
    left = spark.createDataFrame(
        [(1, _ts("2024-01-01 10:00:00"))], "k long, ts timestamp"
    )
    # three right rows at the identical (key, ts): the largest struct
    # (ordered by carried value) must win everywhere
    right = spark.createDataFrame(
        [
            (1, _ts("2024-01-01 10:00:00"), "b"),
            (1, _ts("2024-01-01 10:00:00"), "c"),
            (1, _ts("2024-01-01 10:00:00"), "a"),
        ],
        "k long, ts timestamp, v string",
    )
    picks = {
        d: join_asof(left, right, on=["k"], right_cols=["v"], direction=d)
        .select("v_asof")
        .first()[0]
        for d in ("backward", "forward", "nearest")
    }
    assert picks == {"backward": "c", "forward": "c", "nearest": "c"}


def test_asof_null_timestamps_never_match(spark):
    """NULL timestamps carry no as-of meaning (found in review):
    NULL-ts right rows must never be fabricated as matches in ANY
    direction, and NULL-ts left rows keep NULLs."""
    import datetime as dt

    from trisk_datawrangle_spark.operators.temporal import join_asof

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)
    left = spark.createDataFrame(
        [(1, t(1), "L1"), (1, None, "Lnull")],
        "k long, ts timestamp, lv string",
    )
    right = spark.createDataFrame(
        [(1, t(5), "R5"), (1, None, "Rnull")],
        "k long, ts timestamp, rv string",
    )
    for direction, want in [
        ("backward", {"L1": None, "Lnull": None}),
        ("forward", {"L1": "R5", "Lnull": None}),
        ("nearest", {"L1": "R5", "Lnull": None}),
    ]:
        got = {
            r.lv: r.rv_asof
            for r in join_asof(
                left, right, ["k"], right_cols=["rv"], direction=direction
            ).collect()
        }
        assert got == want, (direction, got)
