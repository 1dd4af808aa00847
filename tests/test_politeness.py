"""llm/politeness.py — the sharded politeness scheduler: small-host
invariance, mega-host shard spreading, delay-default semantics. The
15M-row straggler measurement is round 11's, in git history (table in
BASELINE.md)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from trisk_datawrangle_spark.llm.politeness import politeness_schedule


def _frontier(spark, n_hosts=5, per_host=8):
    rows = []
    for h in range(n_hosts):
        for i in range(per_host):
            rows.append(
                (
                    h,
                    f"https://host{h}.example.com/p{i % 3}/u{i}",
                    2.0 if h % 2 else None,
                )
            )
    return spark.createDataFrame(
        rows, "h long, canon string, crawl_delay double"
    )


def test_unsharded_matches_x57_arithmetic(spark):
    out = politeness_schedule(_frontier(spark)).collect()
    by_host: dict = {}
    for r in out:
        assert r["shard"] == 0
        by_host.setdefault(r["h"], []).append(r)
    for h, rows in by_host.items():
        rows.sort(key=lambda r: r["canon"])
        delay = 2.0 if h % 2 else 1.0  # NULL -> the explicit default
        for slot, r in enumerate(rows, start=1):
            assert r["slot"] == slot
            assert r["eta_sec"] == (slot - 1) * delay


def test_small_hosts_identical_under_sharding(spark):
    """The composition invariant: adding the shard column changes
    NOTHING for hosts not in the big-host list."""
    df = _frontier(spark)
    flat = politeness_schedule(df)
    sharded = politeness_schedule(df, big_hosts=[0], n_shards=4)
    flat_rows = {
        (r["h"], r["canon"]): (r["slot"], r["eta_sec"])
        for r in flat.collect()
        if r["h"] != 0
    }
    for r in sharded.collect():
        if r["h"] == 0:
            continue
        assert r["shard"] == 0
        assert flat_rows[(r["h"], r["canon"])] == (
            r["slot"],
            r["eta_sec"],
        )


def test_mega_host_spreads_and_each_shard_schedules(spark):
    rows = [
        (0, f"https://host0.example.com/p{i % 8}/u{i}", 1.5)
        for i in range(200)
    ]
    df = spark.createDataFrame(
        rows, "h long, canon string, crawl_delay double"
    )
    out = politeness_schedule(df, big_hosts=[0], n_shards=4).collect()
    shards: dict = {}
    for r in out:
        shards.setdefault(r["shard"], []).append(r)
    assert len(shards) > 1  # the host actually spread
    for rows_ in shards.values():
        rows_.sort(key=lambda r: r["canon"])
        for slot, r in enumerate(rows_, start=1):
            assert r["slot"] == slot  # per-shard contiguous slots
            assert r["eta_sec"] == (slot - 1) * 1.5
    # shard is a pure function of the first path segment: same
    # prefix, same lane (polite per-section crawling)
    seg_shard: dict = {}
    for r in out:
        seg = r["canon"].split(".com")[1].split("/")[1]
        assert seg_shard.setdefault(seg, r["shard"]) == r["shard"]


def test_n_shards_validated(spark):
    with pytest.raises(ValueError, match="n_shards"):
        politeness_schedule(_frontier(spark), n_shards=0)


def test_single_window_plan(spark):
    """Plan shape: exactly one Window node, no Python."""
    plan = (
        politeness_schedule(_frontier(spark), big_hosts=[0])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Window") >= 1
    for marker in ("Python", "BatchEvalPython", "ArrowEvalPython"):
        assert marker not in plan


class TestRetryAfterBackoff:
    """r12: retry_after_backoff_expr — RFC 9110 §10.2.3 backoff as a
    pure JVM expression: delta-seconds, IMF-fixdate differenced
    against 'now' (tz cancels), past dates clamp to 0, garbage on a
    throttling status takes the loud default."""

    NOW = "Wed, 01 Jan 2025 00:30:00 GMT"

    def _run(self, spark, rows):
        from trisk_datawrangle_spark.llm.politeness import (
            retry_after_backoff_expr,
        )

        df = spark.createDataFrame(
            rows, "retry_after string, status int"
        )
        out = df.select(
            "retry_after", "status",
            retry_after_backoff_expr(
                "retry_after", "status", self.NOW
            ).alias("b"),
        )
        return {(r["retry_after"], r["status"]): r["b"]
                for r in out.collect()}

    def test_all_arms(self, spark):
        got = self._run(spark, [
            ("120", 429),
            ("Wed, 01 Jan 2025 00:45:07 GMT", 503),   # +907s
            ("Wed, 01 Jan 2025 00:10:00 GMT", 503),   # past -> 0
            ("soon", 429),                            # malformed
            (None, 503),                              # missing
            (None, 200),                              # fine
            ("Thu, 02 Jan 2025 00:30:00 GMT", 503),   # +86400
        ])
        assert got[("120", 429)] == 120.0
        assert got[("Wed, 01 Jan 2025 00:45:07 GMT", 503)] == 907.0
        assert got[("Wed, 01 Jan 2025 00:10:00 GMT", 503)] == 0.0
        assert got[("soon", 429)] == 60.0
        assert got[(None, 503)] == 60.0
        assert got[(None, 200)] == 0.0
        assert got[("Thu, 02 Jan 2025 00:30:00 GMT", 503)] == 86400.0

    def test_legacy_date_forms_take_default(self, spark):
        # rfc850 / asctime shapes are outside the fixdate subset:
        # conservative default, never a mis-parse
        got = self._run(spark, [
            ("Wednesday, 01-Jan-25 00:45:07 GMT", 503),
            ("Wed Jan  1 00:45:07 2025", 429),
        ])
        assert set(got.values()) == {60.0}
