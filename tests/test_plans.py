"""Physical-plan audits: the properties that make queries scale must
be visible in the optimized plan, not assumed — filters reach the
parquet scan (PushedFilters), projection prunes columns (ReadSchema),
small dimensions broadcast, and the flagship pipeline does not
duplicate its scan subtree."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.test_run_workflow import staged_dirs  # noqa: F401  (fixture)
from tests.test_sink import jobs_of
from trisk_datawrangle_spark.sources.readers import load_tables


def _formatted(df) -> str:
    return df._jdf.queryExecution().explainString(
        df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    li = load_tables(spark, sf_dir, ["lineitem"])["lineitem"]
    df = li.filter(F.col("l_quantity") > 40).select("l_orderkey", "l_quantity")
    plan = _formatted(df)
    assert "PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,40" in plan


def test_column_pruning_reaches_scan(spark, sf_dir):
    li = load_tables(spark, sf_dir, ["lineitem"])["lineitem"]
    plan = _formatted(li.select("l_orderkey", "l_quantity"))
    # ReadSchema lists only the projected columns
    read_schema = [l for l in plan.splitlines() if "ReadSchema" in l][0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_extendedprice" not in read_schema


def test_dimension_joins_broadcast(spark, sf_dir):
    from trisk_datawrangle_spark.catalog import QUERIES

    df = QUERIES["j2_inner_join_revenue"](spark, sf_dir)
    plan = _formatted(df)
    assert "BroadcastHashJoin" in plan


def test_flagship_scans_inputs_once(spark, sf_dir):
    from trisk_datawrangle_spark.catalog import QUERIES

    df = QUERIES["flagship_market_share"](spark, sf_dir)
    plan = _formatted(df)
    # the cached series collapses the repeated spine/bounds uses into
    # InMemoryTableScans — orders must not be re-scanned per use
    n_orders_scans = plan.count("orders.parquet")
    assert n_orders_scans <= 2, f"flagship scans orders {n_orders_scans}x"


def test_interpolation_single_shuffle(spark, sf_dir):
    """The interpolate→market-share chain partitions every window by
    the same keys; no more than the minimal exchanges appear."""
    from trisk_datawrangle_spark.operators.interpolate import na_approx
    from trisk_datawrangle_spark.operators.windows import (
        add_market_share_columns,
    )

    li = load_tables(spark, sf_dir, ["orders"])["orders"]
    series = (
        li.withColumn("year", F.year("o_orderdate"))
        .groupBy("o_orderpriority", "year")
        .agg(F.sum("o_totalprice").alias("value"))
    )
    chained = add_market_share_columns(
        na_approx(series, ["o_orderpriority"], "year", "value", na_rm=True),
        tech_group_cols=["o_orderpriority"],
        sector_group_cols=["o_orderpriority"],
        x_col="year",
        value_col="value",
    )
    import re

    plan = _formatted(chained)
    # exactly two shuffles: the groupBy hash and the window
    # repartitioning on (o_orderpriority) — which also satisfies the
    # (priority, year) sum window (subset clustering) and every
    # later window, so the whole chain reuses one sort order
    exchanges = re.findall(r"\(\d+\) Exchange", plan)
    assert len(exchanges) <= 2, plan


def test_partitioned_write_prunes_on_read(spark, sf_dir, tmp_path_factory):
    """SURVEY.md §4: canonical tables written partitioned give free
    partition pruning — the scan must show PartitionFilters and touch
    only the selected partition's files."""
    out = str(tmp_path_factory.mktemp("part")) + "/orders_by_priority"
    o = load_tables(spark, sf_dir, ["orders"])["orders"]
    from trisk_datawrangle_spark.sources.readers import write_output

    write_output(o, out, partition_by=["o_orderpriority"])
    back = spark.read.parquet(out).filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    plan = _formatted(back)
    assert "PartitionFilters" in plan
    assert "1-URGENT" in plan
    # pruning is real: only one partition directory is read
    n_all = spark.read.parquet(out).count()
    n_one = back.count()
    assert 0 < n_one < n_all


def test_bucketed_tables_join_without_shuffle(spark, sf_dir, tmp_path_factory):
    """SURVEY.md §4 / instructions: bucketing co-locates recurring
    join keys so the join plans with zero Exchange on either side."""
    import re

    # external tables: explicit paths, no warehouse-dir dependency
    wh = str(tmp_path_factory.mktemp("warehouse"))
    t = load_tables(spark, sf_dir, ["orders", "customer"])
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS customer_b")
    (
        t["orders"].write.bucketBy(8, "o_custkey").sortBy("o_custkey")
        .option("path", f"{wh}/orders_b").mode("overwrite")
        .saveAsTable("orders_b")
    )
    (
        t["customer"].withColumnRenamed("c_custkey", "o_custkey")
        .write.bucketBy(8, "o_custkey").sortBy("o_custkey")
        .option("path", f"{wh}/customer_b").mode("overwrite")
        .saveAsTable("customer_b")
    )
    # disable broadcast so the bucket co-location is what's tested
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = spark.table("orders_b").join(
            spark.table("customer_b"), "o_custkey"
        )
        plan = _formatted(joined)
        assert len(re.findall(r"\(\d+\) Exchange", plan)) == 0, plan
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        spark.sql("DROP TABLE IF EXISTS orders_b")
        spark.sql("DROP TABLE IF EXISTS customer_b")


def test_asof_join_plans_no_nested_loop(spark, sf_dir):
    """The as-of join must compile to shuffle+window, never a
    nested-loop/cartesian plan (the quadratic shape it exists to
    avoid)."""
    from trisk_datawrangle_spark.catalog import QUERIES

    plan = _formatted(QUERIES["e3_asof_join"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Window" in plan


def test_interval_join_is_equi_join(spark, sf_dir):
    """The bucketed range join must appear as a hash equi-join with
    the BETWEEN as residual — not a nested-loop over the band."""
    from trisk_datawrangle_spark.catalog import QUERIES

    plan = _formatted(QUERIES["e4_interval_join"](spark, sf_dir))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "HashJoin" in plan


def test_q3_filters_reach_scans(spark, sf_dir):
    """Q3's date and segment filters must be pushed to the parquet
    scans — at 100 TB the scan-side selectivity IS the query plan."""
    from trisk_datawrangle_spark.catalog import QUERIES

    plan = _formatted(QUERIES["q3_shipping_priority"](spark, sf_dir))
    assert "PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)" in plan
    # timestamp filters on both fact scans
    assert plan.count("GreaterThan(l_shipdate") >= 1
    assert plan.count("LessThan(o_orderdate") >= 1
    assert "CartesianProduct" not in plan


def test_q5_broadcasts_dims_only(spark, sf_dir):
    """Region/nation (tiny) broadcast; the fact joins must shuffle,
    not broadcast (a broadcast fact pins every executor at scale)."""
    from trisk_datawrangle_spark.catalog import QUERIES

    plan = _formatted(QUERIES["q5_local_supplier_volume"](spark, sf_dir))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_filter_countries_coverage_modes(spark):
    """R/prepare_asset_impact_data.R:156-195 semantics: HQ mode keeps
    worldwide assets of ultimate parents HQ'd in-country (subsidiaries
    excluded from the HQ set); asset mode keeps in-country rows of any
    company; both = intersection; empty filter / no flags = no-op."""
    from trisk_datawrangle_spark.plans.abcd import filter_countries_coverage

    ar = spark.createDataFrame(
        [
            (1, "AA", 10.0),  # c1: HQ in AA (parent)
            (1, "BB", 11.0),
            (2, "BB", 20.0),  # c2: HQ in BB (parent)
            (3, "AA", 30.0),  # c3: located AA but parent flag False
        ],
        "company_id int, ald_location string, value double",
    )
    cinfo = spark.createDataFrame(
        [
            (1, "AA", True),
            (2, "BB", True),
            (3, "AA", False),  # subsidiary: excluded from the HQ set
        ],
        "company_id int, ald_location string, is_ultimate_parent boolean",
    )

    def rows(df):
        return sorted(
            (r.company_id, r.ald_location) for r in df.collect()
        )

    # no-op cases
    assert rows(filter_countries_coverage(ar, cinfo, [], True, True)) == rows(ar)
    assert rows(filter_countries_coverage(ar, cinfo, ["AA"], False, False)) == rows(ar)
    # HQ-only: company 1's worldwide assets
    assert rows(filter_countries_coverage(ar, cinfo, ["AA"], True, False)) == [
        (1, "AA"), (1, "BB"),
    ]
    # assets-only: any company's AA rows (incl. the subsidiary)
    assert rows(filter_countries_coverage(ar, cinfo, ["AA"], False, True)) == [
        (1, "AA"), (3, "AA"),
    ]
    # both: intersection
    assert rows(filter_countries_coverage(ar, cinfo, ["AA"], True, True)) == [
        (1, "AA"),
    ]
    # hq mode without the company sheet is an explicit error
    with pytest.raises(ValueError):
        filter_countries_coverage(ar, None, ["AA"], True, False)


def test_asof_directions_single_shuffle(spark, sf_dir):
    """forward keeps the backward plan shape (one exchange, reversed
    sort); nearest evaluates both windows on the SAME exchange — the
    second direction must not add a shuffle."""
    from trisk_datawrangle_spark.operators.temporal import join_asof
    from trisk_datawrangle_spark.sources.readers import load_tables

    (ev,) = load_tables(spark, sf_dir, ["events"]).values()
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id", "ts", "value"
    )
    for direction in ("forward", "nearest"):
        plan = (
            join_asof(
                clicks, errors, on=["user_id"], right_cols=["value"],
                direction=direction,
            )
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert plan.count("Exchange") == 1, (direction, plan)
        assert "NestedLoop" not in plan and "Cartesian" not in plan


def test_chunking_is_shuffle_free(spark, sf_dir):
    """x13 chunking is a pure projection + posexplode: zero
    exchanges, no join, no Python — scan-bound at any scale."""
    from trisk_datawrangle_spark.catalog import QUERIES

    plan = (
        QUERIES["x13_doc_chunking"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") == 0, plan
    assert "Join" not in plan, plan


def test_bloom_contamination_broadcasts_bitmap_only(spark, sf_dir):
    """d9's k membership probes are all BROADCAST hash joins against
    the packed bitmap — the corpus side never sort-merge-joins or
    shuffles until the final per-doc count."""
    from trisk_datawrangle_spark.catalog import QUERIES

    plan = (
        QUERIES["d9_bloom_decontamination"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SortMergeJoin" not in plan, plan
    assert "NestedLoop" not in plan and "Cartesian" not in plan
    assert plan.count("BroadcastHashJoin") == 3, plan


def test_bm25_single_corpus_shuffle(spark, sf_dir):
    """x14's only corpus-sized exchange is the token→doc tf-vector
    aggregation; corpus stats collapse to one row and broadcast."""
    from trisk_datawrangle_spark.catalog import QUERIES

    plan = (
        QUERIES["x14_bm25"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SortMergeJoin" not in plan, plan
    # exchanges: doc-grain hash agg (+ the 1-row stats single
    # partition + its broadcast) — the corpus is shuffled ONCE
    import re

    hash_exchanges = re.findall(r"Exchange hashpartitioning", plan)
    assert len(hash_exchanges) <= 2, plan


def test_source_cap_single_shuffle(spark, sf_dir):
    """x16's per-domain cap is one window over the source key: a
    single hash exchange, no join of any kind."""
    from trisk_datawrangle_spark.catalog import QUERIES
    import re

    plan = (
        QUERIES["x16_source_cap"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Join" not in plan, plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan


def test_lm_score_model_joins_are_hash_joins(spark, sf_dir):
    """x17: the bigram-model joins are BROADCAST hash joins on the
    gram/word keys, never sort-merge; the only nested-loop is the
    accepted broadcast-1-row shape (the V scalar attaching via
    crossJoin, same as j8's bind_cols) — O(n·1), not O(n·m)."""
    from trisk_datawrangle_spark.catalog import QUERIES

    # the lm tests cache the shared gram table; a cached subtree
    # embeds its stored plan inside InMemoryTableScan and double-
    # counts join nodes in the plan string - audit the uncached plan
    spark.catalog.clearCache()
    plan = (
        QUERIES["x17_lm_score"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan
    assert plan.count("BroadcastHashJoin") == 2, plan


def test_incremental_dedup_no_cartesian(spark, sf_dir):
    """d11: every join in the incremental path is an equi-join
    (band/bucket buckets, id re-attach, shingle-hash verify) — no
    nested-loop, no cartesian, nothing quadratic in the corpus."""
    from trisk_datawrangle_spark.catalog import QUERIES

    spark.catalog.clearCache()
    plan = (
        QUERIES["d11_incremental_dedup"](spark, sf_dir)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def _exchanges(df) -> tuple[list[str], int]:
    """Run ``df`` and read its final adaptive plan, subqueries
    included: the partitioning of each exchange that shuffles (hash
    keys without attribute ids, or the partitioning's name) and the
    number of broadcast exchanges. Reused exchanges and the initial
    plans printed beside each final one are not counted."""
    import re

    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    # (indent, final?) of the "== Final/Initial Plan ==" sections open
    # at the current line; a line belongs to the innermost section
    # indented less than it
    sections: list[tuple[int, bool]] = []
    shuffles, broadcasts = [], 0
    for line in plan.splitlines():
        indent = len(line) - len(line.lstrip(" "))
        while sections and sections[-1][0] >= indent:
            sections.pop()
        m = re.search(r"== (Final|Initial) Plan ==", line)
        if m:
            sections.append((indent, m.group(1) == "Final"))
            continue
        if not all(final for _, final in sections) or "ReusedExchange" in line:
            continue
        m = re.search(r"\bExchange (hashpartitioning\((.*?), \d+\)|\w+)", line)
        if m:
            shuffles.append(re.sub(r"#\d+L?", "", m.group(2) or m.group(1)))
        broadcasts += "BroadcastExchange" in line
    return sorted(shuffles), broadcasts


#: Each written table's exchanges in its final plan, on the staged
#: inputs (``tests/test_run_workflow.staged_dirs``): its shuffles'
#: partitionings and the most broadcasts it may plan. The
#: scenario-side stages shuffle their rows once, on the stage's common
#: key prefix; abcd once on company_id and once for the
#: emission-factor mean window. financial shuffles the pairs and
#: eikon on company_id, then the layer rollup; its broadcasts are the
#: medians, the ownership edges, the parent rows and the layers.
#: scenarios_data shuffles nothing: its broadcasts are the common
#: (scenario, geography) pairs and the three dimension tables. A tiny
#: dimension aggregated before its broadcast (scenarios' required
#: technologies per sector, financial's one-row layer gather,
#: scenarios_data's price dedup and carbon mean) is aggregated in one
#: task, after a ``coalesce(1)``, so it plans no exchange of its own.
STAGE_EXCHANGES = {
    "Scenarios_AnalysisInput": (["scenario, scenario_geography, sector"], 1),
    "prewrangled_capacity_factors": (
        ["scenario, scenario_geography, ald_business_unit"], 0
    ),
    "price_data_long": (["scenario, sector, unit"], 0),
    "ngfs_carbon_price": (
        ["model, scenario, scenario_geography, variable, unit"], 0
    ),
    "abcd_stress_test_input": (
        ["ald_sector, ald_business_unit", "company_id"], 0
    ),
    "prewrangled_financial_data_stress_test": (
        [
            "ald_sector, region, spark_grouping_id",
            "company_id",
            "company_id",
        ],
        4,
    ),
    "assets_data": (["asset_id"], 1),
    "scenarios_data": ([], 4),
}


def test_abcd_and_financial_shuffle_once_and_leak_nothing(
    spark, staged_dirs, tmp_path, monkeypatch
):
    """ROADMAP "Jobs are exchanges": every table a stage writes plans
    exactly the exchanges of :data:`STAGE_EXCHANGES` — ``abcd``
    shuffles its rows on company_id and once more for its
    emission-factor mean, each scenario-side stage once on its common
    key prefix — so a second pass over a stage's rows or an operator
    that drops the partitioning shows as a new exchange. No read of a
    raw input or a written table runs a job: each schema is pinned
    from a footer or a manifest. No stage leaves a cached relation or
    a persisted RDD behind (compared before and after: the test
    session is shared)."""
    from trisk_datawrangle_spark import run_workflow
    from trisk_datawrangle_spark.run_workflow import ALL_STAGES, run_stage
    from trisk_datawrangle_spark.sources import readers

    written, read_jobs = {}, []
    write, read = readers.write_output, run_workflow._read

    def keep(df, path, **kwargs):
        written[path.rsplit("/", 1)[-1].removesuffix(".parquet")] = df
        return write(df, path, **kwargs)

    def counted(*args):
        df, jobs = jobs_of(spark, read, *args)
        read_jobs.extend(jobs)
        return df

    monkeypatch.setattr(readers, "write_output", keep)
    monkeypatch.setattr(run_workflow, "_read", counted)
    cache = spark._jsparkSession.sharedState().cacheManager()

    def persisted() -> set[int]:
        # by id: the context cleaner may drop an earlier test's RDD
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    cached, rdds = cache.numCachedEntries(), persisted()
    inp, _ = staged_dirs
    for stage in ALL_STAGES:
        run_stage(spark, stage, inp, str(tmp_path), start_year=2022, time_horizon=3)
    assert cache.numCachedEntries() <= cached
    assert persisted() <= rdds, persisted() - rdds
    assert read_jobs == []

    assert written.keys() == STAGE_EXCHANGES.keys()
    for table, df in written.items():
        shuffles, broadcasts = _exchanges(df)
        pinned, most = STAGE_EXCHANGES[table]
        assert shuffles == pinned, (table, shuffles)
        assert broadcasts <= most, (table, broadcasts)
