"""End-to-end workflow-runner test: stage synthetic parquet inputs
(FIXTURES.md shapes), run every stage through the CLI entry point,
and check the canonical outputs land with the dbml-contract schemas.
"""

from __future__ import annotations

import os
import random
import shutil

import pytest
from pyspark.sql import functions as F

from trisk_datawrangle_spark.run_workflow import ALL_STAGES, run_stage

YEARS = (2022, 2023, 2024, 2025)


@pytest.fixture(scope="module")
def staged_dirs(spark, tmp_path_factory):
    rng = random.Random(7)
    inp = str(tmp_path_factory.mktemp("wf_in"))
    out = str(tmp_path_factory.mktemp("wf_out"))

    # scenario pathway (sparse years; one complete Power sector)
    scen_rows = []
    for scenario in ("WEO_STEPS", "WEO_NZE"):
        for tech, v0, v1 in [("CoalCap", 100.0, 60.0), ("RenewablesCap", 50.0, 150.0)]:
            for year, v in [(2022, v0), (2025, v1)]:
                scen_rows.append(
                    ("WEO2023", scenario, "Global", "Power", tech,
                     "Capacity", "GW", year, v)
                )
    spark.createDataFrame(
        scen_rows,
        "source string, scenario string, scenario_geography string, "
        "sector string, technology string, indicator string, units string, "
        "year int, value double",
    ).write.mode("overwrite").parquet(f"{inp}/scenario_analysis_input.parquet")

    spark.createDataFrame(
        [("Power", "CoalCap"), ("Power", "RenewablesCap")],
        "ald_sector string, ald_business_unit string",
    ).write.mode("overwrite").parquet(f"{inp}/sector_tech_lookup.parquet")

    spark.createDataFrame(
        [("WEO_STEPS", "baseline"), ("WEO_NZE", "shock")],
        "scenario string, scenario_type string",
    ).write.mode("overwrite").parquet(f"{inp}/scenario_types.parquet")

    # capacity factors (wide years)
    spark.createDataFrame(
        [
            ("WEO2023", s, "Global", "Coal", "Capacity", 100.0, 100.0)
            for s in ("WEO_STEPS", "WEO_NZE")
        ]
        + [
            ("WEO2023", s, "Global", "Coal", "Generation", 60.0, 50.0)
            for s in ("WEO_STEPS", "WEO_NZE")
        ],
        "Source string, Scenario string, ScenarioGeography string, "
        "Technology string, Indicator string, `2022` double, `2025` double",
    ).write.mode("overwrite").parquet(f"{inp}/capacity_factors_raw.parquet")

    # prices (wide years; Mbtu exercises the F10 conversion → "GJ")
    spark.createDataFrame(
        [
            (s, g, "Power", "usd/Mbtu", 40.0, 50.0)
            for s in ("WEO_STEPS", "WEO_NZE")
            for g in ("Global", "Europe")
        ],
        "scenario string, scenario_geography string, sector string, "
        "unit string, `2022` double, `2025` double",
    ).write.mode("overwrite").parquet(f"{inp}/price_raw.parquet")

    # carbon (wide years): three NGFS models, 'World' vocabulary —
    # the assembler must average across models and conform to
    # 'Global', not fan scenarios_data out 3×
    spark.createDataFrame(
        [
            ("GCAM", "WEO_NZE", "World", "Price|Carbon", "US$/t", 10.0, 30.0),
            ("REMIND", "WEO_NZE", "World", "Price|Carbon", "US$/t", 20.0, 40.0),
            ("MESSAGE", "WEO_NZE", "World", "Price|Carbon", "US$/t", 30.0, 50.0),
        ],
        "Model string, Scenario string, Region string, Variable string, "
        "Unit string, `2022` double, `2025` double",
    ).write.mode("overwrite").parquet(f"{inp}/ngfs_carbon_price_raw.parquet")

    # company activities / emissions (wide equity-ownership years)
    def wide(emissions):
        rows = []
        for cid in range(1, 21):
            unit = "tCO2" if emissions else "MW"
            vals = [
                None if rng.random() < 0.2 else round(rng.uniform(10, 100), 2)
                for _ in YEARS
            ]
            rows.append(
                (cid, f"Co {cid}", "Power", "CoalCap", "DE", unit, *vals)
            )
        return spark.createDataFrame(
            rows,
            "company_id long, company_name string, ald_sector string, "
            "ald_business_unit string, ald_location string, "
            "activity_unit string, "
            + ", ".join(f"`Equity Ownership {y}` double" for y in YEARS),
        )

    wide(False).write.mode("overwrite").parquet(
        f"{inp}/company_activities.parquet"
    )
    wide(True).write.mode("overwrite").parquet(
        f"{inp}/company_emissions.parquet"
    )

    # eikon + ownership
    spark.createDataFrame(
        [
            (f"DE{cid:06d}", cid, "DE", "EU",
             rng.uniform(0, 1), rng.uniform(0, 1),
             rng.uniform(0, 3), rng.uniform(0, 1))
            for cid in range(1, 15)
        ],
        "isin string, company_id long, ald_location string, region string, "
        "pd double, net_profit_margin double, debt_equity_ratio double, "
        "volatility double",
    ).write.mode("overwrite").parquet(f"{inp}/eikon_data.parquet")
    spark.createDataFrame(
        [(1, 16, 1.0, 1), (2, 17, 1.0, 1)],
        "parent_company_id long, subsidiary_company_id long, "
        "linking_stake double, ownership_level int",
    ).write.mode("overwrite").parquet(f"{inp}/ownership_tree.parquet")

    return inp, out


def test_full_workflow(spark, staged_dirs):
    inp, out = staged_dirs
    for stage in ALL_STAGES:
        run_stage(spark, stage, inp, out, start_year=2022, time_horizon=3)

    scen = spark.read.parquet(f"{out}/Scenarios_AnalysisInput.parquet")
    assert {"scenario", "scenario_geography", "ald_sector",
            "ald_business_unit", "units", "year", "direction",
            "fair_share_perc", "scenario_type"} <= set(scen.columns)
    assert scen.count() > 0
    # dense years after interpolation
    assert scen.select("year").distinct().count() == 4

    cf = spark.read.parquet(f"{out}/prewrangled_capacity_factors.parquet")
    assert cf.filter(
        (F.col("capacity_factor") < 0) | (F.col("capacity_factor") > 1)
    ).count() == 0

    prices = spark.read.parquet(f"{out}/price_data_long.parquet")
    assert set(
        r["unit"] for r in prices.select("unit").distinct().collect()
    ) == {"GJ"}

    abcd = spark.read.parquet(f"{out}/abcd_stress_test_input.parquet")
    assert abcd.filter(F.col("plan_tech_prod").isNull()).count() == 0

    fin = spark.read.parquet(
        f"{out}/prewrangled_financial_data_stress_test.parquet"
    )
    n_companies = abcd.select("company_id", "ald_sector").distinct().count()
    assert fin.count() == n_companies

    assets = spark.read.parquet(f"{out}/assets_data.parquet")
    assert {"capacity_factor", "pd"} <= set(assets.columns)
    scen_data = spark.read.parquet(f"{out}/scenarios_data.parquet")
    assert {"capacity_factor", "price", "scenario_provider"} <= set(
        scen_data.columns
    )
    assert set(
        r["scenario_provider"]
        for r in scen_data.select("scenario_provider").distinct().collect()
    ) == {"WEO"}
    # carbon joined without model fan-out: exactly one row per
    # (scenario, geography, business unit, year)
    n = scen_data.count()
    assert n == scen_data.select(
        "scenario", "scenario_geography", "ald_business_unit", "year"
    ).distinct().count()
    # the NGFS scenario got a carbon tax on every year (vocabulary
    # conformed World→Global; interior years interpolated); 2022 is
    # the mean over the three models: (10+20+30)/3
    nze = scen_data.filter(F.col("scenario") == "WEO_NZE")
    assert nze.filter(F.col("carbon_tax").isNull()).count() == 0
    assert nze.filter(F.col("year") == 2022).collect()[0][
        "carbon_tax"
    ] == pytest.approx(20.0)

    # dbml FK gate on the closed-source pair (outputs_structure.dbml:
    # 97-107, abcd is the many/child side of every Ref): every
    # production company has a financial row, and abcd's scenario
    # keys all resolve against Scenarios_AnalysisInput
    from trisk_datawrangle_spark.operators.quality import assert_fk

    assert_fk(abcd, fin, ["company_id"])
    assert_fk(abcd, scen, {"year": "year"})
    assert_fk(abcd, scen, {"ald_sector": "ald_sector"})
    assert_fk(abcd, scen, {"ald_business_unit": "ald_business_unit"})


def test_workflow_without_carbon(spark, staged_dirs, tmp_path, capsys):
    """Every stage but ``carbon``: ngfs_carbon_price is an optional
    read, so trisk_v2 assembles without carbon prices and verify_fk
    skips that one audit instead of failing on the missing table."""
    inp, _ = staged_dirs
    out = str(tmp_path / "no_carbon")
    for stage in ALL_STAGES:
        if stage != "carbon":
            run_stage(spark, stage, inp, out, start_year=2022, time_horizon=3)

    scen_data = spark.read.parquet(f"{out}/scenarios_data.parquet")
    assert "carbon_tax" not in scen_data.columns and scen_data.count() > 0
    err = capsys.readouterr().err
    assert "[verify_fk] scen -> ngfs_carbon_price: skipped" in err
    assert "[verify_fk] scen.year -> price_data_long.year" in err


def test_missing_required_read_names_stage_table_and_writer(
    spark, staged_dirs, tmp_path
):
    """A stage run without the stage that writes one of its required
    reads fails naming the running stage, the table and its writer."""
    inp, _ = staged_dirs
    with pytest.raises(FileNotFoundError) as ei:
        run_stage(
            spark, "financial", inp, str(tmp_path / "empty"),
            start_year=2022, time_horizon=3,
        )
    msg = str(ei.value)
    assert "'financial'" in msg
    assert "abcd_stress_test_input" in msg
    assert "'abcd'" in msg


def test_cli_arg_validation():
    from trisk_datawrangle_spark.run_workflow import main

    with pytest.raises(SystemExit):
        main(["--input-dir", "/x", "--output-dir", "/y", "--stages", "nope"])


def test_cli_checks_stages_before_spark(monkeypatch, tmp_path, capsys):
    """A --stages subset whose required read neither an earlier
    selected stage writes nor --output-dir holds exits before Spark
    starts, naming the stage, the table and its writer."""
    from trisk_datawrangle_spark import run_workflow

    def no_spark(**_):
        raise AssertionError("Spark started")

    monkeypatch.setattr(run_workflow, "get_spark", no_spark)
    args = ["--input-dir", str(tmp_path / "in"),
            "--output-dir", str(tmp_path / "empty"), "--stages"]
    with pytest.raises(SystemExit):
        run_workflow.main([*args, "financial"])
    err = capsys.readouterr().err
    assert "'financial'" in err
    assert "abcd_stress_test_input" in err
    assert "'abcd'" in err
    # written by an earlier selected stage: the check passes
    with pytest.raises(AssertionError, match="Spark started"):
        run_workflow.main([*args, "abcd,financial"])


def test_manifests_are_what_reads_return(spark, staged_dirs, tmp_path):
    """Every table the workflow publishes carries a manifest whose
    schema is the schema a plain parquet read returns and whose row
    count is the table's; no staging directory is left behind."""
    from pyspark.sql.types import StructType

    from trisk_datawrangle_spark.run_workflow import _STAGES
    from trisk_datawrangle_spark.sources.readers import read_manifest

    inp, _ = staged_dirs
    out = str(tmp_path / "manifests")
    for stage in ALL_STAGES:
        run_stage(spark, stage, inp, out, start_year=2022, time_horizon=3)
    tables = [t for row in _STAGES.values() for t in row.writes]
    assert sorted(os.listdir(out)) == sorted(f"{t}.parquet" for t in tables)
    for table in tables:
        path = f"{out}/{table}.parquet"
        manifest = read_manifest(spark, path)
        read = spark.read.parquet(path)
        assert StructType.fromJson(manifest["schema"]) == read.schema, table
        assert manifest["rows"] == read.count(), table


def test_failed_gate_keeps_published_table(spark, staged_dirs, tmp_path):
    """A scenario that scenario_types does not classify fails the
    scenarios gate during the write: the error names the stage, the
    table, the gate and the count, and the table published before
    keeps its rows."""
    from trisk_datawrangle_spark.operators.quality import DataQualityError

    inp, _ = staged_dirs
    bad = str(tmp_path / "bad_in")
    shutil.copytree(inp, bad)
    shutil.rmtree(f"{bad}/scenario_types.parquet")
    spark.createDataFrame(
        [("WEO_STEPS", "baseline")], "scenario string, scenario_type string"
    ).write.parquet(f"{bad}/scenario_types.parquet")
    out = str(tmp_path / "gate_out")
    run_stage(spark, "scenarios", inp, out, start_year=2022, time_horizon=3)
    path = f"{out}/Scenarios_AnalysisInput.parquet"
    before = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    n_nze = sum(r[-1] == "WEO_NZE" for r in before)

    with pytest.raises(DataQualityError) as ei:
        run_stage(spark, "scenarios", bad, out, start_year=2022, time_horizon=3)
    msg = str(ei.value)
    assert "stage 'scenarios', table Scenarios_AnalysisInput" in msg
    assert f"gate 'scenario_type is NULL' failed on {n_nze} rows" in msg
    after = sorted(tuple(r) for r in spark.read.parquet(path).collect())
    assert after == before
    assert [n for n in os.listdir(out) if n.startswith(".")] == []
