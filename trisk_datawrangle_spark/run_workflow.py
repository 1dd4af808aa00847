"""End-to-end workflow runner — the engine's equivalent of the
reference's ``data-raw/run_workflow.R`` (sourced stage scripts with
CSV handoff, run_workflow.R:8-30): each stage reads parquet inputs,
runs its pipeline, and writes a canonical parquet output; stages run
in dependency order and later stages read earlier outputs.

Usage (also via ``python -m trisk_datawrangle_spark``)::

    python -m trisk_datawrangle_spark \
        --input-dir  /data/raw \
        --output-dir /data/canonical \
        --stages scenarios,capacity_factors,prices,carbon,abcd,financial,trisk_v2

Each stage is one row of :data:`_STAGES`: the tables it reads from
``--input-dir`` (FIXTURES.md shapes) or from earlier stages'
``--output-dir``, its build function, the tables it writes —
partitioned where downstream reads prune (scenario for pathway-shaped
tables — SURVEY.md §4) — and its checks. A written table's gates are
observed in the job that writes it, and the table is published only
if they all pass (``sources.readers.write_output``); its manifest
gives later stages its schema. A stage's FK gates and audits run
together as one job after its writes.
"""

from __future__ import annotations

import argparse
import os
import sys
import typing

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

from trisk_datawrangle_spark import plans
from trisk_datawrangle_spark.operators.quality import (
    DataQualityError,
    fk_audit,
    null_rows,
    out_of_bounds,
)
from trisk_datawrangle_spark.session import get_spark
from trisk_datawrangle_spark.sources import readers


class _Read(typing.NamedTuple):
    """A table a stage reads, from ``dir`` "input" (--input-dir) or
    "output" (an earlier stage's table in --output-dir). An
    ``optional`` table that was never written reads as None."""

    table: str
    dir: str = "input"
    optional: bool = False


def _out(table: str, optional: bool = False) -> _Read:
    return _Read(table, "output", optional)


class _Stage(typing.NamedTuple):
    #: build keyword -> table read, in read order
    reads: dict[str, _Read]
    #: (**frames, start_year, time_horizon) -> {table: DataFrame}
    build: typing.Callable[..., dict[str, DataFrame]]
    #: table written -> partition_by, in write order
    writes: dict[str, list[str] | None]
    #: table written -> {gate name: () -> condition a bad row
    #: satisfies}, observed during the table's write
    gates: dict = {}
    #: FK gates, checked after the writes; each (child col, parent
    #: col) pair is one reference: (child read, parent read, [pairs])
    fk_gates: tuple = ()
    #: orphan-count audits, evaluated in the same job as ``fk_gates``,
    #: one stderr line per pair; same shape
    audits: tuple = ()


def _scenarios(raw, lookup, types, start_year, **_):
    kinds = types.select("scenario", "scenario_type").collect()
    baseline, shock = (
        [r["scenario"] for r in kinds if r["scenario_type"] == kind]
        for kind in ("baseline", "shock")
    )
    out = plans.prepare_scenarios_analysis_input(
        {"all": raw}, lookup, baseline, shock, start_year=start_year
    )
    return {"Scenarios_AnalysisInput": out}


def _capacity_factors(raw, **_):
    cf = plans.capacity_factors
    out = cf.clone_missing_technologies(cf.prepare_capacity_factors(raw))
    return {"prewrangled_capacity_factors": out}


def _prices(raw, start_year, time_horizon):
    out = plans.prepare_price_data_long(
        raw, horizon_end=start_year + max(time_horizon, 30)
    )
    return {"price_data_long": out}


def _carbon(raw, **_):
    return {"ngfs_carbon_price": plans.prepare_ngfs_carbon_price(raw)}


def _abcd(activities, emissions, start_year, time_horizon):
    out = plans.prepare_abcd_data(
        activities, emissions, start_year=start_year, time_horizon=time_horizon
    )
    return {"abcd_stress_test_input": out}


def _financial(eikon, tree, abcd, **_):
    companies = abcd.select("company_id", "ald_sector")
    out = plans.prepare_financial_data(eikon, companies, tree)
    return {"prewrangled_financial_data_stress_test": out}


def _trisk_v2(scen, prices, cf, abcd, fin, carbon, **_):
    if carbon is None:
        print(
            "ngfs_carbon_price not found — assembling without "
            "carbon prices",
            file=sys.stderr,
        )
    scen, prices, cf = plans.align_to_common_scenarios(scen, prices, cf)
    return {
        "assets_data": plans.assemble_assets_data(abcd, fin),
        "scenarios_data": plans.assemble_scenarios_data(
            scen, cf, prices, carbon
        ),
    }


def _verify_fk(**_):
    # The referential-integrity gate the reference's dbml declares
    # but never runs (data-raw/outputs_structure.dbml:69-107). The
    # row's FK GATES (raise) hold the join-safety invariants the
    # assembly relies on; its AUDITS (orphan counts to stderr) cover
    # the lookup-coverage Refs, which legitimately report gaps when a
    # source ships partial coverage.
    return {}


_STAGES: dict[str, _Stage] = {
    "scenarios": _Stage(
        {"raw": _Read("scenario_analysis_input"),
         "lookup": _Read("sector_tech_lookup"),
         "types": _Read("scenario_types")},
        _scenarios, {"Scenarios_AnalysisInput": ["scenario"]},
        # Q3 guard (run_prepare_Scenarios_AnalysisInput.R:288-371)
        gates={"Scenarios_AnalysisInput": {
            "scenario_type is NULL": lambda: null_rows(["scenario_type"]),
        }},
    ),
    "capacity_factors": _Stage(
        {"raw": _Read("capacity_factors_raw")}, _capacity_factors,
        {"prewrangled_capacity_factors": ["scenario"]},
        # Q4 bounds (R/prepare_prewrangled_capacity_factors.R:182-193)
        gates={"prewrangled_capacity_factors": {
            "capacity_factor outside [0.0, 1.0]":
                lambda: out_of_bounds("capacity_factor", 0.0, 1.0),
        }},
    ),
    "prices": _Stage(
        {"raw": _Read("price_raw")}, _prices,
        {"price_data_long": ["scenario"]},
    ),
    "carbon": _Stage(
        {"raw": _Read("ngfs_carbon_price_raw")}, _carbon,
        {"ngfs_carbon_price": None},
    ),
    "abcd": _Stage(
        {"activities": _Read("company_activities"),
         "emissions": _Read("company_emissions")},
        _abcd, {"abcd_stress_test_input": None},
    ),
    "financial": _Stage(
        {"eikon": _Read("eikon_data"), "tree": _Read("ownership_tree"),
         "abcd": _out("abcd_stress_test_input")},
        _financial, {"prewrangled_financial_data_stress_test": None},
    ),
    "trisk_v2": _Stage(
        {"scen": _out("Scenarios_AnalysisInput"),
         "prices": _out("price_data_long"),
         "cf": _out("prewrangled_capacity_factors"),
         "abcd": _out("abcd_stress_test_input"),
         "fin": _out("prewrangled_financial_data_stress_test"),
         "carbon": _out("ngfs_carbon_price", optional=True)},
        _trisk_v2, {"assets_data": None, "scenarios_data": ["scenario"]},
    ),
    "verify_fk": _Stage(
        {"scen": _out("Scenarios_AnalysisInput"),
         "abcd": _out("abcd_stress_test_input"),
         "fin": _out("prewrangled_financial_data_stress_test"),
         "price_data_long": _out("price_data_long"),
         "ngfs_carbon_price": _out("ngfs_carbon_price", optional=True),
         "prewrangled_capacity_factors": _out("prewrangled_capacity_factors")},
        _verify_fk, {},
        fk_gates=(
            ("abcd", "fin", [("company_id", "company_id")]),
            ("abcd", "scen",
             [("year", "year"), ("ald_sector", "ald_sector"),
              ("ald_business_unit", "ald_business_unit")]),
        ),
        audits=(
            ("abcd", "scen",
             [("ald_production_unit", "units"),
              ("scenario_geography", "scenario_geography")]),
            ("scen", "price_data_long",
             [("year", "year"), ("scenario", "scenario"),
              ("scenario_geography", "scenario_geography"),
              ("ald_sector", "sector"), ("units", "unit")]),
            ("scen", "ngfs_carbon_price",
             [("year", "year"), ("scenario", "scenario"),
              ("scenario_geography", "scenario_geography")]),
            ("scen", "prewrangled_capacity_factors",
             [("year", "year"), ("scenario", "scenario"),
              ("scenario_geography", "scenario_geography"),
              ("ald_business_unit", "ald_business_unit")]),
        ),
    ),
}

ALL_STAGES = tuple(_STAGES)


def _not_written(stage: str, table: str, base: str) -> str:
    writer = next(n for n, s in _STAGES.items() if table in s.writes)
    return (
        f"stage {stage!r} reads {table}, which stage {writer!r} "
        f"writes, but {base} has no {table}.parquet: run "
        f"{writer!r} first"
    )


def _read(
    spark: SparkSession, base: str, read: _Read, stage: str
) -> DataFrame | None:
    try:
        return readers.read_table(spark, f"{base}/{read.table}.parquet")
    except AnalysisException as ex:
        # only "never written" may degrade to None or be explained; a
        # corrupt or unreadable table must fail loudly as it is
        if "PATH_NOT_FOUND" not in str(ex):
            raise
        if read.optional:
            return None
        if read.dir != "output":
            raise
        raise FileNotFoundError(_not_written(stage, read.table, base)) from ex


def _check_fks(stage: str, row: _Stage, frames: dict) -> None:
    """The row's FK gates and audits as one job: raise on the first
    failing gate, in table order, else print one line per audit."""
    refs = [
        (gate, child, parent, pair)
        for gate, group in ((True, row.fk_gates), (False, row.audits))
        for child, parent, pairs in group
        if frames[parent] is not None
        for pair in pairs
    ]
    found = fk_audit([(frames[c], frames[p], [pair]) for _, c, p, pair in refs])
    for (gate, *_), audit in zip(refs, found):
        if gate:
            audit.check()
    orphans = {ref[1:]: a.orphan_keys for ref, a in zip(refs, found)}
    for child, parent, pairs in row.audits:
        if frames[parent] is None:
            print(
                f"[{stage}] {child} -> {parent}: skipped, "
                f"{row.reads[parent].table} not found",
                file=sys.stderr,
            )
            continue
        for ccol, pcol in pairs:
            print(
                f"[{stage}] {child}.{ccol} -> {parent}.{pcol}: "
                f"{orphans[child, parent, (ccol, pcol)]} orphan keys",
                file=sys.stderr,
            )


def run_stage(
    spark: SparkSession,
    stage: str,
    input_dir: str,
    output_dir: str,
    start_year: int,
    time_horizon: int,
) -> None:
    if stage not in _STAGES:
        raise ValueError(f"unknown stage {stage!r}")
    row = _STAGES[stage]
    dirs = {"input": input_dir, "output": output_dir}
    frames = {
        key: _read(spark, dirs[r.dir], r, stage)
        for key, r in row.reads.items()
    }
    built = row.build(
        **frames, start_year=start_year, time_horizon=time_horizon
    )
    for table, partition_by in row.writes.items():
        gates = {n: gate() for n, gate in row.gates.get(table, {}).items()}
        try:
            # looked up at call time, so a wrapped write_output is honoured
            readers.write_output(
                built[table],
                f"{output_dir}/{table}.parquet",
                partition_by=partition_by,
                gates=gates,
            )
        except DataQualityError as ex:
            raise DataQualityError(
                f"stage {stage!r}, table {table}: {ex}"
            ) from ex
    _check_fks(stage, row, frames)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--input-dir", required=True)
    ap.add_argument("--output-dir", required=True)
    ap.add_argument(
        "--stages", default=",".join(ALL_STAGES),
        help="comma-separated subset, dependency order is enforced",
    )
    ap.add_argument("--start-year", type=int, default=2022)
    ap.add_argument("--time-horizon", type=int, default=5)
    ap.add_argument("--master", default=None)
    args = ap.parse_args(argv)

    wanted = [s.strip() for s in args.stages.split(",") if s.strip()]
    unknown = set(wanted) - set(ALL_STAGES)
    if unknown:
        ap.error(f"unknown stages: {sorted(unknown)}")
    ordered = [s for s in ALL_STAGES if s in wanted]
    # every required output-dir read is written by an earlier selected
    # stage or already there; only a local --output-dir can be checked
    # before Spark starts (the others fail in _read)
    local = "://" not in args.output_dir
    written: set[str] = set()
    for stage in ordered:
        for read in _STAGES[stage].reads.values():
            if (
                local and read.dir == "output" and not read.optional
                and read.table not in written
                and not os.path.exists(
                    f"{args.output_dir}/{read.table}.parquet"
                )
            ):
                ap.error(_not_written(stage, read.table, args.output_dir))
        written |= set(_STAGES[stage].writes)

    spark = get_spark(app_name="trisk-workflow", master=args.master)
    spark.sparkContext.setLogLevel("ERROR")
    for stage in ordered:
        print(f"[trisk-workflow] stage {stage}", file=sys.stderr)
        run_stage(
            spark,
            stage,
            args.input_dir,
            args.output_dir,
            args.start_year,
            args.time_horizon,
        )
    print(f"[trisk-workflow] done: {ordered}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
