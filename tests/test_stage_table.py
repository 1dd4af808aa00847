"""Shape of run_workflow's stage table, checked without Spark: the
stage order is the table's order, and every stage reads only tables
that an earlier stage wrote."""

from __future__ import annotations

import inspect

from trisk_datawrangle_spark.run_workflow import _STAGES, ALL_STAGES


def test_all_stages_is_table_order():
    assert ALL_STAGES == tuple(_STAGES)


def test_rows_are_wired():
    """Each build accepts its stage's reads; each audit names two."""
    for stage, row in _STAGES.items():
        frames = dict.fromkeys(row.reads)
        inspect.signature(row.build).bind(
            **frames, start_year=2022, time_horizon=5
        )
        for child, parent, _ in row.audits:
            assert {child, parent} <= set(row.reads), stage


def test_checks_name_their_own_rows_tables():
    """Each FK gate and audit joins two reads of its own row; each
    observed gate belongs to a table its row writes."""
    for stage, row in _STAGES.items():
        for child, parent, pairs in row.fk_gates + row.audits:
            assert {child, parent} <= set(row.reads), stage
            assert pairs and all(len(p) == 2 for p in pairs), stage
        assert set(row.gates) <= set(row.writes), stage
        for gates in row.gates.values():
            assert gates and all(callable(g) for g in gates.values()), stage


def test_required_output_reads_are_written_earlier():
    written: set[str] = set()
    for stage, row in _STAGES.items():
        for read in row.reads.values():
            if read.dir == "output" and not read.optional:
                assert read.table in written, (stage, read.table)
        written |= set(row.writes)


def test_no_table_is_written_twice():
    tables = [t for row in _STAGES.values() for t in row.writes]
    assert len(tables) == len(set(tables))
