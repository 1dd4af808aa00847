"""Driver-t2 mirror: every catalog query vs its DuckDB oracle at
sf0.001 (the driver runs the same protocol at sf0.01)."""

from __future__ import annotations

import pytest

from trisk_datawrangle_spark.catalog import ORACLES, QUERIES
from tests.oracle_harness import run_one


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(name, spark, duck, sf_dir):
    ok, msg = run_one(name, spark, duck, sf_dir, QUERIES, ORACLES)
    assert ok, f"{name}: {msg}"


def test_entry_smoke(spark):
    import __spark_entry__ as entrymod

    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert {"segment", "priority", "year", "value", "tmsr", "smsp"} == set(
        df.columns
    )


def test_every_query_has_oracle():
    # since round 4 the full catalog is oracle-gated: hash-seeded ops
    # compose with exact verification (d3/d4/c2), deterministic
    # hashing is replayed in SQL (s2 planes, m3 sha features), and
    # approximate sketches are gated against ground truth (a13)
    assert set(QUERIES) == set(ORACLES)
