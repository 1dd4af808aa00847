"""Determinism contract (README "Determinism as a contract"): the
order-independent digest of every workflow output is the same across
core counts, shuffle-partition counts, input row orders and input file
splits.

All 8 stages run on the benchmark's seeded inputs
(``perfbench/gen_trisk``) in three configurations, each in its own
Python process because a JVM's core count is fixed when it starts::

    python tests/test_determinism.py MASTER PARTITIONS INPUT_DIR OUTPUT_DIR

runs one configuration and prints ``perfbench/checks.workflow_digest``
of its outputs as the last stdout line.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")

#: the smallest company count at which the double sums in ``abcd``
#: gave different digests for the first two configurations
N_COMPANIES = 56
SEED = 1
#: name -> (master, shuffle partitions, inputs reversed and split)
CONFIGS = {
    "local[1]/1": ("local[1]", 1, False),
    "local[2]/32": ("local[2]", 32, False),
    "local[4]/32 reversed, 3 files": ("local[4]", 32, True),
}


def _reverse_and_split(src: str, dst: str, n_files: int = 3) -> None:
    """Each ``<table>.parquet`` of ``src`` as a directory of
    ``n_files`` parquet files holding its rows in reverse order."""
    import pyarrow.parquet as pq

    for name in sorted(os.listdir(src)):
        table = pq.read_table(os.path.join(src, name))
        table = table.take(list(range(table.num_rows - 1, -1, -1)))
        os.makedirs(os.path.join(dst, name))
        step = -(-table.num_rows // n_files)
        for i in range(n_files):
            pq.write_table(
                table.slice(i * step, step),
                os.path.join(dst, name, f"part-{i}.parquet"),
            )


def _digest(master: str, partitions: int, inp: str, out: str) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), master,
         str(partitions), inp, out],
        cwd=os.path.dirname(out), capture_output=True, text=True,
        timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_workflow_digest_is_configuration_independent(tmp_path):
    sys.path.insert(0, BENCH)
    import gen_trisk

    plain = str(tmp_path / "in")
    gen_trisk.generate(plain, SEED, N_COMPANIES)
    scrambled = str(tmp_path / "in_reversed")
    _reverse_and_split(plain, scrambled)

    digests = {
        name: _digest(
            master, partitions, scrambled if reverse else plain,
            str(tmp_path / f"out{i}"),
        )
        for i, (name, (master, partitions, reverse)) in enumerate(
            CONFIGS.items()
        )
    }
    first, *rest = CONFIGS
    for name in rest:
        differ = sorted(
            t for t in digests[first] if digests[name][t] != digests[first][t]
        )
        assert not differ, f"{name} vs {first}: {differ}"


if __name__ == "__main__":
    master, partitions, inp, out = sys.argv[1:]
    sys.path[:0] = [ROOT, BENCH]

    import checks
    import gen_trisk

    from trisk_datawrangle_spark import get_spark
    from trisk_datawrangle_spark.run_workflow import ALL_STAGES, run_stage

    spark = get_spark(
        app_name="determinism", master=master,
        shuffle_partitions=int(partitions),
        extra_conf={"spark.ui.enabled": "false",
                    "spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    for stage in ALL_STAGES:
        run_stage(
            spark, stage, inp, out,
            start_year=gen_trisk.START_YEAR,
            time_horizon=gen_trisk.TIME_HORIZON,
        )
    spark.stop()
    print(json.dumps(checks.workflow_digest(out)))
