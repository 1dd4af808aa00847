"""SparkSession factory.

Defaults are chosen for the scale story, not just local tests:
AQE on (runtime re-planning, skew-join splitting, partition
coalescing — Spark's own default, so not set here), Arrow on
(vectorized Python interchange for the few Pandas-UDF operators), UTC
session timezone (deterministic calendar arithmetic against naive
parquet timestamps), and a shuffle-partition count that callers
override per deployment (32 locally; thousands on a real cluster).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "trisk-datawrangle-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults.

    Parameters
    ----------
    master:
        Defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``).
        On a cluster, pass None and let spark-submit own it.
    shuffle_partitions:
        Defaults to 32 locally. At 100 TB scale this should be sized
        so that each shuffle partition is ~128-256 MB (i.e. tens of
        thousands); AQE's coalescing makes over-provisioning cheap.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    conf = {
        # local-mode driver heap: the JVM default (1g) OOMs on plans
        # with many cached/broadcast stages; only applies at JVM
        # launch (harmless no-op on an existing session / real cluster
        # where spark-submit owns sizing)
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        # spark.sql.optimizer.canChangeCachedPlanOutputPartitioning
        # stays at its default (false) — MEASURED both ways in r12:
        # true exposes cached-stage partitioning to consumers and
        # removes 3 exchanges from flagship (warm ~1.0 → ~0.74 s),
        # but it also lets AQE coalesce the cached shingle tables the
        # dedup ladder shares to one post-shuffle partition, which
        # serializes their downstream 64-way signature aggregation
        # (d2 0.97 → 2.1 s, d3 1.3 → 1.9 s warm sf0.1). Net loss;
        # revisit if the dedup caches ever stop being the hot path.
        # Deterministic time semantics vs naive parquet timestamps.
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.shuffle.partitions": str(shuffle_partitions or 32),
        # Arrow-batched interchange for Pandas UDF operators.
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # The test corpus stores TIMESTAMP(NANOS) which Spark refuses
        # by default; read as long and convert in the loader.
        "spark.sql.legacy.parquet.nanosAsLong": "true",
        # ANSI off by default: the engine's null/NaN contract
        # (SURVEY.md §7.3) is written against non-ANSI division/cast
        # semantics with explicit guards. The expressions themselves
        # are kept ANSI-safe (mod-p minhash, guarded division, no
        # numeric casts of timestamps) because the correctness driver
        # runs Spark 4 defaults (ANSI on) — set SPARK_GRAFT_ANSI=true
        # to run the whole builder harness under that driver-like
        # configuration (see BASELINE.md).
        "spark.sql.ansi.enabled": os.environ.get(
            "SPARK_GRAFT_ANSI", "false"
        ),
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
