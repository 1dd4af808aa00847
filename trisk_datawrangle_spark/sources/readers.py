"""Typed sources and sinks (SURVEY.md §2.1).

Contract from the reference: schemas are *pinned*, never inferred —
``readr::cols_only`` both projects and types at scan time
(run_prepare_Scenarios_AnalysisInput.R:41-49). Here every reader takes
an explicit schema; with parquet, column pruning and predicate
pushdown then reach the scan for free (check ``PushedFilters`` /
``ReadSchema`` in ``.explain``). The workflow's parquet reads
(:func:`read_table`) pin theirs too: a published table's from its
``_manifest.json``, a raw input's from its parquet footers, read on
the driver, so no read runs Spark's schema-inference job.
"""

from __future__ import annotations

import json
import time
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from trisk_datawrangle_spark.operators.quality import DataQualityError
from trisk_datawrangle_spark.sources.compaction import (
    recover_partition,
    staging_path,
    swap_in,
)

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_csv_typed(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
    sep: str = ",",
    header: bool = True,
) -> DataFrame:
    """S1/S2: CSV scan with a pinned schema (select+cast at scan).
    ``sep=';'`` covers the reference's read_delim sites
    (run_prepare_price_data_long.R:318-329)."""
    return (
        spark.read.option("header", header)
        .option("sep", sep)
        .schema(schema)
        .csv(path)
    )


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: StructType | str,
) -> DataFrame:
    """JSON-lines scan with a pinned schema. Always pass the schema:
    schema inference reads the whole input twice, and at corpus scale
    a drifting inferred type (long→double, string→struct) silently
    corrupts downstream plans. Malformed lines land in NULL rows
    rather than failing the scan (PERMISSIVE), which quality ops
    (operators/quality.py) then surface."""
    return spark.read.schema(schema).option("mode", "PERMISSIVE").json(path)


def write_jsonl(df: DataFrame, path: str, single_file: bool = False) -> None:
    """JSON-lines sink — the interchange format for document corpora
    (one doc per line, splittable when uncompressed, appendable)."""
    out = df.coalesce(1) if single_file else df
    out.write.mode("overwrite").json(path)


def read_excel_sheet(
    spark: SparkSession, path: str, sheet: str, schema: str | None = None
) -> DataFrame:
    """S3: Excel ingest (prepare_asset_impact_data.R:7-41).

    Spark has no native xlsx source; the workbook is parsed
    driver-side (Excel inputs are small dimension files by
    construction) into a DataFrame, after which everything is
    distributed. pandas+openpyxl handles feature-rich workbooks when
    present; otherwise the stdlib parser (sources/excel.py) covers
    the subset real data workbooks use. At scale the landing zone
    should convert xlsx → parquet once, upstream.
    """
    try:
        import pandas as pd

        pdf = pd.read_excel(path, sheet_name=sheet)
        return spark.createDataFrame(pdf, schema=schema)
    except ImportError:
        pass  # no pandas xlsx engine — stdlib fallback below
    from trisk_datawrangle_spark.sources.excel import read_xlsx_rows

    header, rows = read_xlsx_rows(path, sheet)
    if schema is None:
        schema = ", ".join(f"`{h}` string" for h in header)
        rows = [[None if v is None else str(v) for v in r] for r in rows]
    return spark.createDataFrame(rows, schema=schema)


# Columns historically stored as TIMESTAMP(NANOS) in the corpus
# parquet — Spark has no nanos timestamp type, so they are read as
# long (see ``spark.sql.legacy.parquet.nanosAsLong``) and converted
# to microsecond timestamps here (exact integer division).
NANO_TS_COLS: dict[str, tuple[str, ...]] = {
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
    "events": ("ts",),
}


def _normalize_timestamps(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Cast every TIMESTAMP_NTZ column to TIMESTAMP at the read
    boundary.

    The corpus parquet stores tz-less ``timestamp[us]``, which Spark 4
    (``spark.sql.parquet.inferTimestampNTZ.enabled`` default) reads as
    TIMESTAMP_NTZ — a type that cannot be cast to numerics and forks
    every downstream time expression into a second dtype. The relabel is timezone-explicit: the NTZ wall
    clock is treated as UTC regardless of the caller's session
    timezone, so the resulting TIMESTAMP carries exactly the NTZ
    micros and this function never mutates session state. ``get_spark``
    sessions are pinned UTC anyway, making the conversion an identity
    there.

    Non-UTC sessions go through ``make_timestamp(..., 'UTC')`` on the
    extracted fields rather than a wall-clock shift + session-tz cast:
    the cast resolves DST-ambiguous wall clocks (the fall-back hour)
    to the earlier offset, silently moving those instants by an hour —
    UTC has no DST, so field-wise construction is exact for every
    instant including both DST boundaries (micros preserved via
    ``extract(second)``'s fractional seconds).
    """
    from pyspark.sql.types import TimestampNTZType

    ntz = [f.name for f in df.schema.fields
           if isinstance(f.dataType, TimestampNTZType)]
    if ntz:
        session_tz = spark.conf.get("spark.sql.session.timeZone")
        if session_tz in (None, "UTC", "Etc/UTC", "GMT", "Z"):
            casts = {c: F.col(c).cast("timestamp") for c in ntz}
        else:
            def _relabel(name: str):
                # backticks in a column name must be doubled inside a
                # quoted attribute reference
                col = F.col("`" + name.replace("`", "``") + "`")
                return F.make_timestamp(
                    F.year(col),
                    F.month(col),
                    F.dayofmonth(col),
                    F.hour(col),
                    F.minute(col),
                    # fractional seconds ride extract's DECIMAL output
                    F.extract(F.lit("SECOND"), col),
                    F.lit("UTC"),
                )

            casts = {c: _relabel(c) for c in ntz}
        df = df.withColumns(casts)
    return df


#: Per-process memo of corpus RELATIONS (r12 optimization): the
#: DataFrame handle only — the parquet file index and inferred
#: schema, i.e. table METADATA, exactly what Spark's own catalog
#: caches for registered tables (guide §6 file-listing cache). Every
#: action on a memoized frame still scans the parquet files, so
#: bench/oracle runs keep computing from the inputs; what stops
#: being re-paid is the ~90 ms/table of driver-side footer read +
#: relation building that every catalog entry re-ran on every call
#: (measured: 10 tables = 0.78-0.95 s per load_tables call; per-entry
#: build cost 0.28-0.68 s of pure metadata work, ~4-6 s of the 20 s
#: sf0.1 warm suite). Keyed by (applicationId, abs dir, table,
#: session timeZone): a new session never sees a stopped session's
#: JVM handles, and the NTZ relabel branch chosen at build time
#: depends on the session timezone (tests/test_reader_timezone.py).
#: Corpus inputs are immutable by contract (the driver's testdata,
#: read-only); writers in this package never overwrite a corpus dir
#: in place.
_TABLE_MEMO: dict[tuple[str, str, str, str], DataFrame] = {}


def load_tables(
    spark: SparkSession, sf_dir: str, names: Sequence[str] = TABLES
) -> dict[str, DataFrame]:
    """S4: parquet scans for the test corpus."""
    import os

    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    app = spark.sparkContext.applicationId
    base = os.path.abspath(sf_dir)
    tz = spark.conf.get("spark.sql.session.timeZone") or "UTC"
    out: dict[str, DataFrame] = {}
    missing = [
        n for n in names if (app, base, n, tz) not in _TABLE_MEMO
    ]
    if missing:
        # runtime-set too: the driver may pass a session built
        # without it
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    for name in missing:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        for c in NANO_TS_COLS.get(name, ()):
            if c in df.columns and isinstance(df.schema[c].dataType, LongType):
                # integer DIV, not float `/`: the nano longs (~1.7e18)
                # exceed double's 53-bit integer range, so float
                # division rounds the microsecond — and engines that
                # truncate ns→µs (DuckDB, Arrow) then disagree by 1µs
                df = df.withColumn(
                    c, F.timestamp_micros(F.expr(f"`{c}` DIV 1000"))
                )
        _TABLE_MEMO[(app, base, name, tz)] = _normalize_timestamps(
            spark, df
        )
    for name in names:
        out[name] = _TABLE_MEMO[(app, base, name, tz)]
    return out


#: fan_out_scan only fires when the WHOLE scan is smaller than this
#: (conf `spark.trisk.fanout.maxInputBytes`): a small unsplittable
#: input is the only case where paying a shuffle to parallelize is
#: provably cheap. Production tables exceed it and keep their scan
#: layout untouched.
_FANOUT_MAX_BYTES = 256 * 1024 * 1024


def fan_out_scan(df: DataFrame, *key_cols: str) -> DataFrame:
    """Guide §2.5 input-skew recovery for UNSPLITTABLE small scans.

    The local corpora are single-file, single-row-group parquet, so
    every scan is one task: the whole downstream chain (joins,
    aggregations, interpreted expression work) runs on one core while
    the rest idle. When — and only when — the scan exposes fewer
    files than cores AND the entire input is small (< 256 MB by
    default; `spark.trisk.fanout.maxInputBytes`), hash-repartition
    the (already projected) frame so the downstream work spreads.
    Hash, not round-robin: a keyless ``repartition(n)`` first pays a
    partition-local sort of the single input task
    (``spark.sql.execution.sortBeforeRepartition``).

    At production scale this is a structural no-op, not a tuning
    knob: many-file inputs fail the file-count gate, big inputs fail
    the byte gate, and non-local filesystems (object stores) skip
    entirely — so no corpus-sized shuffle can ever be introduced by
    it. Callers pass the columns they actually need first; the
    exchange then carries only those.

    Round 13 A/B at sf1 (conf-toggled, same session): x46 0.52 s with
    the fan-out vs 3.35 s without, x4 0.48 vs 3.08 s, x3 2.84 vs
    3.68 s. It does not pay where the consumer repartitions anyway
    (m1's decode) or the per-row work is trivial
    (``yearly_revenue_series``)."""
    import os
    from urllib.parse import unquote, urlparse

    spark = df.sparkSession
    p = spark.sparkContext.defaultParallelism
    cap = int(
        spark.conf.get(
            "spark.trisk.fanout.maxInputBytes", str(_FANOUT_MAX_BYTES)
        )
    )
    files = df.inputFiles()
    if len(files) >= p:
        return df
    total = 0
    for f in files:
        if not f.startswith("file:"):
            return df  # remote store: production layout, leave it
        try:
            total += os.path.getsize(unquote(urlparse(f).path))
        except OSError:
            return df
        if total > cap:
            return df
    return (
        df.repartition(p, *[df[c] for c in key_cols])
        if key_cols
        else df.repartition(p)
    )


def register_views(
    spark: SparkSession, sf_dir: str, names: Sequence[str] = TABLES
) -> dict[str, DataFrame]:
    tables = load_tables(spark, sf_dir, names)
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return tables


def _hadoop_path(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path``, so the manifest goes wherever
    the table goes (local, HDFS, object store)."""
    p = spark.sparkContext._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), p


def read_manifest(spark: SparkSession, path: str) -> dict | None:
    """The ``_manifest.json`` :func:`write_output` published with the
    table at ``path``; None for a table written without one."""
    fs, p = _hadoop_path(spark, f"{path}/_manifest.json")
    if not fs.exists(p):
        return None
    stream = fs.open(p)
    try:
        return json.loads(bytes(stream.readAllBytes()).decode())
    finally:
        stream.close()


def _footer_schema(spark: SparkSession, path: str) -> StructType | None:
    """The data columns of the parquet table at ``path``, from the
    footers of its data files, read on the driver.

    Each footer goes through the converter Spark's inference job runs
    (``ParquetFileFormat.readSchemaFromFooter`` with the session's
    ``ParquetToSparkSchemaConverter``), so the session's parquet
    settings (``binaryAsString``, ``int96AsTimestamp``,
    ``inferTimestampNTZ``, ``nanosAsLong``) type it as inference
    would. A directory's data files are every file below it whose name
    does not start with ``_`` or ``.``, in ``k=v`` partition
    directories too; partition columns are left to discovery.

    None where only inference can decide: schema merging is on, the
    path does not exist (or is a glob), there is no data file, a
    footer does not read, the footers disagree, or a data column is
    named like a partition column (inference types it as discovery
    does, a pinned schema would not)."""
    from py4j.protocol import Py4JJavaError

    if spark.conf.get("spark.sql.parquet.mergeSchema", "false").lower() == "true":
        return None
    jvm, state = spark._jvm, spark._jsparkSession.sessionState()
    fs, root = _hadoop_path(spark, path)
    if not fs.exists(root):
        return None
    files, partitions, dirs = [], set(), [fs.getFileStatus(root)]
    while dirs:
        st = dirs.pop()
        if not st.isDirectory():
            files.append(st)
            continue
        for child in fs.listStatus(st.getPath()):
            name = child.getPath().getName()
            if name.startswith(("_", ".")):
                continue
            if child.isDirectory():
                partitions.add(name.split("=", 1)[0].lower())
            dirs.append(child)
    spark_parquet = jvm.org.apache.spark.sql.execution.datasources.parquet
    hadoop = jvm.org.apache.parquet.hadoop
    converter = spark_parquet.ParquetToSparkSchemaConverter(state.conf())
    conf = state.newHadoopConf()
    skip = jvm.org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
    schemas = set()
    for st in files:
        try:
            meta = spark_parquet.ParquetFooterReader.readFooter(
                hadoop.util.HadoopInputFile.fromStatus(st, conf), skip
            )
        except Py4JJavaError:
            return None
        footer = hadoop.Footer(st.getPath(), meta)
        schema = spark_parquet.ParquetFileFormat.readSchemaFromFooter(footer, converter)
        schemas.add(schema.json())
    if len(schemas) != 1:
        return None
    schema = StructType.fromJson(json.loads(schemas.pop()))
    if any(f.name.lower() in partitions for f in schema):
        return None
    return schema


def read_table(spark: SparkSession, path: str) -> DataFrame:
    """Parquet read of a table with a pinned schema, so the read runs
    no schema-inference job: a table written by :func:`write_output`
    is read with its manifest's schema, any other with its footer
    schema (:func:`_footer_schema`). Only where the footers cannot
    decide does it fall back to ``spark.read.parquet``, whose
    inference job also raises Spark's own errors: PATH_NOT_FOUND for
    a missing path, or the unreadable file named."""
    manifest = read_manifest(spark, path)
    if manifest is not None:
        schema = StructType.fromJson(manifest["schema"])
    else:
        schema = _footer_schema(spark, path)
    if schema is None:
        return spark.read.parquet(path)
    return spark.read.schema(schema).parquet(path)


def _await_running_tasks(spark: SparkSession) -> None:
    """Wait, for at most 10 s, until no executor runs a task."""
    tracker = spark.sparkContext._jsc.sc().statusTracker()
    deadline = time.monotonic() + 10
    while time.monotonic() < deadline and any(
        e.numRunningTasks() for e in tracker.getExecutorInfos()
    ):
        time.sleep(0.02)


def write_output(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    partition_by: Sequence[str] | None = None,
    single_file: bool = False,
    gates: dict[str, Column] | None = None,
) -> dict:
    """S6 sink: check and publish one table in the job that writes it.
    Canonical tables are written partitioned (scenario / year) so
    downstream reads prune partitions (SURVEY.md §4); ``single_file``
    reproduces the reference's one-CSV handoff for small outputs only.

    - ``gates`` maps a check's name to a condition that a bad row
      satisfies. They are counted with ``DataFrame.observe`` during
      the write, together with the row count, so they cost no job.
    - The write goes to a dot-prefixed staging sibling of ``path``
      (``sources.compaction.staging_path``), which readers ignore.
      Only when every gate counted 0 is it swapped in by the
      crash-safe directory swap of ``sources/compaction.py``; a
      staging or trash sibling left by an interrupted publish is
      repaired first. A failed write or gate leaves the previous
      table at ``path`` as it was and no staging directory; a failed
      gate raises :class:`DataQualityError` with up to 5 offending
      rows, read back from the staged files.
    - ``_manifest.json`` goes into the table before the swap: the
      schema a read of the table returns (see :func:`read_table`),
      ``rows``, part ``files``, their ``bytes``, and each gate's
      observed count. It is also the return value.
    """
    spark = df.sparkSession
    gates = gates or {}
    parts = list(partition_by or [])
    recover_partition(spark, path)
    tmp = staging_path(spark, path)
    seen = Observation()
    out = df.observe(
        seen,
        F.count(F.lit(1)).alias("rows"),
        *[F.count(F.when(bad, 1)).alias(name) for name, bad in gates.items()],
    )
    out = out.coalesce(1) if single_file else out
    writer = out.write.mode("overwrite")
    if parts:
        writer = writer.partitionBy(*parts)
    fs, staged = _hadoop_path(spark, tmp)
    try:
        writer.format(fmt).option("header", True).save(tmp)
        counts = seen.get
        # data columns as written, then the partition columns as
        # discovery types them; the explicit schema spares the
        # inference job
        read = spark.read.schema(
            StructType([f for f in df.schema if f.name not in parts])
        ).format(fmt).option("header", True)
        schema = read.load(tmp).schema
        # an empty partitioned write leaves no directory to discover
        for f in df.schema:
            if f.name in parts and f.name not in schema.names:
                schema.add(f.name, f.dataType)
        for name, bad in gates.items():
            if counts[name]:
                rows = read.schema(schema).load(tmp).filter(bad).limit(5).collect()
                raise DataQualityError(
                    f"gate {name!r} failed on {counts[name]} rows; first "
                    f"rows: {[tuple(r) for r in rows]}"
                )
        pattern = "/".join([tmp, *["*"] * len(parts), "part-*"])
        files = list(fs.globStatus(_hadoop_path(spark, pattern)[1]) or [])
        manifest = {
            "schema": json.loads(schema.json()),
            "rows": counts["rows"],
            "files": len(files),
            "bytes": sum(st.getLen() for st in files),
            "gates": {name: counts[name] for name in gates},
        }
        stream = fs.create(_hadoop_path(spark, f"{tmp}/_manifest.json")[1], True)
        try:
            stream.write(bytearray(json.dumps(manifest, indent=1).encode()))
        finally:
            stream.close()
    except BaseException:
        # a failed job's killed tasks may still be writing into the
        # staging directory: let them end before deleting it
        _await_running_tasks(spark)
        fs.delete(staged, True)
        raise
    swap_in(spark, path)
    return manifest
