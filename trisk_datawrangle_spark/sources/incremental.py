"""Incremental table maintenance on plain parquet: merge a batch of
updates into a partitioned table rewriting ONLY the touched
partitions.

At pipeline scale the daily update touches a handful of date/scenario
partitions of a table whose full rewrite would be a 100 TB job.
Dynamic partition overwrite (``partitionOverwriteMode=dynamic``)
makes ``mode("overwrite")`` replace exactly the partitions present in
the written frame; ``merge_by_key`` builds those partitions' new
content as updates ⊕ (existing ∖ updates-by-key) — an upsert — while
every other partition's files are never read or written.

Partition bookkeeping is STRING-normalized end to end: collected
partition values are always ``cast("string")`` (None stays None), so
a table whose partition column re-infers to a different type than
the update batch (string day written, DateType read back) can never
mis-compare tuples — the failure mode where the drained-partition
sweep deletes the directory it just wrote. Key joins are NULL-SAFE:
a NULL-keyed existing row is replaced by a NULL-keyed update, not
duplicated. Drained-partition cleanup never reconstructs Hive paths
in Python (escaping of ':', ' ', '%' etc. differs from ``str()``) —
it walks the table's real partition directories and unescapes their
names with Spark's own codec.

No table format (Delta/Iceberg) ships in this environment; this is
the same merge shape those formats implement, expressed on the plain
parquet layout the corpus uses. Swap the writer for a MERGE INTO when
a transactional format is available — reader-side plans are
unchanged.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def write_partitioned(
    df: DataFrame, path: str, partition_by: Sequence[str]
) -> None:
    """Initial load: partitioned parquet layout."""
    df.write.mode("overwrite").partitionBy(*partition_by).parquet(path)


def upsert_partitions(df: DataFrame, path: str, partition_by: Sequence[str]) -> None:
    """Overwrite only the partitions present in ``df`` (dynamic mode
    is set per-write, not globally, so other writers keep static
    semantics)."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*partition_by)
        .parquet(path)
    )


def _balanced_or(conds):
    """Pairwise OR reduction: a linear ``a | b | c | …`` chain nests
    one level per term and blows the JVM stack past a few hundred
    partitions; the balanced tree is log-depth for any tuple count."""
    while len(conds) > 1:
        conds = [
            conds[i] if i + 1 >= len(conds) else conds[i] | conds[i + 1]
            for i in range(0, len(conds), 2)
        ]
    return conds[0] if conds else F.lit(False)


def _partition_filter(part_tuples, partition_by: Sequence[str], schema):
    """Partition predicate from STRING-normalized tuples, NULL-safe:
    ``== lit(None)`` evaluates to NULL and silently drops existing
    rows from a NULL partition (which dynamic overwrite then
    deletes). Each string literal is cast to the TABLE's column type
    (constant-folded at plan time) so the column side stays bare:
    relying on implicit coercion instead would wrap a numeric
    partition column in a cast (string-vs-int compares through
    double), defeating parquet partition pruning — and longs beyond
    2^53 would alias, sweeping extra partitions into the rewrite.

    Shape: tuples sharing a prefix on all-but-the-last column
    collapse into one ``prefix AND last IN (...)`` clause, and the
    clauses combine through a BALANCED or-tree — a many-partition
    merge (a banded-index append touches thousands of leaves) stays
    both prunable and stack-safe."""
    types = {f.name: f.dataType for f in schema.fields}

    def lit(c, v):
        return F.lit(None) if v is None else F.lit(v).cast(types[c])

    groups: dict = {}
    for t in part_tuples:
        groups.setdefault(tuple(t[:-1]), []).append(t[-1])
    last = partition_by[-1]
    conds = []
    for prefix in sorted(
        groups, key=lambda p: tuple("" if x is None else str(x) for x in p)
    ):
        clause = F.lit(True)
        for c, v in zip(partition_by[:-1], prefix):
            clause = clause & F.col(c).eqNullSafe(lit(c, v))
        vals = groups[prefix]
        non_null = sorted(v for v in vals if v is not None)
        tail = F.lit(False)
        if non_null:
            tail = F.col(last).isin(*[lit(last, v) for v in non_null])
        if any(v is None for v in vals):
            tail = tail | F.col(last).isNull()
        conds.append(clause & tail)
    return _balanced_or(conds)


def _collect_part_tuples(df: DataFrame, partition_by: Sequence[str]):
    """Distinct partition tuples with every value cast to string
    (None preserved) — ONE normalization for old/new/written sets so
    type drift between the update batch and the re-inferred table
    schema cannot make identical partitions compare unequal."""
    rows = (
        df.select(
            *[F.col(c).cast("string").alias(c) for c in partition_by]
        )
        .distinct()
        .collect()
    )
    return {tuple(r[c] for c in partition_by) for r in rows}


def _walk_partition_dirs(fs, jvm, root, depth: int):
    """Leaf partition directories exactly ``depth`` levels below
    ``root`` (Hive layout: one level per partition column)."""
    level = [jvm.org.apache.hadoop.fs.Path(root)]
    for _ in range(depth):
        nxt = []
        for d in level:
            for st in fs.listStatus(d):
                if st.isDirectory():
                    nxt.append(st.getPath())
        level = nxt
    return level


def merge_by_key(
    spark: SparkSession,
    updates: DataFrame,
    path: str,
    keys: Sequence[str],
    partition_by: Sequence[str],
    evolve_schema: bool = False,
) -> None:
    """Upsert ``updates`` into the table at ``path``: rows matching on
    ``keys`` are replaced (wherever they currently live; NULL key
    values match NULL — an upsert must not duplicate NULL-keyed
    rows), new rows appended, and only affected partitions are
    rewritten.

    Schema contract: by default an update batch carrying a column the
    table lacks is REJECTED (an explicit error, not the silent drop a
    plain ``select(existing.columns)`` would do — losing a column of
    a daily feed on the day it first appears is the worst possible
    default). With ``evolve_schema=True`` the merge widens instead:
    the table is read with ``mergeSchema`` (so earlier widenings are
    seen), new columns are appended to the layout, and rows from the
    other side get NULL for columns they don't carry — additive
    evolution only, the same contract Delta's ``mergeSchema`` gives;
    columns can never be dropped or retyped here. NOTE: unevolved
    partitions' old files simply lack the new column — readers must
    use ``mergeSchema=true`` (or a declared schema) on this table
    from then on.

    Affected partitions = partitions named by the update batch ∪
    partitions currently holding an updated key (a key may move
    between partitions; finding its old home is one column-pruned
    semi-join over (keys, partition cols) — no data columns read).
    The existing-side read filters to those partitions, drops rows
    whose key reappears in the batch (null-safe left-anti join over
    just those partitions' rows), and the union is written with
    dynamic partition overwrite. A partition whose every row moved
    away is deleted explicitly (dynamic overwrite cannot write an
    empty partition); the delete matches the table's REAL directory
    names (walk + Spark's own unescape codec), never a Python-built
    path whose escaping could silently miss.
    """
    keys = list(keys)
    partition_by = list(partition_by)
    upd_keys = updates.select(*keys).distinct()
    # ALWAYS mergeSchema: on a previously-widened table a
    # single-footer schema pick can miss the widened column — the
    # kept-rows rewrite would then silently drop that column from
    # every partition it touches. Footer-merge planning cost is the
    # price; a declared catalog schema is the production escape.
    table = spark.read.option("mergeSchema", "true").parquet(path)
    extra = [c for c in updates.columns if c not in table.columns]
    if not evolve_schema:
        missing = [c for c in table.columns if c not in updates.columns]
        if extra or missing:
            raise ValueError(
                "merge_by_key: update batch schema differs from the "
                f"table (extra columns {extra}, missing {missing}); "
                "pass evolve_schema=True to widen the table / pad "
                "NULLs (silently dropping a column would lose its "
                "first day of data)"
            )

    def key_cond(left: DataFrame, right: DataFrame):
        cond = None
        for k in keys:
            c = left[k].eqNullSafe(right[k])
            cond = c if cond is None else cond & c
        return cond

    # partitions that currently hold any updated key (key moves);
    # dict.fromkeys dedups key∩partition columns (selecting a column
    # twice makes the join reference ambiguous)
    probe_cols = list(dict.fromkeys([*keys, *partition_by]))
    probe = table.select(*probe_cols)
    old_parts = _collect_part_tuples(
        probe.join(upd_keys, key_cond(probe, upd_keys), "left_semi"),
        partition_by,
    )
    new_parts = _collect_part_tuples(updates, partition_by)
    parts = new_parts | old_parts
    if not parts:
        return
    existing = table.filter(_partition_filter(parts, partition_by, table.schema))
    kept = existing.join(upd_keys, key_cond(existing, upd_keys), "left_anti")
    if evolve_schema:
        # widening union pads BOTH sides' gaps: a batch adding a
        # column widens the table; a later batch NOT carrying an
        # already-widened column pads NULL for it
        merged = updates.unionByName(kept, allowMissingColumns=True)
        # keep partition columns LAST (the parquet layout convention
        # write_partitioned produces) regardless of update order
        data_cols = [c for c in merged.columns if c not in partition_by]
        merged = merged.select(*data_cols, *partition_by)
    else:
        merged = updates.select(*existing.columns).unionByName(kept)
    # the merged frame re-reads `path` while overwrite is rewriting it
    # → materialize before the write (localCheckpoint severs lineage)
    merged = merged.localCheckpoint(eager=True)
    written = _collect_part_tuples(merged, partition_by)
    upsert_partitions(merged, path, partition_by)
    # partitions fully drained by key moves: dynamic overwrite wrote
    # no rows there, so the stale files must be removed explicitly
    drained = parts - written
    if drained:
        jvm = spark.sparkContext._jvm
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        root = jvm.org.apache.hadoop.fs.Path(path)
        fs = root.getFileSystem(hconf)
        utils = jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        # Fast path: build each drained leaf's expected path with
        # Spark's OWN escape codec (the exact inverse of the
        # unescape the fallback walk uses) and delete just those —
        # O(|drained|) filesystem RPCs instead of one listStatus per
        # directory per level over the whole table, which is a
        # driver hotspot on a many-partition table. If any expected
        # path is absent (layout drift, a codec mismatch on some
        # exotic filesystem) fall back to the exhaustive walk so the
        # stale files are still found by their real names.
        missing = False
        for t in drained:
            segs = [
                "%s=%s"
                % (
                    utils.escapePathName(c),
                    _HIVE_NULL if v is None else utils.escapePathName(v),
                )
                for c, v in zip(partition_by, t)
            ]
            leaf = jvm.org.apache.hadoop.fs.Path(
                path.rstrip("/") + "/" + "/".join(segs)
            )
            if fs.exists(leaf):
                fs.delete(leaf, True)
            else:
                missing = True
        if not missing:
            return
        unescape = utils.unescapePathName
        for leaf in _walk_partition_dirs(fs, jvm, path, len(partition_by)):
            # decode each `col=value` level back to the string-
            # normalized tuple the bookkeeping uses
            segs = []
            p = leaf
            for _ in range(len(partition_by)):
                name = p.getName()
                val = name.split("=", 1)[1] if "=" in name else name
                val = unescape(val)
                segs.append(None if val == _HIVE_NULL else val)
                p = p.getParent()
            t = tuple(reversed(segs))
            if t in drained:
                fs.delete(leaf, True)
