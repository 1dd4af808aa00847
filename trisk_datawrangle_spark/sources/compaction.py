"""Small-file compaction for partitioned parquet tables.

The operational problem at 100 TB: incremental writers
(``merge_by_key``, hourly appends) leave partitions holding hundreds
of KB-scale files. Scans then pay one task + one open per file, the
driver pays listing and footer reads, and shuffles inherit the
tiny-split skew. Compaction is the
janitor: rewrite ONLY the offending partitions into ~target-sized
files, leave healthy partitions' files untouched (so their cache/
mtime survive), and swap so that a crash at ANY point never loses a
row.

Swap protocol per partition — whole-directory renames, each atomic
on local/HDFS filesystems, with a decidable recovery rule
(``readers.write_output`` publishes whole tables by the same protocol,
:func:`staging_path` and :func:`swap_in`, with the table as the leaf):

1. write the compacted files to a SIBLING dir
   ``<parent>/.compact-tmp-<leafname>`` (dot-prefixed: invisible to
   Spark's partition discovery, and outside the leaf so a concurrent
   leaf read never lists half-written files);
2. rename ``<leaf>`` → ``<parent>/.compact-trash-<leafname>``;
3. rename tmp → ``<leaf>``;
4. delete trash.

Crash windows and their recovery (run automatically on re-entry):

- tmp exists, trash absent → crashed during/after (1): originals
  are intact in the leaf; delete tmp.
- trash exists, leaf exists → crashed between (3) and (4): the
  promotion completed; delete trash.
- trash exists, leaf absent → crashed between (2) and (3): tmp is
  complete by construction (trash is only created after the tmp
  write fully succeeds); promote tmp, then delete trash.

The only reader-visible anomaly is a missing-partition window
between (2) and (3) — never a partial or mixed file set. On object
stores without atomic dir rename (S3), run it against a real
filesystem layer (HDFS, OneZone, EFS). This is single-writer maintenance (like
``merge_by_key``): do not run it concurrently with a writer on the
same partitions.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import SparkSession

from trisk_datawrangle_spark.sources.incremental import (
    _walk_partition_dirs,
)


def _swap_paths(spark: SparkSession, leaf_str: str):
    """(fs, leaf, tmp, trash) for ``leaf_str``, qualified, so a
    relative leaf still has a parent directory to hold its siblings."""
    Path = spark.sparkContext._jvm.org.apache.hadoop.fs.Path
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    fs = Path(leaf_str).getFileSystem(hconf)
    leaf = fs.makeQualified(Path(leaf_str))
    parent, name = leaf.getParent(), leaf.getName()
    return (
        fs,
        leaf,
        Path(parent, f".compact-tmp-{name}"),
        Path(parent, f".compact-trash-{name}"),
    )


def staging_path(spark: SparkSession, leaf_str: str) -> str:
    """Step 1's target: the dot-prefixed tmp sibling of ``leaf_str``."""
    return _swap_paths(spark, leaf_str)[2].toString()


def swap_in(spark: SparkSession, leaf_str: str) -> None:
    """Steps 2-4: replace ``leaf_str`` (if it exists) by its complete
    tmp sibling. A leaf that never existed is simply promoted."""
    fs, leaf, tmp, trash = _swap_paths(spark, leaf_str)
    if fs.exists(leaf) and not fs.rename(leaf, trash):
        raise OSError(f"could not move {leaf} to {trash}")
    if not fs.rename(tmp, leaf):
        raise OSError(f"could not promote {tmp} to {leaf}")
    fs.delete(trash, True)


def recover_partition(spark: SparkSession, leaf_str: str) -> str | None:
    """Apply the module-docstring recovery rule for one leaf. Returns
    the action taken (None if there was nothing to recover)."""
    fs, leaf, tmp, trash = _swap_paths(spark, leaf_str)
    if fs.exists(trash):
        if fs.exists(leaf):
            fs.delete(trash, True)  # promotion completed, janitor died
            return "deleted-trash"
        fs.rename(tmp, leaf)  # tmp is complete once trash exists
        fs.delete(trash, True)
        return "promoted-tmp"
    if fs.exists(tmp):
        fs.delete(tmp, True)  # originals intact; abandon the attempt
        return "deleted-tmp"
    return None


def partition_file_stats(
    spark: SparkSession, path: str, partition_by: Sequence[str]
) -> list[dict]:
    """Per-partition file census: leaf path, file count, total bytes,
    smallest file — the input to the compaction decision (and a
    useful health report on its own)."""
    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(hconf)
    out = []
    for leaf in _walk_partition_dirs(fs, jvm, path, len(partition_by)):
        if leaf.getName().startswith((".", "_")):
            continue
        files = [
            st
            for st in fs.listStatus(leaf)
            if st.isFile() and not st.getPath().getName().startswith((".", "_"))
        ]
        if not files:
            continue
        sizes = [st.getLen() for st in files]
        out.append(
            {
                "leaf": leaf.toString(),
                "n_files": len(files),
                "bytes": sum(sizes),
                "min_file_bytes": min(sizes),
            }
        )
    return out


def compact_partitions(
    spark: SparkSession,
    path: str,
    partition_by: Sequence[str],
    target_bytes: int = 128 * 1024 * 1024,
    max_files: int = 4,
) -> dict:
    """Compact every partition of the parquet table at ``path`` whose
    file count exceeds ``max_files`` into ``ceil(bytes/target_bytes)``
    files, via the crash-safe directory-swap protocol in the module
    docstring (interrupted runs are recovered before the census, so
    re-entering after a crash is always safe). Healthy partitions are
    not read, not rewritten, not touched. Returns a report dict:
    partitions examined / compacted / recovered, files before/after.

    Scale notes: the decision pass is FS metadata only (one listStatus
    per leaf — no data read); each compacted partition is one
    column-complete read + coalesce write, independent and sequential
    here (parallelize across a driver thread pool if thousands of
    partitions need it — deliberately not done by default to bound
    FS load during production hours)."""
    import math

    jvm = spark.sparkContext._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    root = jvm.org.apache.hadoop.fs.Path(path)
    fs = root.getFileSystem(hconf)

    # recovery sweep BEFORE the census: an interrupted swap may have
    # left a leaf renamed away (trash-sibling present, leaf absent) —
    # walk the parent levels for compact markers and repair first
    recovered = 0
    depth = len(partition_by)
    parents = (
        [jvm.org.apache.hadoop.fs.Path(path)]
        if depth == 1
        else _walk_partition_dirs(fs, jvm, path, depth - 1)
    )
    for parent in parents:
        for st in fs.listStatus(parent):
            name = st.getPath().getName()
            for pref in (".compact-trash-", ".compact-tmp-"):
                if name.startswith(pref):
                    leaf_str = f"{parent.toString()}/{name[len(pref):]}"
                    if recover_partition(spark, leaf_str):
                        recovered += 1

    stats = partition_file_stats(spark, path, partition_by)
    report = {
        "examined": len(stats),
        "compacted": 0,
        "recovered": recovered,
        "files_before": 0,
        "files_after": 0,
    }
    for s in stats:
        report["files_before"] += s["n_files"]
        if s["n_files"] <= max_files:
            report["files_after"] += s["n_files"]
            continue
        tmp = staging_path(spark, s["leaf"])
        n_out = max(1, math.ceil(s["bytes"] / float(target_bytes)))
        # partition-column values live in the directory name, not the
        # files — read the leaf dir directly (no partition discovery)
        df = spark.read.parquet(s["leaf"])
        df.coalesce(n_out).write.mode("overwrite").parquet(tmp)
        n_new = len(
            [
                st
                for st in fs.listStatus(jvm.org.apache.hadoop.fs.Path(tmp))
                if st.isFile()
                and not st.getPath().getName().startswith((".", "_"))
            ]
        )
        swap_in(spark, s["leaf"])
        report["compacted"] += 1
        report["files_after"] += n_new
    return report

