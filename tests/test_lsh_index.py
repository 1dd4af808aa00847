"""Persisted LSH index lifecycle: bootstrap → probe must equal the
inline incremental derivation exactly; probes must partition-prune
both stored tables; appends must be idempotent merges."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from trisk_datawrangle_spark.llm.dedup import (
    minhash_lsh_incremental_pairs,
)
from trisk_datawrangle_spark.llm.lsh_index import (
    lsh_index_append,
    minhash_lsh_index_pairs,
    read_index_meta,
    write_lsh_index,
)


def _docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "text"
    )


def _split(docs):
    existing = docs.filter(F.col("doc_id") % 10 != 0)
    incoming = docs.filter(F.col("doc_id") % 10 == 0)
    return existing, incoming


def test_index_probe_matches_inline_incremental(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("lshidx")) + "/idx"
    docs = _docs(spark)
    existing, incoming = _split(docs)
    write_lsh_index(existing, path, num_hashes=64, bands=32)
    assert read_index_meta(spark, path)["bands"] == 32

    got = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_lsh_index_pairs(
            spark, path, incoming, threshold=0.5
        ).collect()
    }
    ref = {
        (r.id_a, r.id_b): r.jaccard
        for r in minhash_lsh_incremental_pairs(
            existing, incoming, num_hashes=64, bands=32, threshold=0.5
        ).collect()
    }
    assert ref, "fixture must produce cross-set near-dup pairs"
    assert set(got) == set(ref)
    for k, j in got.items():
        assert abs(j - ref[k]) < 1e-12, k


def test_index_probe_prunes_partitions(spark, tmp_path_factory):
    """The probe's index reads must show PartitionFilters on the
    shard columns (the tests/test_plans.py pruning-assert pattern) —
    an unpruned probe would rescan the full corpus index per batch."""
    from trisk_datawrangle_spark.llm.lsh_index import _pruned_bands_read
    from trisk_datawrangle_spark.llm.dedup import (
        _banded_table,
        _signatures_from_shingles,
        shingle_hashes,
    )

    path = str(tmp_path_factory.mktemp("lshidx_prune")) + "/idx"
    docs = _docs(spark)
    existing, incoming = _split(docs)
    write_lsh_index(existing, path, num_hashes=64, bands=16, n_shards=8)
    meta = read_index_meta(spark, path)

    one_doc = incoming.orderBy("doc_id").limit(1)
    sh = shingle_hashes(one_doc, "text", "doc_id", meta["ngram"], True)
    banded = _banded_table(
        _signatures_from_shingles(sh, meta["num_hashes"]),
        meta["num_hashes"],
        meta["bands"],
    ).withColumn("bshard", F.pmod(F.col("bucket"), F.lit(meta["n_shards"])))
    pruned = _pruned_bands_read(spark, path, banded)
    plan = pruned._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "band" in pf[0] and "bshard" in pf[0], plan
    # r13: the pruning is injected dynamically (broadcast semi-join on
    # the partition columns) — the scan must carry the DPP expression,
    # or the probe would re-scan the full index per batch
    assert "dynamicpruningexpression(band" in pf[0], plan
    # a one-doc probe touches at most `bands` partitions; the full
    # layout has bands × n_shards — the read must be a strict subset
    n_read = pruned.select("band", "bshard").distinct().count()
    assert 0 < n_read <= meta["bands"]


def test_index_append_idempotent_and_probe_sees_new_docs(
    spark, tmp_path_factory
):
    path = str(tmp_path_factory.mktemp("lshidx_app")) + "/idx"
    docs = _docs(spark)
    existing, incoming = _split(docs)
    batch1 = incoming.filter(F.col("doc_id") % 20 == 0)
    write_lsh_index(existing, path, num_hashes=64, bands=32)

    before = spark.read.parquet(f"{path}/shingles").count()
    lsh_index_append(batch1, path)
    after1 = spark.read.parquet(f"{path}/shingles").count()
    assert after1 > before
    lsh_index_append(batch1, path)  # retry: replace, never duplicate
    assert spark.read.parquet(f"{path}/shingles").count() == after1
    bands_tbl = spark.read.parquet(f"{path}/bands")
    assert (
        bands_tbl.groupBy("id", "band").count().filter("count > 1").count()
        == 0
    )

    # a second batch now collides with batch1 docs through the index
    batch2 = batch1.withColumn(
        "doc_id", F.col("doc_id") + F.lit(1000000)
    )
    pairs = minhash_lsh_index_pairs(spark, path, batch2, threshold=0.9)
    ids_a = {r.id_a for r in pairs.collect()}
    assert any(a % 20 == 0 and a < 1000000 for a in ids_a)


def test_stream_dedup_ingest_loop(spark, tmp_path_factory):
    """The full continual-ingestion loop: batches flow through
    probe → pairs sink → index append; later batches dedup against
    earlier ones, and the streaming result equals the batch-derived
    ground truth."""
    import os

    from pyspark.sql import functions as F

    from trisk_datawrangle_spark.llm.lsh_index import stream_dedup_ingest

    base = str(tmp_path_factory.mktemp("lsh_stream"))
    idx, pairs_out, ckpt, src = (
        f"{base}/idx", f"{base}/pairs", f"{base}/ckpt", f"{base}/src"
    )
    docs = _docs(spark)
    existing = docs.filter(F.col("doc_id") % 10 != 0)
    write_lsh_index(existing, idx, num_hashes=64, bands=32, n_shards=8)

    incoming = docs.filter(F.col("doc_id") % 10 == 0)
    incoming.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(incoming.schema).parquet(src)
    q = stream_dedup_ingest(
        stream, idx, pairs_out, ckpt, threshold=0.5
    )
    q.awaitTermination(120)

    got = {
        (r.id_a, r.id_b)
        for r in spark.read.parquet(pairs_out).collect()
    }
    ref = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_incremental_pairs(
            existing, incoming, num_hashes=64, bands=32, threshold=0.5
        ).collect()
    }
    # every batch-mode cross-set pair is found; the stream may also
    # legitimately find incoming-vs-incoming pairs across micro-
    # batches (docs appended to the index before later batches)
    assert ref and ref <= got
    inc_ids = {r.doc_id for r in incoming.select("doc_id").collect()}
    assert all(b in inc_ids for _, b in got)
    # the batch's docs are now IN the index
    idx_ids = {
        r.id
        for r in spark.read.parquet(f"{idx}/shingles")
        .select("id").distinct().collect()
    }
    assert inc_ids <= idx_ids
    assert os.path.isdir(ckpt)


def test_publish_index_swaps_and_rolls(spark, tmp_path_factory):
    """Retrain-and-swap: probes against the live path serve the OLD
    index until publish, the NEW one after; first publish (no live
    yet) works; the retired copy is gone."""
    import os

    from trisk_datawrangle_spark.llm.lsh_index import publish_index

    base = str(tmp_path_factory.mktemp("lsh_pub"))
    docs = _docs(spark)
    existing, incoming = _split(docs)
    live = f"{base}/live"

    write_lsh_index(existing, f"{base}/v1", num_hashes=64, bands=32,
                    n_shards=8)
    publish_index(spark, f"{base}/v1", live)  # first publish: no live yet
    n1 = minhash_lsh_index_pairs(spark, live, incoming, threshold=0.5).count()
    assert n1 > 0

    # retrain on a shrunk corpus, stage, publish
    write_lsh_index(
        existing.limit(50), f"{base}/v2", num_hashes=64, bands=32,
        n_shards=8,
    )
    publish_index(spark, f"{base}/v2", live)
    n2 = minhash_lsh_index_pairs(spark, live, incoming, threshold=0.5).count()
    assert n2 <= n1
    assert not os.path.exists(f"{base}/v2")        # staged moved
    assert not os.path.exists(f"{live}.retired")   # old deleted

    import pytest as _pytest

    with _pytest.raises(ValueError, match="absent"):
        publish_index(spark, f"{base}/nope", live)


def test_relation_memo_identity_and_invalidation(spark, tmp_path_factory):
    """r12 memo contract: repeated probes reuse ONE relation handle
    per (app, table dir); every mutator entry point purges it (the
    publish-swap and append tests above prove the end-to-end
    behavior — this pins the mechanism)."""
    from trisk_datawrangle_spark.llm.lsh_index import (
        _invalidate_index_relations,
        _read_index_table,
    )

    base = str(tmp_path_factory.mktemp("memo"))
    spark.range(10).selectExpr("id", "id * 2 AS v").write.mode(
        "overwrite"
    ).parquet(f"{base}/bands")
    a = _read_index_table(spark, base, "bands")
    b = _read_index_table(spark, base, "bands")
    assert a is b
    _invalidate_index_relations(base)
    c = _read_index_table(spark, base, "bands")
    assert c is not a


def test_relation_memo_evicts_least_recently_used(monkeypatch):
    """A handle read again stays in the bounded memo while 63 newer
    keys arrive; the handles nobody touched are evicted first. No
    SparkSession: a stub stands in for ``spark.read.parquet``."""
    from types import SimpleNamespace

    from trisk_datawrangle_spark.llm import lsh_index

    monkeypatch.setattr(lsh_index, "_RELATION_MEMO", {})
    stub = SimpleNamespace(
        sparkContext=SimpleNamespace(applicationId="app"),
        read=SimpleNamespace(parquet=lambda p: object()),
    )
    hot = lsh_index._read_index_table(stub, "/idx/hot", "bands")
    for i in range(63):  # the memo is now full: 64 entries
        lsh_index._read_index_table(stub, f"/idx/old{i}", "bands")
    assert lsh_index._read_index_table(stub, "/idx/hot", "bands") is hot
    for i in range(63):
        lsh_index._read_index_table(stub, f"/idx/new{i}", "bands")
    memo = lsh_index._RELATION_MEMO
    assert len(memo) == 64
    assert ("app", "/idx/hot/bands") in memo
    assert not any(k[1].startswith("/idx/old") for k in memo)
