"""Persisted IVF-PQ index: probe-from-disk must equal the inline
probe exactly for the same trained model, and the codes read must be
partition-pruned to the probed cells."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from trisk_datawrangle_spark.llm.pq_index import (
    ivf_pq_index_topk,
    load_ivf_pq_model,
    write_ivf_pq_index,
)
from trisk_datawrangle_spark.llm.similarity import (
    ivf_pq_topk,
    train_ivf_centroids,
    train_pq_codebooks,
)


def _embs(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )


def test_persisted_probe_equals_inline_probe(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("pqidx")) + "/idx"
    e = _embs(spark)
    q = e.filter(F.col("vec_id") < 10)
    cent = train_ivf_centroids(e, n_cells=16)
    books = train_pq_codebooks(e, m=8)
    write_ivf_pq_index(e, path, centroids=cent, codebooks=books)

    inline = {
        (r.query_id, r.rank): (r.neighbor_id, round(r.cosine, 9))
        for r in ivf_pq_topk(
            e, q, k=5, n_probe=4, centroids=cent, codebooks=books
        ).collect()
    }
    persisted = {
        (r.query_id, r.rank): (r.neighbor_id, round(r.cosine, 9))
        for r in ivf_pq_index_topk(spark, path, q, k=5, n_probe=4).collect()
    }
    assert inline and persisted == inline

    # model round-trips bit-exact through the parquet tables
    import numpy as np

    c2, b2 = load_ivf_pq_model(spark, path)
    assert np.array_equal(np.asarray(cent, dtype=np.float64), c2)
    assert np.array_equal(np.asarray(books, dtype=np.float64), b2)


def test_persisted_probe_prunes_cells(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("pqidx_prune")) + "/idx"
    e = _embs(spark)
    q = e.filter(F.col("vec_id") < 3)
    write_ivf_pq_index(e, path, n_cells=16)
    res = ivf_pq_index_topk(spark, path, q, k=3, n_probe=2)
    plan = res._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "__cell" in pf[0], plan
    # 3 queries × 2 probes touch at most 6 of the 16 cell partitions
    cells = {
        r["__cell"]
        for r in spark.read.parquet(f"{path}/codes")
        .filter(F.lit(True))
        .select("__cell")
        .distinct()
        .collect()
    }
    assert len(cells) > 6, "fixture must have more cells than the probe set"
    assert res.count() > 0


def test_empty_query_batch_and_empty_probe(spark, tmp_path_factory):
    """An empty request batch returns a typed empty frame without
    reading the index; an LSH-index probe with an empty delta is
    likewise empty (no verification join planned)."""
    path = str(tmp_path_factory.mktemp("pqidx_empty")) + "/idx"
    e = _embs(spark)
    write_ivf_pq_index(e, path, n_cells=8)
    empty_q = e.filter(F.lit(False))
    out = ivf_pq_index_topk(spark, path, empty_q, k=3)
    assert out.columns == ["query_id", "neighbor_id", "cosine", "rank"]
    assert out.count() == 0

    from trisk_datawrangle_spark.llm.lsh_index import (
        minhash_lsh_index_pairs,
        write_lsh_index,
    )

    lpath = str(tmp_path_factory.mktemp("lsh_empty")) + "/idx"
    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta")], "doc_id long, text string"
    )
    write_lsh_index(docs, lpath, n_shards=4)
    empty_docs = docs.filter(F.lit(False))
    assert minhash_lsh_index_pairs(spark, lpath, empty_docs).count() == 0


def test_empty_bootstrap_rejected(spark, tmp_path_factory):
    from trisk_datawrangle_spark.llm.lsh_index import write_lsh_index

    e = _embs(spark).filter(F.lit(False))
    with __import__("pytest").raises(ValueError, match="bootstrap"):
        write_ivf_pq_index(e, str(tmp_path_factory.mktemp("pq_e")) + "/i")
    docs = spark.createDataFrame([], "doc_id long, text string")
    with __import__("pytest").raises(ValueError, match="bootstrap"):
        write_lsh_index(docs, str(tmp_path_factory.mktemp("lsh_e")) + "/i")


def test_unranked_probe_is_bare_candidates_no_python(
    spark, tmp_path_factory
):
    """ranked=False (r13): the full-candidate refine shape must get
    the candidate PAIR SET with no ADC scoring — same pairs as the
    ranked probe, and ZERO Python evaluation nodes in the plan (the
    persisted serving path assigns cells driver-side, so the whole
    candidate stage stays in the JVM)."""
    path = str(tmp_path_factory.mktemp("pqidx_unranked")) + "/idx"
    e = _embs(spark)
    q = e.filter(F.col("vec_id") < 5)
    write_ivf_pq_index(e, path, n_cells=16, m=8)

    cand = ivf_pq_index_topk(
        spark, path, q, k=2_000_000_000, n_probe=16, ranked=False
    )
    assert cand.columns == ["query_id", "neighbor_id"]
    plan = cand._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert node not in plan, plan
    ranked = ivf_pq_index_topk(
        spark, path, q, k=2_000_000_000, n_probe=16, ranked=True
    )
    got = {(r.query_id, r.neighbor_id) for r in cand.collect()}
    ref = {(r.query_id, r.neighbor_id) for r in ranked.collect()}
    assert got == ref and got
    # an empty request batch keeps the same schema as a full one
    for ranked_, full in ((False, cand), (True, ranked)):
        empty = ivf_pq_index_topk(
            spark, path, q.filter(F.lit(False)), ranked=ranked_
        )
        assert empty.dtypes == full.dtypes and empty.count() == 0


def test_collect_query_batch_guard(spark):
    from trisk_datawrangle_spark.llm.similarity import collect_query_batch

    e = _embs(spark)
    rows = collect_query_batch(
        e.filter(F.col("vec_id") < 10), "vec_id", "embedding", max_rows=10
    )
    assert len(rows) == 10
    try:
        collect_query_batch(e, "vec_id", "embedding", max_rows=10)
        raise AssertionError("guard did not fire")
    except ValueError as err:
        assert "max_rows" in str(err)


def test_precollected_q_rows_are_size_guarded(spark, tmp_path_factory):
    """A caller-collected ``q_rows`` batch goes through the same
    MAX_QUERY_BATCH_ROWS guard as the internal collect."""
    import pytest

    from trisk_datawrangle_spark.llm.similarity import (
        MAX_QUERY_BATCH_ROWS,
        ivf_topk,
        rescore_topk,
    )

    path = str(tmp_path_factory.mktemp("pqidx_guard")) + "/idx"
    e = _embs(spark)
    q = e.filter(F.col("vec_id") < 3)
    write_ivf_pq_index(e, path, n_cells=8, m=8)
    cand = ivf_pq_index_topk(spark, path, q, ranked=False)
    too_many = q.collect()[:1] * (MAX_QUERY_BATCH_ROWS + 1)
    for probe in (
        lambda: ivf_pq_index_topk(spark, path, q, q_rows=too_many),
        lambda: rescore_topk(cand, e, q, q_rows=too_many),
        lambda: ivf_topk(
            e, q, centroids=load_ivf_pq_model(spark, path)[0],
            q_rows=too_many,
        ),
    ):
        with pytest.raises(ValueError, match="max_rows"):
            probe()


def test_model_memo_arrays_are_frozen(spark, tmp_path_factory):
    """The memoized model ndarrays are shared across callers — they
    must be read-only so one caller's in-place edit cannot poison
    every later probe (r13, advice item)."""
    import numpy as np
    import pytest

    path = str(tmp_path_factory.mktemp("pqidx_frozen")) + "/idx"
    e = _embs(spark)
    write_ivf_pq_index(e, path, n_cells=8, m=8)
    cent, books = load_ivf_pq_model(spark, path)
    with pytest.raises(ValueError):
        cent[0, 0] = 0.0
    with pytest.raises(ValueError):
        books[0, 0, 0] = 0.0
    c2, b2 = load_ivf_pq_model(spark, path)
    assert np.array_equal(cent, c2) and np.array_equal(books, b2)
