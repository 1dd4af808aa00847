"""IVF (inverted-file) approximate nearest-neighbor properties.

The IVF scale path (sampled spherical k-means quantizer → vectorized
cell assignment → n_probe search) must (a) recover exact brute force
when probing every cell, (b) lose recall gracefully as n_probe
shrinks, and (c) be deterministic run-to-run — the quantizer trains
on a hash-ordered sample, not a partition-dependent one.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR
from trisk_datawrangle_spark.llm.similarity import (
    cosine_topk,
    ivf_topk,
    train_ivf_centroids,
)


def _pairs(rows):
    return {(r.query_id, r.neighbor_id) for r in rows}


def test_full_probe_recovers_brute_force(spark):
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 10)
    exact = cosine_topk(e, q, k=5).collect()
    full = ivf_topk(e, q, k=5, n_cells=8, n_probe=8).collect()
    assert _pairs(full) == _pairs(exact)
    # and the ranks agree, not just the pair sets
    assert sorted((r.query_id, r.rank, r.neighbor_id) for r in full) == sorted(
        (r.query_id, r.rank, r.neighbor_id) for r in exact
    )


def test_partial_probe_recall_degrades_gracefully(spark):
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 10)
    exact = _pairs(cosine_topk(e, q, k=5).collect())
    half = _pairs(ivf_topk(e, q, k=5, n_cells=8, n_probe=4).collect())
    quarter = _pairs(ivf_topk(e, q, k=5, n_cells=8, n_probe=2).collect())
    # measured 0.76 / 0.38 on this data — wide margins against drift
    assert len(half & exact) / len(exact) >= 0.5
    assert len(quarter & exact) / len(exact) >= 0.2
    # every returned neighbor is a real corpus id, no self-matches
    ids = {r.vec_id for r in e.select("vec_id").collect()}
    assert all(n in ids and qid != n for qid, n in half)


def test_centroids_deterministic_and_normalized(spark):
    import numpy as np

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    c1 = train_ivf_centroids(e, n_cells=8)
    c2 = train_ivf_centroids(e.repartition(7), n_cells=8)
    # identical across partition layouts (hash-ordered sample)
    assert np.allclose(c1, c2)
    assert np.allclose(np.linalg.norm(c1, axis=1), 1.0)


def test_ivf_results_deterministic(spark):
    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 10)
    a = sorted(map(tuple, ivf_topk(e, q, k=5, n_cells=8, n_probe=4).collect()))
    b = sorted(map(tuple, ivf_topk(e, q, k=5, n_cells=8, n_probe=4).collect()))
    assert a == b


def test_lsh_dim_autodetect_buckets_spread(spark):
    """With dim auto-detected the LSH buckets must actually spread
    (the dim-mismatch failure mode collapses every row into one
    all-zeros bucket = silent brute force)."""
    from trisk_datawrangle_spark.llm.similarity import lsh_bucket_topk

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 10)
    res = lsh_bucket_topk(e, q, k=5)  # no dim passed — probed
    assert res.count() > 0
    # internal check: buckets over the corpus are not a single value
    from trisk_datawrangle_spark.llm.similarity import _hyperplanes  # noqa: F401
    # (recall behavior already covered; here we just assert non-collapse
    # via result diversity: candidates exist for several queries)
    assert res.select("query_id").distinct().count() >= 5


def test_vectorized_topk_ignores_zero_vectors(spark):
    """A zero embedding (failed extraction) must not become the rank-1
    neighbor of every query via NaN cosines."""
    import numpy as np  # noqa: F401

    from trisk_datawrangle_spark.llm.similarity import cosine_topk_vectorized

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    dim = len(e.select("embedding").head()["embedding"])
    zero = e.sparkSession.createDataFrame(
        [(999999, [0.0] * dim, 0)], "vec_id long, embedding array<float>, label int"
    )
    corpus = e.unionByName(zero)
    q = e.filter(F.col("vec_id") < 10)
    res = cosine_topk_vectorized(corpus, q, k=3).collect()
    assert all(r.neighbor_id != 999999 for r in res if r.rank == 1)
    assert all(not (r.cosine != r.cosine) for r in res)  # no NaN survives


def test_blocked_pairs_match_vectorized_exactly(spark):
    """The blocked self-GEMM (no driver collect) must emit the exact
    same pair set and cosines as the broadcast-verifier formulation,
    for any block count — every unordered pair lands in exactly one
    block-pair group."""
    from trisk_datawrangle_spark.llm.similarity import (
        cosine_pairs_blocked,
        cosine_pairs_vectorized,
    )

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    ref = {
        (r.id_a, r.id_b): r.cosine
        for r in cosine_pairs_vectorized(e, threshold=0.45).collect()
    }
    assert ref, "fixture must produce at least one qualifying pair"
    for n_blocks in (1, 3, 8):
        got = {
            (r.id_a, r.id_b): r.cosine
            for r in cosine_pairs_blocked(
                e, threshold=0.45, n_blocks=n_blocks
            ).collect()
        }
        assert set(got) == set(ref), f"pair set drift at B={n_blocks}"
        for key, cos in got.items():
            assert abs(cos - ref[key]) < 1e-9, (key, n_blocks)


def test_ivf_pq_recall_and_determinism(spark):
    """IVF-PQ (compressed inverted lists + ADC scoring) must (a) keep
    useful recall at full probe — losses come only from quantization,
    (b) approximate the true cosine within loose quantization error,
    and (c) be deterministic run-to-run (hash-ordered training
    sample, deterministic k-means init)."""
    from trisk_datawrangle_spark.llm.similarity import ivf_pq_topk

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 10)
    exact_rows = cosine_topk(e, q, k=5).collect()
    exact = _pairs(exact_rows)
    got_rows = ivf_pq_topk(
        e, q, k=5, n_cells=8, n_probe=8, m=16, k_codes=256
    ).collect()
    got = _pairs(got_rows)
    # full probe -> only quantization error. This corpus is a hard
    # case (cosines tightly clustered near the top), so measured
    # recall is 0.72 at m=16,k=256 (0.90 at m=32) — assert a margin
    assert len(got & exact) / len(exact) >= 0.5
    # ADC scores approximate the true cosine
    true_cos = {
        (r.query_id, r.neighbor_id): r.cosine for r in exact_rows
    }
    for r in got_rows:
        if (r.query_id, r.neighbor_id) in true_cos:
            assert abs(r.cosine - true_cos[(r.query_id, r.neighbor_id)]) < 0.25
    # determinism
    again = _pairs(
        ivf_pq_topk(
            e, q, k=5, n_cells=8, n_probe=8, m=16, k_codes=256
        ).collect()
    )
    assert again == got


def test_pq_codebook_shapes_and_dim_guard(spark):
    import pytest

    from trisk_datawrangle_spark.llm.similarity import train_pq_codebooks

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    books = train_pq_codebooks(e, m=8, k_codes=16, sample_size=256)
    assert books.shape == (8, 16, 8)  # dim 64 / m 8
    with pytest.raises(ValueError):
        train_pq_codebooks(e, m=7)


def test_ivf_pq_with_rescore_recovers_recall(spark):
    """Two-stage retrieval: PQ proposes R=20 candidates, exact
    rescoring keeps top-5 — recall must beat raw PQ top-5 and the
    kept cosines must be exact (match brute force values)."""
    from trisk_datawrangle_spark.llm.similarity import (
        ivf_pq_topk,
        rescore_topk,
    )

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 10)
    exact_rows = cosine_topk(e, q, k=5).collect()
    exact = _pairs(exact_rows)
    pq5 = _pairs(
        ivf_pq_topk(e, q, k=5, n_cells=8, n_probe=8, m=16, k_codes=256).collect()
    )
    cand = ivf_pq_topk(e, q, k=20, n_cells=8, n_probe=8, m=16, k_codes=256)
    refined_rows = rescore_topk(cand, e, q, k=5).collect()
    refined = _pairs(refined_rows)
    r_pq = len(pq5 & exact) / len(exact)
    r_ref = len(refined & exact) / len(exact)
    assert r_ref >= r_pq
    assert r_ref >= 0.8  # measured: rescore recovers most of the loss
    # refined cosines are exact — identical to brute-force values
    true_cos = {(r.query_id, r.neighbor_id): r.cosine for r in exact_rows}
    for r in refined_rows:
        if (r.query_id, r.neighbor_id) in true_cos:
            assert abs(r.cosine - true_cos[(r.query_id, r.neighbor_id)]) < 1e-9


def test_vectorized_pairs_reject_oversized_corpus(spark):
    """The broadcast verifier must refuse a corpus above max_rows
    with an actionable error (naming the collect-free replacement)
    instead of collecting it to the driver — the keyless-as-of
    rejection pattern applied to the one function a naive user could
    point at a full corpus."""
    import pytest as _pytest

    from trisk_datawrangle_spark.llm.similarity import (
        cosine_pairs_vectorized,
    )

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    with _pytest.raises(ValueError, match="cosine_pairs_blocked"):
        cosine_pairs_vectorized(e, threshold=0.45, max_rows=3).collect()
    # and the explicit-override escape hatch still works
    small = e.limit(4)
    assert cosine_pairs_vectorized(small, threshold=-1.0, max_rows=4).count() > 0


def test_ivf_plan_is_single_fused_python_pass(spark):
    """r12 shape contract: the IVF scoring plan crosses Python ONCE
    (the fused assign+score mapInPandas) — no per-pair expression
    dots, no join carrying vector arrays, and the global rank window
    sees only partition-local top-k rows."""
    import re

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 10)
    res = ivf_topk(e, q, k=5, n_cells=8, n_probe=4)
    plan = res._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    heads = re.findall(r"^\(\d+\) (\w+)", plan, re.M)
    assert heads.count("MapInPandas") == 1, plan
    assert "Join" not in " ".join(heads), plan


def test_empty_query_batch_returns_typed_empty(spark):
    """r12: the driver-side probe must not die on a zero-row request
    batch — both vectorized paths return the typed empty frame the
    old join-based plans produced."""
    from trisk_datawrangle_spark.llm.similarity import rescore_topk

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    none = e.filter(F.col("vec_id") < -1)
    out = ivf_topk(e, none, k=5, n_cells=8, n_probe=4)
    assert out.columns == ["query_id", "neighbor_id", "cosine", "rank"]
    assert out.count() == 0
    cand = spark.createDataFrame([], "query_id long, neighbor_id long")
    out2 = rescore_topk(cand, e, none, k=5)
    assert out2.columns == ["query_id", "neighbor_id", "cosine", "rank"]
    assert out2.count() == 0


def test_collect_query_batch_guard(spark):
    import pytest

    from trisk_datawrangle_spark.llm.similarity import collect_query_batch

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    rows = collect_query_batch(
        e.filter(F.col("vec_id") < 10), "vec_id", "embedding", max_rows=10
    )
    assert len(rows) == 10
    with pytest.raises(ValueError, match="max_rows"):
        collect_query_batch(e, "vec_id", "embedding", max_rows=10)


def test_unranked_ivf_pq_is_bare_candidates(spark):
    """ranked=False (r13): the full-candidate refine shape gets the
    candidate PAIR SET with no ADC scoring — the same pairs as the
    ranked probe."""
    from trisk_datawrangle_spark.llm.similarity import ivf_pq_topk

    e = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    q = e.filter(F.col("vec_id") < 5)
    kw = dict(k=2_000_000_000, n_cells=16, n_probe=16, m=8)
    cand = ivf_pq_topk(e, q, ranked=False, **kw)
    assert cand.columns == ["query_id", "neighbor_id"]
    ranked = ivf_pq_topk(e, q, ranked=True, **kw)
    got = _pairs(cand.collect())
    assert got == _pairs(ranked.collect()) and got
