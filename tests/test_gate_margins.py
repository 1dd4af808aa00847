"""Corpus-margin scans for the probabilistic driver gates.

d3/d4 (MinHash-LSH / SimHash, verified against an exact-Jaccard
oracle) and s6 (IVF-PQ recall flag) are hard hash-gates built on
probabilistic recall plus a claimed corpus property: the documents
corpus has no near-dup pairs inside the LSH margin band, SimHash
Hamming stays under the band guarantee for every qualifying pair,
and the PQ pipeline's aggregate recall clears the 0.5 flag bar with
margin. If the driver ever regenerates /root/testdata with different
statistics, these scans fail HERE with a diagnostic listing the
offending pairs — instead of the driver gate failing as an opaque
hash mismatch (ADVICE r4, catalog/llm.py:162).
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR

# the driver's correctness protocol runs at sf0.01; the default test
# SF is sf0.001 — scan both when present so a regenerated corpus
# fails in CI at the same scale the driver gates at
_SCAN_DIRS = [
    d
    for d in {SF_DIR, "/root/testdata/sf0.01"}
    if os.path.isdir(d)
]


@pytest.mark.parametrize("sf", _SCAN_DIRS)
def test_jaccard_margin_band_is_empty(spark, sf):
    """d3's verified-LSH gate needs the corpus gap: true dups ≥ 0.8
    Jaccard, background ≤ 0.14, nothing in between. A pair inside
    (0.2, 0.75) would sit where 32×2-band LSH recall is genuinely
    probabilistic and the exact-oracle comparison could flip."""
    from trisk_datawrangle_spark.llm.dedup import ngram_jaccard_pairs

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    pairs = (
        ngram_jaccard_pairs(
            docs, "text", "doc_id", n=3, threshold=0.2, exhaustive=True
        )
        .filter(F.col("jaccard") < 0.75)
        .collect()
    )
    assert not pairs, (
        f"{sf}: corpus gained Jaccard pairs inside the (0.2, 0.75) "
        f"margin band — d3/d4's exact-oracle gate is no longer safe: "
        f"{[(r.id_a, r.id_b, round(r.jaccard, 3)) for r in pairs[:10]]}"
    )


@pytest.mark.parametrize("sf", _SCAN_DIRS)
def test_simhash_hamming_within_band_guarantee(spark, sf):
    """d4 buckets 16 bands × 4 bits: pairs within Hamming < 16 are
    pigeonhole-guaranteed a shared band. Every qualifying (≥ 0.5
    Jaccard) pair must stay under that bound, or d4's recall claim
    breaks on the regenerated corpus."""
    from trisk_datawrangle_spark.llm.dedup import (
        ngram_jaccard_pairs,
        simhash_table,
    )

    docs = spark.read.parquet(f"{sf}/documents.parquet")
    qual = ngram_jaccard_pairs(
        docs, "text", "doc_id", n=3, threshold=0.5, exhaustive=True
    ).select("id_a", "id_b")
    st = simhash_table(docs, "text", "doc_id", 3)
    sa = st.select(F.col("id").alias("id_a"), F.col("simhash").alias("ha"))
    sb = st.select(F.col("id").alias("id_b"), F.col("simhash").alias("hb"))
    bad = (
        qual.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "hamming", F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
        )
        .filter(F.col("hamming") >= 16)
        .collect()
    )
    assert not bad, (
        f"{sf}: qualifying near-dup pairs now exceed SimHash Hamming "
        f"15 — d4's 16×4-bit band guarantee no longer covers them: "
        f"{[(r.id_a, r.id_b, r.hamming) for r in bad[:10]]}"
    )


@pytest.mark.parametrize("sf", _SCAN_DIRS)
def test_pq_recall_gate_margin(spark, sf):
    """s6 flags aggregate recall@5 ≥ 0.5 at n_probe=8/16 cells,
    candidates=40, m=8. Assert ≥ 0.6 here (1.2× the gate) so corpus
    drift degrades THIS test first, with the measured number in the
    message, before the driver gate hash-mismatches."""
    from trisk_datawrangle_spark.llm.similarity import (
        cosine_topk,
        ivf_pq_topk,
        rescore_topk,
    )

    e = spark.read.parquet(f"{sf}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in cosine_topk(e, q, k=5).collect()
    }
    approx = {
        (r.query_id, r.neighbor_id)
        for r in rescore_topk(
            ivf_pq_topk(e, q, k=40, n_cells=16, n_probe=8, m=8), e, q, k=5
        ).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, (
        f"{sf}: IVF-PQ pipeline recall@5 fell to {recall:.2f} — the "
        f"s6 driver flag (bar 0.5) is at risk; retune n_probe/m or "
        f"the flag threshold before the driver window runs"
    )


@pytest.mark.parametrize("sf", _SCAN_DIRS)
def test_asof_oracle_right_side_keys_are_unique(spark, sf):
    """e3/e7 hash-match DuckDB's native ASOF JOIN, whose pick among
    right rows tied at the same (key, ts) is UNSPECIFIED — our
    join_asof pins 'largest carried struct' in every direction, so
    the oracle gate is only safe while the events corpus has no
    duplicate (user_id, ts) error rows. A regenerated corpus that
    introduces one should fail here with a diagnostic, not as an
    opaque driver hash mismatch."""
    import duckdb

    n = duckdb.sql(
        f"SELECT count(*) FROM ("
        f"  SELECT user_id, ts FROM '{sf}/events.parquet'"
        f"  WHERE event_type = 'error'"
        f"  GROUP BY user_id, ts HAVING count(*) > 1)"
    ).fetchone()[0]
    assert n == 0, (
        f"{sf}: {n} duplicate (user_id, ts) error keys — e3/e7's "
        f"DuckDB ASOF oracle tie pick is unspecified; either dedup "
        f"the right side in the entries or drop the hash gate"
    )
