"""Regression tests for the round-8 self-review findings: each test
pins a bug that was latent (green on the shipped fixtures) but real
on reachable inputs."""

from __future__ import annotations

import os

import duckdb


def test_x48_tokenless_doc_matches_oracle(spark, tmp_path):
    """sequence(0, -1) in Spark yields [0, -1] (auto step -1) — a
    token-less document must produce ZERO segments on both engines,
    not two phantom empty ones."""
    from trisk_datawrangle_spark.catalog import ORACLES, QUERIES

    docs = spark.createDataFrame(
        [
            (1, "real words here live tokens", "s0"),
            (2, "!!! ??? ...", "s0"),   # no [a-z0-9] tokens at all
            (3, "", "s0"),
            (4, "ab cd ab cd ab cd", "s0"),
        ],
        "doc_id long, text string, source string",
    )
    sf = str(tmp_path)
    docs.coalesce(1).write.parquet(os.path.join(sf, "documents.parquet"))
    got = {
        r.doc_id: (r.clean, r.n_kept, r.n_segments)
        for r in QUERIES["x48_line_dedup"](spark, sf).collect()
    }
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"parquet_scan('{sf}/documents.parquet/*.parquet')"
    )
    want = {
        row[0]: (row[1], row[2], row[3])
        for row in con.execute(ORACLES["x48_line_dedup"]).fetchall()
    }
    assert got == want
    assert got[2] == ("", 0, 0)  # the phantom-segment case
    assert got[3] == ("", 0, 0) or got[3][2] == 2  # df-gated


def test_semantic_dedup_exact_tier_custom_columns(spark):
    """The exact tier must honor caller column names, not assume
    vec_id/embedding."""
    from trisk_datawrangle_spark.llm.clustering import semantic_dedup

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [1.0, 0.001]), (3, [0.0, 1.0])],
        "my_id long, emb array<double>",
    )
    out = {
        (r.id, r.keep)
        for r in semantic_dedup(
            df, "emb", "my_id", threshold=0.99, pair_tier="exact"
        ).collect()
    }
    assert out == {(1, True), (2, False), (3, True)}


def test_http_body_chunked_spellings_refused():
    from trisk_datawrangle_spark.llm.extract import http_body

    for hdr in (
        b"Transfer-Encoding:chunked",
        b"transfer-encoding:  chunked",
        b"TRANSFER-ENCODING\t: Chunked",
        # composite gzip+chunked now DECODES when well-formed (r10);
        # 'body' here is neither chunk-framed nor gzip, so it is
        # still refused at the dechunk step
        b"Transfer-Encoding: gzip, chunked",
    ):
        rec = b"HTTP/1.1 200 OK\r\n" + hdr + b"\r\n\r\nbody"
        assert http_body(rec) is None, hdr
    # a non-chunked encoding passes through
    ok = b"HTTP/1.1 200 OK\r\nTransfer-Encoding: identity\r\n\r\nbody"
    assert http_body(ok) == b"body"
