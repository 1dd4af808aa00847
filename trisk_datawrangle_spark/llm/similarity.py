"""Similarity search over embedding columns (array<float>).

Baseline: brute-force cosine top-k — exact, O(|queries|·|corpus|),
fine when the query side is small enough to broadcast. Scale path:
random-hyperplane LSH bucketing — corpus is hashed once, probes only
touch matching buckets (optionally multi-probe neighboring buckets).

Dot products are pure Catalyst expressions (``zip_with`` +
``aggregate``), computed in double regardless of storage precision.
For very wide vectors move the same contract to a vectorized Pandas
UDF over numpy — keep the column contract identical.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from trisk_datawrangle_spark.sources.readers import fan_out_scan


def _c(col: str | Column) -> Column:
    return F.col(col) if isinstance(col, str) else col


def _dot(a: Column, b: Column) -> Column:
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def _norm(a: Column) -> Column:
    # clamped like every numpy path below (np.maximum(norm, 1e-12)):
    # a zero-norm vector (failed extraction / padded row) must score
    # cosine ~0, not kill the job with ANSI DIVIDE_BY_ZERO
    return F.greatest(
        F.sqrt(
            F.aggregate(
                _c(a),
                F.lit(0.0),
                lambda acc, x: acc + x.cast("double") * x.cast("double"),
            )
        ),
        F.lit(1e-12),
    )


def cosine_similarity(a: str | Column, b: str | Column) -> Column:
    a, b = _c(a), _c(b)
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force cosine top-k: broadcast the query side,
    cross join, window-rank per query. Returns
    (query_id, neighbor_id, cosine, rank). Self-matches excluded.

    Scale: |corpus| × |queries| similarity evaluations, all JVM-side;
    norms are precomputed per side (not per pair)."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        _norm(vec_col).alias("__qn"),
    )
    # parallelize the corpus side through the GATED fan-out (r13,
    # guide §2.4: the unconditional repartition here shuffled the
    # whole corpus's vectors at ANY scale just to spread work; the
    # gate keeps the spread on small unsplittable local scans — where
    # a single input file would otherwise mean a single task — and is
    # structurally inert on split/production layouts, where the scan
    # already parallelizes). Values are partition-independent (per-row
    # dot products + a deterministic global window).
    corpus = fan_out_scan(corpus, id_col)
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        _norm(vec_col).alias("__cn"),
    )
    pairs = c.crossJoin(F.broadcast(q)).filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    cos = _dot(F.col("__qv"), F.col("__cv")) / (F.col("__qn") * F.col("__cn"))
    scored = pairs.withColumn("cosine", cos)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def _hyperplanes(dim: int, n_planes: int, seed: int = 7) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (pure python —
    tiny, shipped as literals into the plan)."""
    planes = []
    state = seed
    for p in range(n_planes):
        vec = []
        for d in range(dim):
            # xorshift-ish LCG, deterministic across platforms
            state = (state * 6364136223846793005 + 1442695040888963407) % (2 ** 64)
            u = ((state >> 11) % (2 ** 32)) / 2 ** 32
            vec.append(math.cos(2 * math.pi * u))  # symmetric around 0
        planes.append(vec)
    return planes


def lsh_bucket_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_planes: int = 8,
    dim: int | None = None,
) -> DataFrame:
    """Approximate cosine top-k via random-hyperplane LSH: bucket =
    sign-bit string of ``n_planes`` projections; candidates = same
    bucket; exact cosine + rank within candidates.

    The corpus-side bucketing is one projection pass; the join is on
    the bucket key, so work scales with bucket occupancy (2^planes
    buckets) instead of |corpus|·|queries|. Recall < 1 by design —
    raise recall with multi-probe (flip one bit) or more tables.

    ``dim`` defaults to the measured embedding length (one-row
    probe). It must match: ``zip_with`` against a shorter plane pads
    with NULLs, the projection goes NULL, every sign bit falls to
    '0', and ALL rows share one bucket — the join silently becomes
    the |corpus|·|queries| brute force this function exists to
    avoid."""
    if dim is None:
        probe = corpus.select(F.size(_c(vec_col)).alias("d")).head()
        if probe is None:
            raise ValueError("empty corpus — cannot infer embedding dim")
        dim = probe["d"]
    planes = _hyperplanes(dim, n_planes)

    def bucket(vec: str) -> Column:
        # one F.expr roundtrip instead of n_planes*(dim+4) py4j
        # Column calls per call site (~1100 for 8 planes x 64 dims
        # over both sides — measured driver latency, not compute;
        # same resolved plan). Plane weights ride as CAST-from-string
        # literals: repr() round-trips doubles exactly and avoids the
        # decimal-literal default of bare SQL numerics.
        bits = []
        for plane in planes:
            arr = ", ".join(
                f"CAST('{x!r}' AS DOUBLE)" for x in plane
            )
            proj = (
                f"aggregate(zip_with(`{vec}`, array({arr}), "
                f"(x, y) -> CAST(x AS DOUBLE) * y), "
                f"CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
            )
            bits.append(f"if({proj} >= 0, '1', '0')")
        return F.expr("concat(" + ", ".join(bits) + ")")

    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
        _norm(vec_col).alias("__cn"),
        bucket(vec_col).alias("__bucket"),
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("__qv"),
        _norm(vec_col).alias("__qn"),
        bucket(vec_col).alias("__bucket"),
    )
    pairs = c.join(F.broadcast(q), "__bucket").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    cos = _dot(F.col("__qv"), F.col("__cv")) / (F.col("__qn") * F.col("__cn"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        pairs.withColumn("cosine", cos)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


#: Hard cap for :func:`cosine_pairs_vectorized`'s driver-side corpus
#: collect. 2M × 64-dim float64 ≈ 1 GiB broadcast — already generous
#: for a verifier tier; anything larger must go through the
#: collect-free :func:`cosine_pairs_blocked`.
MAX_VECTORIZED_CORPUS_ROWS = 2_000_000

#: Ceiling on a collected QUERY batch (r13, advice item): the serving
#: paths (ivf_topk / adc rescore) collect the request batch to the driver for the probe GEMM and the broadcast
#: score matrix — request-sized by the serving contract, but a caller
#: handing a corpus-sized frame by mistake must get a loud error, not
#: a driver OOM. 200k × 64-dim f64 ≈ 100 MB broadcast, a sane cap.
MAX_QUERY_BATCH_ROWS = 200_000


def collect_query_batch(
    queries: DataFrame,
    id_col: str,
    vec_col: str,
    max_rows: int = MAX_QUERY_BATCH_ROWS,
    caller: str = "collect_query_batch",
) -> list:
    """Collect a request-sized query batch ``(id, vec)`` with a size
    guard — ONE plain collect job (a ``limit`` would route through
    executeTake's incremental partition scale-up, several sequential
    mini-jobs for a small batch — measured +0.8 s per probe; a
    pre-count would be a whole extra job): the row-count check runs
    after the collect, and the catastrophic case (a frame several GB
    over the cap) is already aborted cleanly by
    ``spark.driver.maxResultSize`` (1 GB default) before the driver
    can OOM, with an error naming that knob."""
    rows = queries.select(id_col, vec_col).collect()
    if len(rows) > max_rows:
        raise ValueError(
            f"{caller}: query batch exceeds max_rows={max_rows}; this "
            "serving path collects and broadcasts the query batch — "
            "probe in bounded request batches, or raise max_rows "
            "explicitly if the driver really has the memory"
        )
    return rows


def cosine_pairs_vectorized(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_rows: int = MAX_VECTORIZED_CORPUS_ROWS,
) -> DataFrame:
    """All pairs (id_a < id_b) with cosine ≥ ``threshold`` — the
    GEMM formulation of brute-force near-dup detection.

    The expression form (zip_with + aggregate per pair) evaluates
    interpreted: n²/2 HOF evaluations — 33s for 5k vectors at sf0.1.
    Here each corpus partition does one (batch × n) numpy GEMM
    against the broadcast corpus matrix (~60× faster, same pairs).
    The broadcast bounds this at driver-memory corpus sizes — beyond
    that, bucket first (LSH, :func:`lsh_bucket_topk`) or shard the
    GEMM with :func:`ivf_topk`-style cells; this is the verifier, not
    the candidate generator, at 100 TB. Corpora above ``max_rows``
    are REJECTED up front (the keyless-as-of pattern,
    ``operators/temporal.py``) instead of OOMing the driver mid-
    collect — the error names the scale-safe replacement."""
    import numpy as np
    import pandas as pd

    n = df.count()
    if n > max_rows:
        raise ValueError(
            f"cosine_pairs_vectorized: corpus has {n} rows > max_rows="
            f"{max_rows}; this verifier collects the whole corpus to "
            "the driver and would OOM at that size — use "
            "cosine_pairs_blocked (same pairs, no driver collect) for "
            "large corpora, or raise max_rows explicitly if the "
            "driver really has the memory"
        )
    rows = df.select(id_col, vec_col).collect()
    ids = np.array([r[id_col] for r in rows])
    mat = np.array([r[vec_col] for r in rows], dtype=np.float64)
    norm = np.maximum(np.linalg.norm(mat, axis=1), 1e-12)
    sc = df.sparkSession.sparkContext
    bc = sc.broadcast((ids, mat, norm))

    def pairs(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        c_ids, c_mat, c_norm = bc.value
        for pdf in batches:
            b_mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            b_ids = pdf[id_col].to_numpy()
            b_norm = np.maximum(np.linalg.norm(b_mat, axis=1), 1e-12)
            sims = (b_mat @ c_mat.T) / np.outer(b_norm, c_norm)
            keep = (sims >= threshold) & (b_ids[:, None] < c_ids[None, :])
            bi, cj = np.nonzero(keep)
            yield pd.DataFrame(
                {
                    "id_a": b_ids[bi],
                    "id_b": c_ids[cj],
                    "cosine": sims[bi, cj],
                }
            )

    # gated fan-out, not an unconditional repartition (r13): the GEMM
    # batches need parallel INPUT, not clustering — on split inputs the
    # scan already provides it, so shuffling every vector was waste
    part = fan_out_scan(df.select(id_col, vec_col), id_col)
    return part.mapInPandas(pairs, "id_a long, id_b long, cosine double")


def cosine_pairs_blocked(
    df: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int | None = None,
) -> DataFrame:
    """All pairs (id_a < id_b) with cosine ≥ ``threshold`` — exact,
    like :func:`cosine_pairs_vectorized`, but with NO driver-side
    corpus collect/broadcast: the scale-safe formulation.

    Shape: hash every vector into one of ``B`` blocks, replicate each
    row once per block-pair it participates in (``B`` copies), group
    by the (lo, hi) block-pair key, and compute each group's
    similarity matrix as one numpy GEMM inside ``applyInPandas``.
    Exactness is structural — every unordered pair of rows lands in
    exactly one block-pair group — so the same threshold oracle holds.

    Scale: shuffle is ``n·B`` rows (vs the quadratic pair count);
    compute is the same O(n²/2) dot products but spread over
    ``B(B+1)/2`` independent tasks, each holding ~``2n/B`` vectors —
    pick ``B ≈ sqrt(cluster cores)`` so tasks stay memory-bounded.
    All-pairs is inherently quadratic; at corpus sizes where even the
    blocked GEMM is too much, generate candidates approximately
    (:func:`lsh_bucket_topk` / :func:`ivf_topk` cells) and accept
    recall < 1 — but then the exact-threshold contract no longer
    holds, which is why this entry stays exact."""
    import numpy as np
    import pandas as pd

    spark = df.sparkSession
    if n_blocks is None:
        n_blocks = max(4, int(spark.sparkContext.defaultParallelism ** 0.5))
    B = int(n_blocks)

    base = df.select(
        F.col(id_col).cast("long").alias("__id"),
        F.col(vec_col).alias("__v"),
        F.pmod(F.xxhash64(F.col(id_col).cast("long")), F.lit(B))
        .cast("int")
        .alias("__blk"),
    )
    # one replica per block-pair the row participates in; the replica
    # carries its role so the GEMM knows which side of the pair it is
    repl = base.select(
        "__id",
        "__v",
        "__blk",
        F.explode(F.sequence(F.lit(0), F.lit(B - 1))).alias("__other"),
    ).select(
        "__id",
        "__v",
        F.least("__blk", "__other").alias("__p1"),
        F.greatest("__blk", "__other").alias("__p2"),
        F.when(F.col("__blk") <= F.col("__other"), F.lit("a"))
        .otherwise(F.lit("b"))
        .alias("__role"),
    )

    def gemm(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        p1, p2 = key
        empty = pd.DataFrame({"id_a": [], "id_b": [], "cosine": []}).astype(
            {"id_a": "int64", "id_b": "int64", "cosine": "float64"}
        )

        def unit(rows: pd.DataFrame):
            ids = rows["__id"].to_numpy()
            mat = np.array(list(rows["__v"]), dtype=np.float64)
            mat /= np.maximum(
                np.linalg.norm(mat, axis=1, keepdims=True), 1e-12
            )
            return ids, mat

        if p1 == p2:
            ids, mat = unit(pdf)
            if len(ids) < 2:
                return empty
            sims = mat @ mat.T
            xi, yj = np.nonzero(np.triu(sims >= threshold, k=1))
        else:
            a = pdf[pdf["__role"] == "a"]
            b = pdf[pdf["__role"] == "b"]
            if not len(a) or not len(b):
                return empty
            ids_a, mat_a = unit(a)
            ids_b, mat_b = unit(b)
            sims = mat_a @ mat_b.T
            xi, yj = np.nonzero(sims >= threshold)
            lo = np.minimum(ids_a[xi], ids_b[yj])
            hi = np.maximum(ids_a[xi], ids_b[yj])
            return pd.DataFrame(
                {"id_a": lo, "id_b": hi, "cosine": sims[xi, yj]}
            )
        lo = np.minimum(ids[xi], ids[yj])
        hi = np.maximum(ids[xi], ids[yj])
        return pd.DataFrame({"id_a": lo, "id_b": hi, "cosine": sims[xi, yj]})

    return (
        repl.groupBy("__p1", "__p2")
        .applyInPandas(gemm, "id_a long, id_b long, cosine double")
    )


def train_ivf_centroids(
    corpus: DataFrame,
    n_cells: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_size: int = 4096,
    iters: int = 5,
):
    """Train the IVF coarse quantizer: spherical k-means on a
    deterministic sample of the corpus.

    The sample is the ``sample_size`` rows with the smallest
    ``xxhash64(id)`` — deterministic across runs and cluster layouts
    (unlike ``DataFrame.sample``, whose output depends on partition
    split). Lloyd iterations run driver-side in numpy: the training
    set is a bounded sample and the centroid matrix is
    ``n_cells × dim`` floats, both trivially driver-sized even at a
    100 TB corpus (sampling cost is one scan + a top-``sample_size``
    selection). Returns a normalized ``(n_cells, dim)`` ndarray in a
    deterministic order (sorted by first component).
    """
    import numpy as np

    rows = (
        corpus.select(F.col(id_col).alias("i"), F.col(vec_col).alias("v"))
        .withColumn("__h", F.xxhash64("i"))
        .orderBy("__h", "i")
        .limit(sample_size)
        .collect()
    )
    mat = np.array([r["v"] for r in rows], dtype=np.float64)
    mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
    n_cells = min(n_cells, len(mat))
    cent = mat[:n_cells].copy()  # deterministic init: first rows in hash order
    for _ in range(iters):
        assign = np.argmax(mat @ cent.T, axis=1)
        for c in range(n_cells):
            members = mat[assign == c]
            if len(members):  # empty cell keeps its old centroid
                cent[c] = members.mean(axis=0)
        cent /= np.maximum(np.linalg.norm(cent, axis=1, keepdims=True), 1e-12)
    order = np.lexsort(cent.T[::-1])
    return cent[order]


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    n_probe: int = 4,
    centroids=None,
) -> DataFrame:
    """Approximate cosine top-k via an IVF (inverted-file) index:
    every corpus vector is assigned to its nearest coarse centroid
    ("cell"); each query probes its ``n_probe`` nearest cells and
    scores only the vectors inverted-listed there.

    Scale shape (r12, guide §4.2/§8): ONE fused vectorized pass over
    the corpus — each Arrow batch is assigned to cells with a
    ``batch × n_cells`` GEMM and immediately scored against the
    (broadcast) query matrix with a ``batch × queries`` GEMM, masked
    to each query's probed cells, emitting only the batch-local
    top-k per query. The query→cell probe runs driver-side on the
    collected request batch (request-sized by the serving contract —
    the same shape as :func:`cosine_topk_vectorized`). Versus the previous
    assign-then-broadcast-join-then-expression plan this removes the
    per-pair interpreted ``zip_with``/``aggregate`` dot products
    (~|pairs| × dim interpreted ops), the join that shipped two
    ``dim``-float arrays per scored pair, and the corpus-sized
    window: the global rank sees |partitions| × k rows per query.
    Recall < 1 by design — raise ``n_probe`` (→ brute force at
    ``n_probe = n_cells``) or ``n_cells`` granularity. Same output
    contract as :func:`cosine_topk`; scoring truncates vectors to
    float32 before the f64 GEMM, matching the previous plan's
    ``array<float>`` boundary exactly (norms stay full-precision,
    like the old ``__qn``/``__cn``).
    """
    import numpy as np
    import pandas as pd

    if centroids is None:
        centroids = train_ivf_centroids(
            corpus, n_cells, id_col, vec_col
        )
    n_cells = len(centroids)
    n_probe = min(n_probe, n_cells)
    sc = corpus.sparkSession.sparkContext
    cent = np.asarray(centroids, dtype=np.float64)

    # size-guarded: a corpus-sized query frame must fail loudly, not
    # OOM the driver
    q_rows = collect_query_batch(queries, id_col, vec_col, caller="ivf_topk")
    if not q_rows:
        # empty request batch: typed empty result (the numpy probe
        # below would die on a zero-row matrix; the old join-based
        # plan returned empty)
        return corpus.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, cosine double, rank int"
        )
    q_ids = np.array([r[id_col] for r in q_rows])
    q_mat = np.array([r[vec_col] for r in q_rows], dtype=np.float64)
    q_norm = np.maximum(np.linalg.norm(q_mat, axis=1), 1e-12)
    # top-n_probe cells per query, deterministic order — identical
    # argsort to the previous mapInPandas probe stage
    q_sims = (q_mat / q_norm[:, None]) @ cent.T
    q_probes = np.argsort(-q_sims, kind="stable", axis=1)[:, :n_probe]
    # score over the float32-truncated vectors (the old plan crossed
    # an array<float> boundary before its per-element double casts)
    q_score = q_mat.astype(np.float32).astype(np.float64)
    bq = sc.broadcast((q_ids, q_score, q_norm, q_probes))
    bc = sc.broadcast(cent)

    def score_partition(
        batches: "Iterator[pd.DataFrame]",
    ) -> "Iterator[pd.DataFrame]":
        ids, qs, qn, probes = bq.value
        cent_ = bc.value
        for pdf in batches:
            c_mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            c_ids = pdf[id_col].to_numpy()
            c_norm = np.maximum(np.linalg.norm(c_mat, axis=1), 1e-12)
            cell = np.argmax((c_mat / c_norm[:, None]) @ cent_.T, axis=1)
            c_score = c_mat.astype(np.float32).astype(np.float64)
            sims = (c_score @ qs.T) / np.outer(c_norm, qn)
            out_q, out_n, out_c = [], [], []
            for j in range(len(ids)):
                mask = np.isin(cell, probes[j]) & (c_ids != ids[j])
                cand_idx = np.nonzero(mask)[0]
                if len(cand_idx) == 0:
                    continue
                take = min(k, len(cand_idx))
                col = sims[:, j]
                # lexsort pins the local take-boundary tiebreak to
                # (cosine desc, neighbor_id asc) — see
                # cosine_topk_vectorized for why argpartition alone
                # would make the boundary partition-layout-dependent
                order = np.lexsort((c_ids[cand_idx], -col[cand_idx]))
                top = cand_idx[order[:take]]
                out_q.extend([ids[j]] * len(top))
                out_n.extend(c_ids[top])
                out_c.extend(col[top])
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "cosine": out_c}
            )

    # gated fan-out (r13): the batch-local top-k + deterministic global
    # window make the result partition-independent, so the spread is a
    # pure work-distribution choice — the gate keeps it off split
    # production scans where it would shuffle every corpus vector
    part = fan_out_scan(corpus.select(id_col, vec_col), id_col).mapInPandas(
        score_partition, "query_id long, neighbor_id long, cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        part.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def cosine_topk_vectorized(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Scale-path brute-force cosine top-k: numpy matmul over Arrow
    batches instead of per-element Catalyst expressions.

    The expression form (:func:`cosine_topk`) evaluates ``zip_with``/
    ``aggregate`` on the interpreted path — fine for thousands of
    vectors, ~100× too slow for millions. Here each corpus partition
    computes a (batch × queries) GEMM against the broadcast query
    matrix and emits only its local top-k per query; the global
    window then ranks |partitions|·k candidates per query instead of
    |corpus|. Same output contract as :func:`cosine_topk` (float
    summation order differs in the last ulps — compare with
    tolerance, not hashes).
    """
    import numpy as np
    import pandas as pd

    q_rows = queries.select(id_col, vec_col).collect()
    q_ids = np.array([r[id_col] for r in q_rows])
    q_mat = np.array([r[vec_col] for r in q_rows], dtype=np.float64)
    q_norm = np.maximum(np.linalg.norm(q_mat, axis=1), 1e-12)
    sc = corpus.sparkSession.sparkContext
    bq = sc.broadcast((q_ids, q_mat, q_norm))

    def topk_partition(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        ids, mat, norms = bq.value
        for pdf in batches:
            c_mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            c_ids = pdf[id_col].to_numpy()
            # clamp zero norms (failed-extraction / padded rows):
            # unclamped they yield NaN cosines, and Spark's descending
            # sort ranks NaN ABOVE every real value — a single zero
            # vector would pollute rank 1 of every query
            c_norm = np.maximum(np.linalg.norm(c_mat, axis=1), 1e-12)
            # (corpus_batch × queries) cosine matrix in one GEMM
            sims = (c_mat @ mat.T) / np.outer(c_norm, norms)
            out_q, out_n, out_c = [], [], []
            for j in range(len(ids)):
                col = sims[:, j]
                mask = c_ids != ids[j]
                cand_idx = np.nonzero(mask)[0]
                if len(cand_idx) == 0:
                    continue
                take = min(k, len(cand_idx))
                # lexsort pins the local take-boundary tiebreak to
                # (cosine desc, neighbor_id asc) — argpartition alone
                # keeps an ARBITRARY one of several equal-cosine rows
                # at the boundary, so the surviving candidate (and
                # the final top-k) would vary with partition layout.
                # Full sort of the batch column is O(n log n) vs
                # argpartition's O(n); the batch is partition-local
                # and the determinism contract wins.
                order = np.lexsort(
                    (c_ids[cand_idx], -col[cand_idx])
                )
                top = cand_idx[order[:take]]
                out_q.extend([ids[j]] * len(top))
                out_n.extend(c_ids[top])
                out_c.extend(col[top])
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "cosine": out_c}
            )

    # gated fan-out (r13): same rationale as ivf_topk above
    part = fan_out_scan(corpus, id_col).mapInPandas(
        topk_partition, "query_id long, neighbor_id long, cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        part.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def train_pq_codebooks(
    corpus: DataFrame,
    m: int = 8,
    k_codes: int = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_size: int = 4096,
    iters: int = 5,
):
    """Train product-quantization codebooks: the embedding dim is
    split into ``m`` contiguous subspaces and each gets an independent
    ``k_codes``-centroid k-means, fit on the same deterministic
    smallest-``xxhash64(id)`` sample as :func:`train_ivf_centroids`
    (stable across runs, partitionings and cluster sizes). Vectors
    are L2-normalized before fitting so PQ scores approximate cosine
    directly. Returns an ``(m, k_codes, dim/m)`` float64 ndarray.

    Training is driver-side numpy on a bounded sample — the codebook
    is ``m·k_codes·(dim/m)`` floats (16 KB at m=8, k=256, dim=64),
    trivially broadcastable at any corpus size.
    """
    import numpy as np

    rows = (
        corpus.select(F.col(id_col).alias("i"), F.col(vec_col).alias("v"))
        .withColumn("__h", F.xxhash64("i"))
        .orderBy("__h", "i")
        .limit(sample_size)
        .collect()
    )
    mat = np.array([r["v"] for r in rows], dtype=np.float64)
    mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
    dim = mat.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    dsub = dim // m
    k_codes = min(k_codes, len(mat))
    books = np.empty((m, k_codes, dsub))
    for j in range(m):
        sub = mat[:, j * dsub : (j + 1) * dsub]
        cent = sub[:k_codes].copy()  # deterministic init: hash order
        for _ in range(iters):
            d2 = ((sub[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d2, axis=1)
            for c in range(k_codes):
                members = sub[assign == c]
                if len(members):  # empty code keeps its old centroid
                    cent[c] = members.mean(axis=0)
        books[j] = cent
    return books


def ivf_pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_cells: int = 16,
    n_probe: int = 4,
    m: int = 8,
    k_codes: int = 256,
    centroids=None,
    codebooks=None,
    ranked: bool = True,
) -> DataFrame:
    """IVF-PQ approximate cosine top-k — the memory-scale ANN tier.

    :func:`ivf_topk` prunes WORK (score only probed cells) but still
    carries every raw vector through the index; at 10^11 vectors the
    float payload itself is the bottleneck. Here the inverted lists
    store only (id, cell, m uint8 codes) — 8 bytes of codes instead
    of dim·4 bytes of floats (32x at dim=64) — and queries score
    candidates by asymmetric distance: per query, one ``m × k_codes``
    lookup table of subspace dot products against the (broadcast)
    codebooks, then each candidate's approximate cosine is the sum of
    ``m`` table lookups — no float vectors move at query time.

    Plan shape: one vectorized encode pass over the corpus (GEMM per
    Arrow batch, no shuffle), probe join on the cell id with the
    query side broadcast, scoring inside ``mapInPandas`` (LUT built
    once per query per batch). Recall < 1 from BOTH cell pruning and
    quantization — raise ``n_probe`` / ``m`` / ``k_codes``, or
    exact-rescore the top candidates from the raw table as a refine
    stage (an equi-join on id — deliberately NOT fused here so the
    compressed index never has to carry the floats).
    Output contract matches :func:`cosine_topk` with ``cosine``
    holding the ADC approximation; ``ranked=False`` returns the bare
    candidate pair set for an exact-rescore refine (see
    :func:`adc_topk`).
    """
    if centroids is None:
        centroids = train_ivf_centroids(corpus, n_cells, id_col, vec_col)
    if codebooks is None:
        codebooks = train_pq_codebooks(
            corpus, m, k_codes, id_col, vec_col
        )
    index = encode_pq_index(corpus, centroids, codebooks, id_col, vec_col)
    return adc_topk(
        index, queries, centroids, codebooks, k, n_probe, id_col, vec_col,
        ranked=ranked,
    )


def encode_pq_index(
    corpus: DataFrame,
    centroids,
    codebooks,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The compressed IVF-PQ index frame: ``(neighbor_id, __cell,
    __codes)`` — one vectorized encode pass (GEMM per Arrow batch, no
    shuffle), no float payload, as :func:`ivf_pq_topk` probes it."""
    import numpy as np
    import pandas as pd

    m = codebooks.shape[0]
    dsub = codebooks.shape[2]
    sc = corpus.sparkSession.sparkContext
    bc_cent = sc.broadcast(np.asarray(centroids, dtype=np.float64))
    bc_books = sc.broadcast(np.asarray(codebooks, dtype=np.float64))

    def encode(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        cent, books = bc_cent.value, bc_books.value
        for pdf in batches:
            mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            mat /= np.maximum(
                np.linalg.norm(mat, axis=1, keepdims=True), 1e-12
            )
            cell = np.argmax(mat @ cent.T, axis=1)
            codes = np.empty((len(mat), m), dtype=np.int64)
            for j in range(m):
                sub = mat[:, j * dsub : (j + 1) * dsub]
                d2 = ((sub[:, None, :] - books[j][None, :, :]) ** 2).sum(
                    axis=2
                )
                codes[:, j] = np.argmin(d2, axis=1)
            yield pd.DataFrame(
                {
                    "neighbor_id": pdf[id_col].to_numpy(),
                    "__cell": cell.astype(np.int32),
                    "__codes": list(codes),
                }
            )

    # the compressed index: (id, cell, codes) — no float payload
    return corpus.select(id_col, vec_col).mapInPandas(
        encode, "neighbor_id long, __cell int, __codes array<long>"
    )


def adc_topk(
    index: DataFrame,
    queries: DataFrame,
    centroids,
    codebooks,
    k: int = 5,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ranked: bool = True,
) -> DataFrame:
    """Probe + asymmetric-distance scoring + top-k over a prebuilt
    ``(neighbor_id, __cell, __codes)`` index frame (from
    :func:`encode_pq_index`).
    Per query, one ``m × k_codes`` LUT of subspace dot products
    against the broadcast codebooks; each candidate's approximate
    cosine is the sum of ``m`` lookups — no float vectors move at
    query time.

    ``ranked=False`` (r13): returns the bare candidate PAIR SET
    ``(query_id, neighbor_id)`` with no ADC scoring at all — the
    full-candidate refine shape re-scores every pair exactly, so
    computing approximate cosines for it is one dead Python boundary
    over every candidate row (r12 had only dropped the rank window)."""
    import numpy as np
    import pandas as pd

    n_cells = len(centroids)
    n_probe = min(n_probe, n_cells)
    m = codebooks.shape[0]
    dsub = codebooks.shape[2]
    sc = queries.sparkSession.sparkContext

    def probe(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        cent = bc_cent.value
        for pdf in batches:
            mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            mat /= np.maximum(
                np.linalg.norm(mat, axis=1, keepdims=True), 1e-12
            )
            sims = mat @ cent.T
            probes = np.argsort(-sims, kind="stable", axis=1)[:, :n_probe]
            yield pd.DataFrame(
                {
                    "query_id": np.repeat(pdf[id_col].to_numpy(), n_probe),
                    "__qv": [v for v in pdf[vec_col] for _ in range(n_probe)],
                    "__cell": probes.reshape(-1).astype(np.int32),
                }
            )

    bc_cent = sc.broadcast(np.asarray(centroids, dtype=np.float64))
    probed = queries.select(id_col, vec_col).mapInPandas(
        probe, "query_id long, __qv array<float>, __cell int"
    )
    joined = index.join(F.broadcast(probed), "__cell").filter(
        F.col("neighbor_id") != F.col("query_id")
    )
    # ranked=False (r13): the full-candidate refine shape re-scores
    # every pair EXACTLY downstream, so the approximate ADC cosines
    # are dead columns there — candidacy is cell membership, which
    # the join above already decided. Skip the scoring Python
    # boundary (one whole worker round-trip over every candidate
    # row) and return the bare candidate set; same pairs by
    # construction. (r12 had already dropped the rank window here.)
    if not ranked:
        return joined.select("query_id", "neighbor_id")
    bc_books = sc.broadcast(np.asarray(codebooks, dtype=np.float64))

    def adc_score(batches: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        books = bc_books.value
        for pdf in batches:
            if not len(pdf):
                continue
            codes = np.array(list(pdf["__codes"]), dtype=np.int64)
            out = np.empty(len(pdf))
            # one LUT per distinct query in the batch; scoring is m
            # table lookups per candidate, fully vectorized
            for qid, grp in pdf.groupby("query_id", sort=False):
                q = np.array(grp["__qv"].iloc[0], dtype=np.float64)
                q /= max(np.linalg.norm(q), 1e-12)
                lut = np.stack(
                    [
                        books[j] @ q[j * dsub : (j + 1) * dsub]
                        for j in range(m)
                    ]
                )  # (m, k_codes)
                c = codes[pdf["query_id"].to_numpy() == qid]
                out[pdf["query_id"].to_numpy() == qid] = lut[
                    np.arange(m)[None, :], c
                ].sum(axis=1)
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"].to_numpy(),
                    "neighbor_id": pdf["neighbor_id"].to_numpy(),
                    "cosine": out,
                }
            )

    scored = joined.mapInPandas(
        adc_score, "query_id long, neighbor_id long, cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def rescore_topk(
    candidates: DataFrame,
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact-rescore refine stage for approximate ANN: take candidate
    (query_id, neighbor_id) pairs from any approximate tier (IVF-PQ's
    ADC scores, LSH buckets), re-attach the raw vectors and rank by
    EXACT cosine, keeping top ``k`` per query.

    This is the standard two-stage retrieval shape: the compressed
    index proposes R ≥ k candidates cheaply; only |queries|·R raw
    vectors are touched for exact scoring (an equi-join on the id —
    one shuffle of the candidate list against the corpus, never a
    re-scan per query). With R > k this recovers most of the recall
    the quantizer lost while the index still never stores floats.
    Output contract matches :func:`cosine_topk`.

    Scoring shape (r12, guide §4.2): the candidate list joins the
    corpus vectors (one equi-join — unchanged), but the exact
    cosines run as a batched numpy gather+einsum against the
    collected query matrix instead of per-pair interpreted
    ``zip_with``/``aggregate`` expressions (|pairs| × dim
    interpreted ops before), and each batch emits only its local
    top-k per query — the global rank window sees
    |partitions| × k rows per query, not every candidate. Queries
    are request-sized by the serving contract (every caller probes
    a bounded batch; the previous plan already collected them into
    a broadcast relation). Vectors are truncated to float32 before
    the f64 products, matching the old ``array<float>`` boundary;
    norms stay full-precision."""
    import numpy as np
    import pandas as pd

    # size-guarded: a corpus-sized query frame must fail loudly, not
    # OOM the driver
    q_rows = collect_query_batch(
        queries, id_col, vec_col, caller="rescore_topk"
    )
    if not q_rows:
        # inner-join semantics vs an empty query batch: empty result
        return corpus.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, cosine double, rank int"
        )
    q_ids = np.array([r[id_col] for r in q_rows], dtype=np.int64)
    q_mat = np.array([r[vec_col] for r in q_rows], dtype=np.float64)
    q_norm = np.maximum(np.linalg.norm(q_mat, axis=1), 1e-12)
    q_score = q_mat.astype(np.float32).astype(np.float64)
    order = np.argsort(q_ids, kind="stable")
    sc = corpus.sparkSession.sparkContext
    bq = sc.broadcast((q_ids[order], q_score[order], q_norm[order]))

    cand = candidates.select("query_id", "neighbor_id")
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("__cv"),
    )
    pairs = cand.join(c, "neighbor_id")

    def score_batch(
        batches: "Iterator[pd.DataFrame]",
    ) -> "Iterator[pd.DataFrame]":
        ids, qs, qn = bq.value
        for pdf in batches:
            if len(ids) == 0:
                continue  # inner join vs an empty query batch
            qid = pdf["query_id"].to_numpy()
            nid = pdf["neighbor_id"].to_numpy()
            c_mat = np.array(list(pdf["__cv"]), dtype=np.float64)
            c_norm = np.maximum(np.linalg.norm(c_mat, axis=1), 1e-12)
            c_score = c_mat.astype(np.float32).astype(np.float64)
            qi = np.searchsorted(ids, qid)
            # the old plan INNER-joined the query side: a candidate
            # whose query_id is not in this batch is dropped, never
            # mis-scored against a neighboring row
            ok = (qi < len(ids)) & (ids[np.minimum(qi, len(ids) - 1)] == qid)
            if not ok.all():
                keep = np.nonzero(ok)[0]
                qid, nid = qid[keep], nid[keep]
                c_score, c_norm = c_score[keep], c_norm[keep]
                qi = qi[keep]
            cos = np.einsum("ij,ij->i", c_score, qs[qi]) / (
                c_norm * qn[qi]
            )
            # group batch rows by query via ONE argsort + run slicing
            # (r13, advice item): the previous per-query boolean mask
            # was O(|queries| × batch_rows) per batch
            out_q, out_n, out_c = [], [], []
            order_b = np.argsort(qid, kind="stable")
            q_sorted = qid[order_b]
            starts = np.flatnonzero(
                np.r_[True, q_sorted[1:] != q_sorted[:-1]]
            )
            bounds = np.r_[starts, len(q_sorted)]
            for s, e in zip(bounds[:-1], bounds[1:]):
                sel = order_b[s:e]
                take = min(k, len(sel))
                # same deterministic take-boundary tiebreak as
                # cosine_topk_vectorized: (cosine desc, neighbor asc)
                o = np.lexsort((nid[sel], -cos[sel]))
                top = sel[o[:take]]
                out_q.extend(qid[top])
                out_n.extend(nid[top])
                out_c.extend(cos[top])
            yield pd.DataFrame(
                {"query_id": out_q, "neighbor_id": out_n, "cosine": out_c}
            )

    part = pairs.mapInPandas(
        score_batch, "query_id long, neighbor_id long, cosine double"
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id")
    )
    return (
        part.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


def label_centroids(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    round_to: int = 6,
) -> DataFrame:
    """Per-label centroid vectors in long form ``(label, pos,
    centroid, n)`` — the class-prototype computation behind
    nearest-centroid classification, cluster summaries and
    IVF-coarse-quantizer refreshes.

    Determinism: each element is rounded to integer MICRO-units
    before the per-(label, dim) sum — an exact BIGINT aggregation,
    order-independent on any partitioning (the x17/x19 trick); only
    the final mean is a float, the exactly-rounded quotient of exact
    integers. Scale shape: one posexplode projection + one hash
    aggregate on (label, pos) — dims × labels output rows, never a
    per-vector shuffle of full arrays."""
    ex = df.select(
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col)).alias("pos", "v"),
    )
    micro = F.round(F.col("v").cast("double") * F.lit(1e6), 0).cast("long")
    return (
        ex.groupBy("label", "pos")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(micro).alias("__s"),
        )
        .select(
            "label",
            "pos",
            F.round(
                F.col("__s").cast("double")
                / F.col("n").cast("double")
                / F.lit(1e6),
                round_to,
            ).alias("centroid"),
            "n",
        )
    )


def nearest_centroid(
    df: DataFrame,
    vec_col: str = "embedding",
    label_col: str = "label",
    id_col: str = "vec_id",
    round_to: int = 6,
) -> DataFrame:
    """Nearest-centroid classification: assign every vector to the
    label whose :func:`label_centroids` prototype has the highest
    cosine (ties → smallest label). Returns ``(id_col, true_label,
    assigned_label, cosine)``.

    Determinism: centroids are the micro-integer-exact rounded means;
    dot products fold in index order on both engines (the d5
    contract); the final cosine rounds before the argmax, whose
    tiebreak is pinned. Scale shape: the centroid table is
    label-cardinality-sized and broadcasts; per vector the work is
    |labels| codegen dot products + one row_number window — for
    label counts beyond broadcast range use the GEMM tier
    (:func:`cosine_topk_vectorized`) against the centroid matrix."""
    from pyspark.sql import Window

    cents = (
        label_centroids(df, vec_col, label_col, round_to)
        .groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "centroid"))),
                lambda s: s.centroid,
            ).alias("cvec")
        )
    )
    v = df.select(
        F.col(id_col).alias("vec_id"),
        F.col(label_col).alias("true_label"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    )
    joined = v.crossJoin(F.broadcast(cents))
    dot = F.aggregate(
        F.zip_with("v", "cvec", lambda x, y: x * y),
        F.lit(0.0),
        lambda a, x: a + x,
    )
    nv = F.greatest(
        F.sqrt(F.aggregate("v", F.lit(0.0), lambda a, x: a + x * x)),
        F.lit(1e-12),
    )
    nc = F.greatest(
        F.sqrt(F.aggregate("cvec", F.lit(0.0), lambda a, x: a + x * x)),
        F.lit(1e-12),
    )
    scored = joined.select(
        "vec_id",
        "true_label",
        F.col("label").alias("assigned_label"),
        F.round(dot / (nv * nc), round_to).alias("cosine"),
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cosine").desc(), F.col("assigned_label").asc()
    )
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .drop("__rk")
    )
