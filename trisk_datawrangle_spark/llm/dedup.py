"""Deduplication operators for training-data pipelines.

Four tiers, cheapest-first — the standard LLM-corpus dedup ladder:

1. exact      hash-groupBy on content (one shuffle).
2. minhash    shingle → K minhashes → B bands → bucket join: candidate
              pairs ∝ true near-dups, not |docs|². The scale path.
3. simhash    64-bit signature; hamming-adjacent buckets.
4. n-gram Jaccard  exact verification on candidate pairs (or, for
              oracle-checkable tests, on all co-shingled pairs).

All hashing uses ``xxhash64`` with fixed parameters — JVM-side,
deterministic across runs/partitionings/cluster sizes.

Performance note (measured, local[32] @ sf0.1): Spark's higher-order
array functions (``transform``/``filter``/``aggregate``) are NOT
whole-stage-codegen'd — they evaluate interpreted, per element. A
per-row array formulation of minhash (transform shingles ×
array_min × K) costs ~10× the explode+aggregate formulation below,
where shingling is a ``posexplode`` + two ``lead`` windows and the K
minhashes are K plain ``min`` aggregates (codegen + map-side partial
aggregation; duplicate shingles need no dedup shuffle because ``min``
is duplicate-insensitive). The same rewrite applies to simhash
(per-bit ``sum`` aggregates).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from trisk_datawrangle_spark.llm.text import tokenize


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup: canonical (min id) doc per distinct content +
    duplicate count. One hash-partitioned aggregation; at 100 TB,
    group on ``xxhash64(text)`` instead of the full text to shrink
    shuffle width (collision probability ≪ corpus size⁻¹)."""
    return (
        df.groupBy(F.xxhash64(text_col).alias("content_hash"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def word_ngrams(col: str | Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles as an array<string> (per-row
    array form — interpreted HOF path; prefer :func:`shingle_hashes`
    in hot paths, see module docstring).

    Docs with fewer than ``n`` words yield an empty array — the
    size guard matters: ``sequence(1, 0)`` would count *down* and
    feed ``slice`` an illegal 0 start."""
    words = tokenize(col)
    grams = F.when(
        F.size(words) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(words) - (n - 1)),
            lambda i: F.array_join(F.slice(words, i, n), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(grams)


def shingle_hashes(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    distinct: bool = False,
) -> DataFrame:
    """(id, h) long table of xxhash64'd word-``n``-gram shingles —
    the codegen-friendly shingling: ``posexplode`` words, two
    ``lead`` windows to form the gram, hash, never materializing
    per-row arrays. Duplicate shingles are kept unless ``distinct``
    (min-aggregations downstream don't need the dedup shuffle;
    Jaccard counting does)."""
    from trisk_datawrangle_spark.llm.text import word_gram_table

    grams = word_gram_table(df, text_col, id_col, n).select(
        "id", F.xxhash64("gram").alias("h")
    )
    return grams.distinct() if distinct else grams


#: Threshold at and above which prefix filtering has real leverage
#: (prefix length |A|−ceil(t·|A|)+1 shrinks to ~a third of the doc) —
#: the auto-dispatch line in :func:`ngram_jaccard_pairs`.
_PREFIX_LEVERAGE_T = 0.7


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    max_doc_freq: int | None = None,
    exhaustive: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs — threshold-aware
    dispatch, so the PUBLIC name never runs the unbounded quadratic
    join unless explicitly told to:

    - ``threshold ≥ 0.7`` (the default band, and where every real
      near-dup pipeline operates): delegates to the LOSSLESS
      PPJoin-style prefix tier (:func:`ngram_jaccard_prefix_pairs`)
      — identical rows (property-tested), candidate-bounded work,
      measured sublinear at sf10. Callers get the scale-safe plan by
      default just by asking for pairs.
    - ``max_doc_freq`` set: the co-shingle join with the
      document-frequency cap — per-shingle blowup bounded by
      max_doc_freq², i.e. candidate-bounded too (the conservative
      never-inflating estimate documented below).
    - ``exhaustive=True``: the raw co-shingle join, quadratic in
      per-shingle co-occurrence — the ORACLE tier (simplest possible
      semantics, gates d2) and the only exact option below the
      prefix-leverage threshold. Opt-in, never reached by default.
    - ``threshold < 0.7`` without either: refused loudly. There is
      no sub-quadratic exact algorithm at low thresholds (the prefix
      is most of the doc, LSH bands have no precision); pick
      ``exhaustive=True`` knowingly, set ``max_doc_freq``, or use
      :func:`minhash_lsh_dedup_pairs` and accept approximation.

    The co-shingle join itself: |A∩B| from a self-join of the
    distinct (id, shingle-hash) table on the hash — linear in
    co-occurrence, not quadratic in docs, and the join key is a
    long, not the gram string. Common-shingle skew is the scale
    hazard: a boilerplate shingle in k docs contributes k² join
    rows. ``max_doc_freq`` implements the mitigation: shingles
    appearing in more than that many documents are dropped from the
    JOIN side only (one extra aggregate on the already-cached
    table); per-doc sizes still count every shingle, so the estimate
    under-counts |A∩B| by at most the dropped shingles — a
    conservative (never-inflating) Jaccard. With it unset the result
    is exact.
    """
    if not exhaustive:
        if max_doc_freq is None and threshold >= _PREFIX_LEVERAGE_T:
            return ngram_jaccard_prefix_pairs(
                df, text_col, id_col, n=n, threshold=threshold
            )
        if max_doc_freq is None:
            raise ValueError(
                f"ngram_jaccard_pairs: threshold={threshold} is below "
                f"the prefix-leverage band (>= {_PREFIX_LEVERAGE_T}) "
                "and no max_doc_freq cap is set — the only exact plan "
                "is the unbounded quadratic co-shingle join. Pass "
                "exhaustive=True to run it knowingly, set "
                "max_doc_freq to bound it, or use "
                "minhash_lsh_dedup_pairs for bounded approximate "
                "candidates."
            )
    # stage boundary: the per-doc distinct-shingle ARRAYS feed the
    # sizes AND both sides of the co-shingle self-join — uncached,
    # the scan→explode→hash subtree runs three times (measured 2×
    # total query time at sf0.1). Caching the array form
    # (_shingle_profile, r12) instead of the exploded rows removes
    # the (id, h) distinct exchange and the sizes aggregation
    # outright (size(hs) is a projection), and shrinks the cache to
    # one row per doc; the join sides re-explode from the cache.
    prof = _shingle_profile(df, text_col, id_col, n, 0).cache()
    shingled = prof.select("id", F.explode("hs").alias("h"))
    sizes = prof.select("id", "n_grams")
    if max_doc_freq is not None:
        rare = (
            shingled.groupBy("h")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= int(max_doc_freq))
            .select("h")
        )
        shingled = shingled.join(rare, "h", "left_semi")
    a = shingled.select(F.col("id").alias("id_a"), "h")
    b = shingled.select(F.col("id").alias("id_b"), "h")
    common = (
        a.join(b, "h")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_grams").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_grams").alias("n_b"))
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_jaccard_prefix_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """EXACT n-gram Jaccard pairs via PPJoin-style prefix + positional
    filtering (Xiao et al., WWW'08 — public algorithm) — the lossless
    HIGH-threshold exact tier: at the standard near-dup threshold
    t=0.8 each document joins only its ``|A| - ceil(t·|A|) + 1``
    rarest shingles (~20%), so the k² blowup a boilerplate shingle
    causes in :func:`ngram_jaccard_pairs`' all-co-shingle join never
    happens.

    Three lossless filters, in order:

    - prefix: order each doc's shingles by GLOBAL document frequency
      (rarest first); two docs with Jaccard ≥ t MUST share a prefix
      shingle (pigeonhole on the implied ``ceil(t·|A|)`` overlap).
    - size: ``t·|A| ≤ |B| ≤ |A|/t``.
    - positional: a match at prefix positions (pa, pb) bounds the
      total overlap by ``1 + min(|A|−pa, |B|−pb)``; require it to
      reach ``ceil(t/(1+t)·(|A|+|B|))`` (the overlap Jaccard ≥ t
      implies).

    Survivors are verified EXACTLY by intersecting the two docs'
    sorted shingle-hash arrays — candidate-bounded work (one row per
    pair, never |pair|×|doc| join rows), the same hand-off contract
    as d3's LSH verify. Output identical to the exhaustive join.

    Threshold guidance (measured on the uniform-vocabulary test
    corpus at sf1): prefix filtering is designed for HIGH t — at
    t=0.8 candidates collapse to ~the true-pair neighborhood; at
    t≤0.5 on a corpus where no shingle is rare the prefix is half the
    doc and candidates approach all-pairs — use
    :func:`minhash_lsh_dedup_pairs` (bounded candidates by
    construction) or the co-shingle count join there.

    Shuffles: shingle distinct, one df aggregate, one per-doc window
    (keyed by id — no global sort), the prefix self-join, and two
    id-keyed array fetches for verify. All keyed, AQE-splittable.
    """
    # one cached per-doc array profile (r12): the distinct exchange,
    # the sizes aggregation AND the verify stage's array re-build all
    # disappear — sizes ride the explode, the verify reads ``hs``
    # straight off the cache
    prof = _shingle_profile(df, text_col, id_col, n, 0).cache()
    shingled = prof.select(
        "id", "n_grams", F.explode("hs").alias("h")
    )
    doc_freq = shingled.groupBy("h").agg(F.count(F.lit(1)).alias("__df"))
    # Canonical global shingle order: ascending document frequency,
    # hash as the tiebreak — every doc ranks its shingles identically.
    ranked = shingled.join(doc_freq, "h").withColumn(
        "__pos",
        F.row_number().over(
            Window.partitionBy("id").orderBy("__df", "h")
        ),
    )
    t = float(threshold)
    prefix_len = F.col("n_grams") - F.ceil(F.lit(t) * F.col("n_grams")) + 1
    prefix = ranked.filter(F.col("__pos") <= prefix_len).select(
        "id", "h", "n_grams", "__pos"
    )
    pa = prefix.select(
        F.col("id").alias("id_a"),
        "h",
        F.col("n_grams").alias("n_a"),
        F.col("__pos").alias("pa"),
    )
    pb = prefix.select(
        F.col("id").alias("id_b"),
        "h",
        F.col("n_grams").alias("n_b"),
        F.col("__pos").alias("pb"),
    )
    min_overlap = F.ceil(F.lit(t / (1.0 + t)) * (F.col("n_a") + F.col("n_b")))
    cand = (
        pa.join(pb, "h")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("n_b") >= F.ceil(F.lit(t) * F.col("n_a")))
            & (F.col("n_a") >= F.ceil(F.lit(t) * F.col("n_b")))
            & (
                1
                + F.least(
                    F.col("n_a") - F.col("pa"), F.col("n_b") - F.col("pb")
                )
                >= min_overlap
            )
        )
        .select("id_a", "id_b", "n_a", "n_b")
        .distinct()
    )
    # Exact verify on candidate-bounded rows: per-doc sorted hash
    # arrays (|doc| longs each), intersection size per pair —
    # straight off the cached profile, no re-aggregation (r12).
    arrays = prof.select("id", "hs")
    common = (
        cand.join(
            arrays.select(F.col("id").alias("id_a"), F.col("hs").alias("ha")),
            "id_a",
        )
        .join(
            arrays.select(F.col("id").alias("id_b"), F.col("hs").alias("hb")),
            "id_b",
        )
        .withColumn(
            "n_common", F.size(F.array_intersect("ha", "hb"))
        )
        .drop("ha", "hb")
    )
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return (
        common.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= t)
        .select("id_a", "id_b", "jaccard")
    )


#: Mersenne prime 2^31 - 1 — modulus of the Carter-Wegman family.
_MERSENNE_31 = 2147483647


def _affine_params(num_hashes: int, seed: int = 0x9E3779B9) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the Carter-Wegman family
    h_k(x) = (a_k*x + b_k) mod p, p = 2^31-1, a_k in [1, p-1],
    b_k in [0, p-1] (from a splitmix64-style sequence — pure python,
    platform-independent)."""
    params = []
    state = seed
    for _ in range(num_hashes):
        out = []
        for _ in range(2):
            state = (state + 0x9E3779B97F4A7C15) % 2 ** 64
            z = state
            z = ((z ^ (z >> 30)) * 0xBF58476D1CE4E5B9) % 2 ** 64
            z = ((z ^ (z >> 27)) * 0x94D049BB133111EB) % 2 ** 64
            out.append(z ^ (z >> 31))
        a, b = out
        params.append((a % (_MERSENNE_31 - 1) + 1, b % _MERSENNE_31))
    return params


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    ngram: int = 3,
) -> DataFrame:
    """(id, sig array<bigint>) MinHash signatures via the
    explode+aggregate formulation: each shingle hashed ONCE, the
    K-wise family is K ``min((a_k*h31 + b_k) mod p)`` aggregates —
    whole-stage codegen, map-side combine, one shuffle on the id.
    Docs with no shingles are absent from the result (they have no
    signature).

    Overflow discipline: the raw ``xxhash64`` spans the full signed
    64-bit range, so an affine map over Z/2^64 would rely on silent
    long wraparound — which *throws* under ANSI mode (Spark 4
    default). Instead the hash is first folded to ``h31 = pmod(h, p)``
    (p = 2^31-1); then ``a*h31 + b < 2^62 + 2^31`` stays in-range for
    any ANSI setting."""
    return _signatures_from_shingles(
        shingle_hashes(df, text_col, id_col, ngram), num_hashes
    )


def _signatures_from_shingles(
    hashes: DataFrame, num_hashes: int
) -> DataFrame:
    """(id, sig) from a (id, h) shingle-hash table. ``min`` is
    duplicate-insensitive, so distinct and non-distinct shingle
    tables yield identical signatures — callers that also need exact
    verification can share one cached distinct table across both
    stages."""
    p = _MERSENNE_31
    # h31 materialized as a projected column so the shared mod-p fold
    # is provably evaluated once per row (not K times via
    # subexpression elimination luck)
    proj = hashes.select("id", F.pmod(F.col("h"), F.lit(p)).alias("h31"))
    # the K min-aggregates are assembled as ONE SQL string parsed
    # server-side: building them as K Column-object chains costs
    # ~5 py4j roundtrips per permutation (~1.3s of driver latency at
    # K=64, measured — it dominated d3's warm time), while one
    # F.expr is a single roundtrip to the same resolved plan.
    # array-of-aggregates is legal in an agg context, so the array
    # assembly rides the same expression.
    mins_sql = ", ".join(
        f"min(pmod(h31 * {a}L + {b}L, {p}L))"
        for a, b in _affine_params(num_hashes)
    )
    return proj.groupBy("id").agg(F.expr(f"array({mins_sql}) AS sig"))


def _shingle_profile(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    num_hashes: int,
) -> DataFrame:
    """(id, hs, n_grams, sig) — the sorted DISTINCT shingle-hash
    array, its size, and the MinHash signature, in ONE aggregation
    over the raw gram stream (r12, guide §2.4 remove shuffles
    outright).

    The split shape this replaces paid two corpus-sized exchanges
    that the data's layout already made redundant:
    ``shingle_hashes(distinct=True)`` shuffled every (id, h) gram row
    by (id, h) even though :func:`~trisk_datawrangle_spark.llm.text.
    word_gram_table`'s doc repartition had already placed ALL grams
    of an id in one partition, and ``_signatures_from_shingles``'s
    groupBy(id) then shuffled the cached distinct rows AGAIN on a
    key they were already clustered by (the cache boundary hides the
    child partitioning from the planner —
    canChangeCachedPlanOutputPartitioning stays false, see
    session.py). Aggregating straight off the gram stream instead
    satisfies the groupBy's ClusteredDistribution(id) with the
    repartition the grams already paid: ZERO additional exchanges,
    one ObjectHashAggregate computing ``collect_set`` (the distinct)
    and the K mins (duplicate-insensitive) together, and the cache
    the callers hold shrinks from |grams| rows to |docs| rows.

    Identical values by construction: ``sort_array(collect_set(h))``
    == the sorted distinct hash list the verifier aggregated;
    ``min`` over non-distinct h31 == min over distinct;
    ``size(hs)`` == the verifier's distinct-gram count (cast to
    long to keep the old ``count(1)`` column type)."""
    from trisk_datawrangle_spark.llm.text import word_gram_table

    grams = word_gram_table(df, text_col, id_col, n).select(
        "id", F.xxhash64("gram").alias("h")
    )
    p = _MERSENNE_31
    proj = grams.select(
        "id", "h", F.pmod(F.col("h"), F.lit(p)).alias("h31")
    )
    if num_hashes == 0:
        # array-only profile (no signatures): the exact-Jaccard
        # tiers need just (hs, n_grams)
        agg = proj.groupBy("id").agg(
            F.sort_array(F.collect_set("h")).alias("hs")
        )
        return agg.select(
            "id", "hs", F.size("hs").cast("long").alias("n_grams")
        )
    mins_sql = ", ".join(
        f"min(pmod(h31 * {a}L + {b}L, {p}L))"
        for a, b in _affine_params(num_hashes)
    )
    return proj.groupBy("id").agg(
        F.sort_array(F.collect_set("h")).alias("hs"),
        F.expr(f"array({mins_sql}) AS sig"),
    ).select(
        "id", "hs", F.size("hs").cast("long").alias("n_grams"), "sig"
    )


def _banded_table(
    sig: DataFrame, num_hashes: int, bands: int
) -> DataFrame:
    """(id, band, bucket) banded-LSH table from a (id, sig) signature
    table — each band's slice of the signature hashed to one bucket
    key. Narrow by construction: the join stages only ever carry
    these three columns, never the K-element signature arrays."""
    if num_hashes % bands != 0:
        # silent truncation would band only the first
        # bands*(num_hashes//bands) positions — a much flatter
        # candidate-probability curve than the caller tuned for,
        # plus wasted signature aggregation
        raise ValueError(
            f"bands ({bands}) must divide num_hashes ({num_hashes})"
        )
    rows_per_band = num_hashes // bands
    # one selectExpr roundtrip instead of bands*(rows_per_band+2)
    # Column-object py4j calls (same resolved plan; see
    # _signatures_from_shingles for the measured build-time cost);
    # inline() is explode-into-columns for an array<struct>
    structs = ", ".join(
        "struct({bnd} AS band, xxhash64({slices}) AS bucket)".format(
            bnd=bnd,
            slices=", ".join(
                f"sig[{bnd * rows_per_band + r}]"
                for r in range(rows_per_band)
            ),
        )
        for bnd in range(bands)
    )
    return sig.selectExpr("id", f"inline(array({structs}))")


def _lsh_candidate_pairs(
    sig: DataFrame, num_hashes: int, bands: int
) -> DataFrame:
    """Banded-LSH candidate (id_a, id_b) pairs from a (id, sig)
    signature table. The band self-join carries only (id, band,
    bucket); the candidate ``distinct`` runs on the narrow pair —
    never on signatures (a distinct over 2×K-element arrays would
    shuffle ~50× the bytes)."""
    banded = _banded_table(sig, num_hashes, bands)
    a = banded.select(F.col("id").alias("id_a"), "band", "bucket")
    b = banded.select(F.col("id").alias("id_b"), "band", "bucket")
    return (
        a.join(b, ["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_lsh_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    ngram: int = 3,
) -> DataFrame:
    """LSH candidate pairs: split the signature into ``bands`` rows of
    ``num_hashes/bands``, bucket each band by its hash, join within
    buckets. Docs sharing ≥1 full band collide. Candidates should be
    verified with :func:`ngram_jaccard_pairs` semantics (estimated
    Jaccard = fraction of matching signature positions is returned
    here for a cheap pre-filter); :func:`minhash_lsh_dedup_pairs` is
    the exact-verified composition.

    Shuffle discipline: see :func:`_lsh_candidate_pairs` — signatures
    are re-attached to the narrow pair set from the cached signature
    table."""
    sig = minhash_signatures(df, text_col, id_col, num_hashes, ngram).cache()
    cand = _lsh_candidate_pairs(sig, num_hashes, bands)
    sa = sig.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sig.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"))
    est = (
        F.size(
            F.filter(
                F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                lambda eq: eq,
            )
        )
        / F.lit(float(num_hashes))
    )
    return (
        cand.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("est_jaccard", est)
        .select("id_a", "id_b", "est_jaccard")
    )


def verify_pairs_exact(
    df: DataFrame,
    cand: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact n-gram Jaccard computed ONLY for candidate (id_a, id_b)
    pairs — the verification tier of the dedup ladder.

    Cost is linear in |candidates| × shingles-per-doc (each pair is
    fanned out by the a-side's shingles, matched against the b-side's
    on the hash), never quadratic in docs — so it composes with any
    candidate generator (MinHash-LSH, SimHash bands) at corpus scale.
    Returns (id_a, id_b, jaccard) for pairs meeting ``threshold`` —
    i.e. exactly :func:`ngram_jaccard_pairs` semantics restricted to
    the candidate set."""
    shingled = shingle_hashes(df, text_col, id_col, n, distinct=True).cache()
    return _verify_candidates_arrays(shingled, cand, threshold)


def _verify_candidates_arrays(
    shingled: DataFrame, cand: DataFrame, threshold: float
) -> DataFrame:
    """Exact-Jaccard verification via per-doc sorted shingle-hash
    ARRAYS: one row per candidate pair (two id-keyed array fetches +
    an ``array_intersect``), instead of exploding every pair into
    |doc| join rows. Same output as :func:`_verify_candidates`
    (property-tested equal); wins when candidates × doc size is the
    dominant term — measured 54 s → 23 s on the sf10 index probe
    (945k LSH candidates, ~36 shingles/doc). Prefer the row form when
    candidate counts are tiny and docs are huge (arrays then carry
    dead weight through the shuffle)."""
    arrays = shingled.groupBy("id").agg(
        F.sort_array(F.collect_list("h")).alias("hs"),
        F.count(F.lit(1)).alias("n_grams"),
    )
    return _verify_pairs_from_arrays(arrays, cand, threshold)


def _verify_pairs_from_arrays(
    arrays: DataFrame, cand: DataFrame, threshold: float
) -> DataFrame:
    """The pair-join half of :func:`_verify_candidates_arrays`, for
    callers that already HOLD the per-doc (id, hs, n_grams) array
    table (r12: :func:`_shingle_profile` computes it in the same
    aggregation as the signatures, so re-aggregating exploded rows
    here would be pure waste). Same joins, same size gate, same
    Jaccard arithmetic — identical output."""
    withA = cand.select("id_a", "id_b").join(
        arrays.select(
            F.col("id").alias("id_a"),
            F.col("hs").alias("ha"),
            F.col("n_grams").alias("n_a"),
        ),
        "id_a",
    )
    withB = withA.join(
        arrays.select(
            F.col("id").alias("id_b"),
            F.col("hs").alias("hb"),
            F.col("n_grams").alias("n_b"),
        ),
        "id_b",
    ).filter(
        # lossless size gate before the intersect: jaccard ≥ t forces
        # t·|A| ≤ |B| ≤ |A|/t — on size-diverse corpora this skips
        # the per-pair intersection for candidates that cannot qualify
        (F.col("n_b") >= F.ceil(F.lit(threshold) * F.col("n_a")))
        & (F.col("n_a") >= F.ceil(F.lit(threshold) * F.col("n_b")))
    )
    n_common = F.size(F.array_intersect("ha", "hb"))
    jac = n_common / (F.col("n_a") + F.col("n_b") - n_common)
    return (
        withB.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _verify_candidates(
    shingled: DataFrame, cand: DataFrame, threshold: float
) -> DataFrame:
    """Exact-Jaccard verification against a pre-built *distinct*
    (id, h) shingle table — callers cache it and share it with
    signature generation (one scan+explode of the corpus instead of
    two)."""
    sizes = shingled.groupBy("id").agg(F.count(F.lit(1)).alias("n_grams"))
    a = shingled.select(F.col("id").alias("id_a"), "h")
    b = shingled.select(F.col("id").alias("id_b"), "h")
    common = (
        cand.select("id_a", "id_b")
        .join(a, "id_a")
        .join(b, ["id_b", "h"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("id").alias("id_a"), F.col("n_grams").alias("n_a"))
    sb = sizes.select(F.col("id").alias("id_b"), F.col("n_grams").alias("n_b"))
    jac = F.col("n_common") / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_lsh_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    ngram: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """The full scale-path near-dup operator: MinHash-LSH candidate
    generation (:func:`minhash_lsh_pairs`) composed with exact-Jaccard
    verification (:func:`verify_pairs_exact`).

    The returned pairs are *exact-verified* — every (id_a, id_b) has
    true n-gram Jaccard ≥ ``threshold`` — which makes the output
    deterministically checkable against a SQL oracle computing exact
    pairs, provided the banding gives recall 1 on the qualifying pairs
    (near-dup corpora have a wide margin between dup Jaccard ~0.9+ and
    background ~0.07, so band collision is certain in practice; any
    miss shows up as a row-count/hash mismatch, not silently).

    Only the narrow candidate pair set is taken from the LSH stage —
    the estimated-Jaccard signature re-attach is skipped entirely
    (exact verification supersedes it) — and both stages read ONE
    cached per-doc shingle PROFILE (:func:`_shingle_profile`:
    sorted distinct-hash array + signature from a single
    aggregation), so the corpus is scanned and shingled once and
    neither the distinct nor the signature groupBy pays an
    exchange (r12)."""
    prof = _shingle_profile(df, text_col, id_col, ngram, num_hashes).cache()
    cand = _lsh_candidate_pairs(prof.select("id", "sig"), num_hashes, bands)
    # NOT narrowed to candidate ids (r12 measurement): semi-joining
    # the arrays to cand's id set before the verifier LOSES here (sf0.1 A/B: 1.3-1.8 s → 1.8-2.4 s): cand has one consumer
    # in this inline composite, so the narrowing forces an extra
    # cache barrier + two more shuffles to save work the JVM joins
    # away cheaply anyway.
    return _verify_pairs_from_arrays(
        prof.select("id", "hs", "n_grams"), cand, threshold
    )


#: Pair tiers :func:`near_dup_pairs` dispatches on. Ordered from the
#: scale default to the oracle tier; every composite that consumes a
#: pair graph (dedup clusters, cluster-canonical curation) exposes
#: the same ``pair_tier`` knob and defaults to the candidate-bounded
#: tier so the configuration that cannot scale is opt-in, not the
#: name users reach for.
PAIR_TIERS = ("lsh", "prefix", "exact")


def near_dup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    pair_tier: str = "lsh",
    num_hashes: int = 64,
    bands: int = 16,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Near-duplicate pair graph ``(id_a, id_b, jaccard)`` with the
    pair-generation strategy as an explicit, defaulted knob:

    - ``"lsh"`` (DEFAULT — the 100 TB path): MinHash-LSH banded
      candidates + exact verification
      (:func:`minhash_lsh_dedup_pairs`). Candidate volume is bounded
      by band-bucket collisions, never the corpus squared; measured
      6.5× per 10× data (BASELINE.md sf1). Recall-1 at near-dup
      thresholds (≥ ~0.7 with the default 64×16 banding); the exact
      verify means any banding miss surfaces as a result diff, not
      silently.
    - ``"prefix"``: PPJoin-style prefix+positional filtering
      (:func:`ngram_jaccard_prefix_pairs`) — LOSSLESS exact output,
      sublinear measured (8.6× per 10×, BASELINE.md sf10), the right
      tier when exact equality to the exhaustive join is required at
      scale and the threshold is high (≥ ~0.7).
    - ``"exact"``: the exhaustive co-shingle join
      (:func:`ngram_jaccard_pairs`) — quadratic in per-shingle
      co-occurrence; the ORACLE tier for correctness gating and the
      only tier usable at low thresholds (< ~0.5, where prefix/LSH
      filtering has no leverage). Fails at sf10 by design
      (BASELINE.md r7); opt in knowingly.

    All three tiers emit identical schemas, and at near-dup
    thresholds identical ROWS (property-tested equality) — so a
    pipeline can gate correctness on ``"exact"`` at fixture scale
    and deploy ``"lsh"``/``"prefix"`` unchanged."""
    if pair_tier == "lsh":
        return minhash_lsh_dedup_pairs(
            df, text_col, id_col,
            num_hashes=num_hashes, bands=bands, ngram=n,
            threshold=threshold,
        )
    if pair_tier == "prefix":
        return ngram_jaccard_prefix_pairs(
            df, text_col, id_col, n=n, threshold=threshold
        )
    if pair_tier == "exact":
        # naming the tier IS the opt-in: "exact" means the co-shingle
        # join (the oracle semantics), never silently re-routed
        return ngram_jaccard_pairs(
            df, text_col, id_col, n=n, threshold=threshold,
            max_doc_freq=max_doc_freq, exhaustive=True,
        )
    raise ValueError(
        f"near_dup_pairs: unknown pair_tier {pair_tier!r}; "
        f"expected one of {PAIR_TIERS}"
    )


def minhash_lsh_incremental_pairs(
    existing: DataFrame,
    incoming: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    ngram: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Dedup a NEW batch against an EXISTING corpus — the
    continual-ingestion shape: the band join is incoming × existing
    ONLY (never existing × existing), so re-checking a small delta
    against a 100 TB corpus costs |delta|-bands ⋈ corpus-bands, not a
    full-corpus self-join. In production the existing side's banded
    table and shingle hashes are PRECOMPUTED and stored (they are
    plain columnar tables — partition by band/bucket and the join
    prunes); here they are derived inline from the frame.

    Returns exact-verified pairs ``(id_a existing, id_b incoming,
    jaccard ≥ threshold)`` — same hard-oracle contract as
    :func:`minhash_lsh_dedup_pairs`, restricted to cross-set pairs.
    Within-batch duplicates are a separate (cheap) self-dedup of the
    incoming frame.

    Id contract: ids should be DISJOINT between the two frames (an
    ingestion batch carries new ids). An id present in both sides is
    treated as the same document — it never pairs with itself, and
    the verification table is distinct-ed so the duplicated shingle
    rows cannot inflate ``n_grams``/``n_common`` for pairs involving
    it; if the two sides carry DIFFERENT texts under one id, that is
    corrupt input and the merged shingle set makes its Jaccard
    meaningless — fix the ids upstream."""
    sh_ex = shingle_hashes(
        existing, text_col, id_col, ngram, distinct=True
    ).cache()
    sh_in = shingle_hashes(
        incoming, text_col, id_col, ngram, distinct=True
    ).cache()
    banded_ex = _banded_table(
        _signatures_from_shingles(sh_ex, num_hashes), num_hashes, bands
    )
    banded_in = _banded_table(
        _signatures_from_shingles(sh_in, num_hashes), num_hashes, bands
    )
    cand = (
        banded_ex.select(F.col("id").alias("id_a"), "band", "bucket")
        .join(
            banded_in.select(F.col("id").alias("id_b"), "band", "bucket"),
            ["band", "bucket"],
        )
        .filter(F.col("id_a") != F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    # distinct: with disjoint ids this is a no-op on already-distinct
    # sides; with an id on both sides it collapses the duplicated
    # shingle rows so verification counts stay exact (see id contract)
    return _verify_candidates_arrays(
        sh_ex.union(sh_in).distinct(), cand, threshold
    )


def simhash_band_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 3,
    bands: int = 8,
    max_hamming: int | None = None,
    feats: DataFrame | None = None,
) -> DataFrame:
    """SimHash candidate pairs: split the 64-bit signature into
    ``bands`` contiguous bit-bands and bucket-join on (band, bits) —
    pairs within Hamming distance < ``bands`` are guaranteed to share
    a band (pigeonhole); near-dups differ in far fewer bits. Shuffle
    carries only (id, band, bucket) longs.

    ``max_hamming`` adds a full-signature ``bit_count(xor)`` gate
    INSIDE the bucket join — with narrow bands (small bucket space)
    random band collisions dwarf the true pairs quadratically, so the
    signature rides along on the banded table and collision pairs die
    on a codegen popcount as they stream out of the join, before the
    candidate ``distinct`` exchange ever sees them (the naive
    join→distinct→gate order shuffles the full quadratic collision
    set: ~620M rows at 50k docs with 4-bit bands). Set it to
    ``bands - 1`` to keep exactly the pigeonhole-guaranteed recall
    class.

    ``feats`` supplies a pre-built distinct (id, h) feature table so
    the caller can share one cached shingle table between signature
    and verification stages."""
    width = 64 // bands
    mask = (1 << width) - 1
    st = (
        _simhash_from_features(feats)
        if feats is not None
        else simhash_table(df, text_col, id_col, ngram)
    ).cache()
    # one selectExpr roundtrip instead of per-band Column chains
    # (same resolved plan; see _signatures_from_shingles)
    structs = ", ".join(
        f"struct({bnd} AS band, "
        f"shiftright(simhash, {bnd * width}) & {mask}L AS bucket)"
        for bnd in range(bands)
    )
    banded = st.selectExpr(
        "id", "simhash", f"inline(array({structs}))"
    )
    a = banded.select(
        F.col("id").alias("id_a"), F.col("simhash").alias("__sa"),
        "band", "bucket",
    )
    b = banded.select(
        F.col("id").alias("id_b"), F.col("simhash").alias("__sb"),
        "band", "bucket",
    )
    pre = a.join(b, ["band", "bucket"]).filter(F.col("id_a") < F.col("id_b"))
    if max_hamming is not None:
        # signatures joined as plain columns of the banded table —
        # collision pairs are gated in the SAME codegen stage the
        # join emits them from; only survivors reach the distinct
        pre = pre.filter(
            F.bit_count(F.col("__sa").bitwiseXOR(F.col("__sb")))
            <= F.lit(int(max_hamming))
        )
    return pre.select("id_a", "id_b").distinct()


def simhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 3,
    bands: int = 8,
    threshold: float = 0.8,
) -> DataFrame:
    """SimHash-banded candidates + exact-Jaccard verification — the
    SimHash analogue of :func:`minhash_lsh_dedup_pairs`, same
    oracle-checkable output contract. Candidates are pre-gated at
    Hamming ≤ bands-1 (the pigeonhole recall class) so verification
    cost tracks true near-dups, not random band collisions; signature
    and verification stages share ONE cached distinct shingle table
    (the corpus is scanned and shingled once)."""
    shingled = shingle_hashes(
        df, text_col, id_col, ngram, distinct=True
    ).cache()
    cand = simhash_band_pairs(
        df, text_col, id_col, ngram, bands,
        max_hamming=bands - 1, feats=shingled,
    )
    return _verify_candidates_arrays(shingled, cand, threshold)


def simhash_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 1,
) -> DataFrame:
    """(id, simhash) via explode+aggregate: per bit, count features
    with that bit set (64 plain ``sum`` aggregates — codegen +
    map-side combine); bit set in the output when more than half the
    features have it. Near-dups differ in few bits (verify with
    ``bit_count(s1 ^ s2) <= k``). Docs with no features are absent."""
    if ngram > 1:
        feats = shingle_hashes(df, text_col, id_col, ngram, distinct=True)
    else:
        feats = df.select(
            F.col(id_col).alias("id"), F.explode(tokenize(text_col)).alias("w")
        ).distinct().select("id", F.xxhash64("w").alias("h"))
    return _simhash_from_features(feats)


def _simhash_from_features(feats: DataFrame) -> DataFrame:
    """(id, simhash) from a distinct (id, h) feature-hash table —
    shareable with the verification stage's shingle table."""
    # both stages assembled as single SQL strings: 64 per-bit
    # Column-object chains cost ~700 py4j roundtrips of driver
    # latency per plan build (see _signatures_from_shingles); one
    # F.expr parses server-side to the identical resolved plan
    sums_sql = ", ".join(
        f"sum(shiftright(h, {bit}) & 1L)" for bit in range(64)
    )
    counted = feats.groupBy("id").agg(
        F.expr("count(1) AS __n"), F.expr(f"array({sums_sql}) AS __b")
    )
    terms = " + ".join(
        f"if(__b[{bit}] * 2 > __n, {1 << bit}L, 0L)"
        if bit < 63
        # avoid the 2**63 long-literal overflow: shift the sign bit
        else f"shiftleft(if(__b[{bit}] * 2 > __n, 1L, 0L), 63)"
        for bit in range(64)
    )
    return counted.selectExpr("id", f"({terms}) AS simhash")


def simhash64(col: str | Column, ngram: int = 1) -> Column:
    """64-bit SimHash as a per-row Column expression (interpreted HOF
    path — kept for expression contexts; use :func:`simhash_table`
    in hot paths). For each bit, sum ±1 over feature hashes; bit = 1
    when the sum is positive."""
    feats = word_ngrams(col, ngram) if ngram > 1 else F.array_distinct(tokenize(col))
    hashes = F.transform(feats, lambda g: F.xxhash64(g))
    n = F.size(hashes)

    def bit_test(b: int):
        # closure, not default-arg lambda
        return lambda h: F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1

    bit_exprs = []
    for bit in range(64):
        ones = F.size(F.filter(hashes, bit_test(bit)))
        bit_exprs.append(
            F.when(ones * 2 > n, F.lit(1).cast("long")).otherwise(
                F.lit(0).cast("long")
            )
            * F.lit(2 ** bit).cast("long")
            if bit < 63
            # avoid 2**63 overflow: use shiftleft for the sign bit
            else F.shiftleft(
                F.when(ones * 2 > n, F.lit(1).cast("long")).otherwise(
                    F.lit(0).cast("long")
                ),
                63,
            )
        )
    total = bit_exprs[0]
    for e in bit_exprs[1:]:
        total = total + e
    return total


def contamination_overlap(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 4,
) -> DataFrame:
    """Benchmark decontamination: corpus documents sharing ≥1 distinct
    word ``n``-gram with any benchmark document, with the overlap
    count — the standard eval-set leakage gate before training.

    Scale shape: the benchmark side is tiny (an eval set), so its
    distinct gram table broadcasts; the corpus side streams through
    the same codegen shingling as the dedup ladder
    (:func:`~trisk_datawrangle_spark.llm.text.word_gram_table`) and
    the flag is one broadcast semi-ish join + a doc-keyed count.
    Grams stay strings here for cross-engine checkability; at 100 TB
    hash them (xxhash64) to shrink the broadcast and the shuffle."""
    from trisk_datawrangle_spark.llm.text import word_gram_table

    bench_grams = (
        word_gram_table(benchmark, text_col, id_col, n, distinct=True)
        .select("gram")
        .distinct()
    )
    return (
        word_gram_table(corpus, text_col, id_col, n, distinct=True)
        .join(F.broadcast(bench_grams), "gram")
        .groupBy(F.col("id").alias(id_col))
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )


# ---------------------------------------------------------------- #
# Bloom-filter decontamination (the broadcast-set-free scale tier)  #
# ---------------------------------------------------------------- #
#
# contamination_overlap() broadcasts the benchmark's distinct gram
# STRINGS — fine for eval sets, but the broadcast grows with the
# benchmark's vocabulary. The Bloom tier compresses the benchmark to
# a fixed m-bit filter (m/32 rows of packed 32-bit words — a few KB)
# regardless of benchmark size: corpus grams stream through k
# broadcast-hash-joins against the bitmap, so the only shuffle left
# is the final per-document count. False positives are possible
# (rate ≈ (1 - e^(-k·n/m))^k), false negatives are not — the filter
# is a conservative pre-gate; route survivors through the exact
# overlap if exactness matters.
#
# Engine-portability: positions use the md5-hex-prefix trick
# (13 hex digits < 2^52, exact in BIGINT everywhere), words are
# 32-bit so 1<<bit never touches the sign bit in any engine.


def _bloom_position(gram_col: Column, j: int, m_bits: int) -> Column:
    """Deterministic hash position j for a gram: first 13 hex digits
    of md5(gram '|' j) as an integer, mod m_bits."""
    hx = F.md5(F.concat(gram_col, F.lit(f"|{j}")))
    return F.conv(F.substring(hx, 1, 13), 16, 10).cast("long") % m_bits


def bloom_position_sql(gram_expr: str, j: int, m_bits: int) -> str:
    """The identical position as DuckDB SQL (exact BIGINT arithmetic,
    no floats) — oracle generator counterpart of _bloom_position."""
    h = f"md5({gram_expr} || '|{j}')"
    terms = " + ".join(
        f"(strpos('0123456789abcdef', substr({h}, {i + 1}, 1)) - 1)"
        f" * {16 ** (12 - i)}"
        for i in range(13)
    )
    return f"(({terms}) % {m_bits})"


def bloom_bitmap(
    grams: DataFrame,
    gram_col: str = "gram",
    m_bits: int = 1 << 18,
    k: int = 3,
) -> DataFrame:
    """Pack a gram set into an m-bit Bloom filter as a (bucket, word)
    table of 32-bit words — at most m/32 rows, mergeable (bit_or is
    associative+commutative), broadcastable."""
    if m_bits % 32:
        raise ValueError("m_bits must be a multiple of 32")
    pos = grams.select(
        F.explode(
            F.array(*[_bloom_position(F.col(gram_col), j, m_bits) for j in range(k)])
        ).alias("pos")
    )
    # shiftleft/shiftright take a literal int in the Python API —
    # column-valued shift counts go through the SQL expression form
    return pos.groupBy(F.shiftright("pos", 5).alias("bucket")).agg(
        F.bit_or(
            F.expr("shiftleft(cast(1 as bigint), cast(pos % 32 as int))")
        ).alias("word")
    )


def bloom_contamination(
    corpus: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 4,
    m_bits: int = 1 << 18,
    k: int = 3,
) -> DataFrame:
    """Bloom-gated decontamination: corpus documents whose distinct
    word n-grams hit the benchmark's Bloom filter, with hit counts —
    same output shape as :func:`contamination_overlap`, superset
    semantics (no false negatives; FPs at the documented rate).

    Plan: benchmark grams → tiny packed bitmap; corpus grams take k
    BROADCAST joins (bucket equi-key) — no corpus-keyed shuffle until
    the final per-document aggregate. This is the shape that survives
    a benchmark too large to broadcast as strings."""
    from trisk_datawrangle_spark.llm.text import word_gram_table

    bitmap = bloom_bitmap(
        word_gram_table(benchmark, text_col, id_col, n, distinct=True)
        .select("gram")
        .distinct(),
        m_bits=m_bits,
        k=k,
    )
    g = word_gram_table(corpus, text_col, id_col, n, distinct=True)
    hit_all = F.lit(True)
    for j in range(k):
        g = g.withColumn(f"__p{j}", _bloom_position(F.col("gram"), j, m_bits))
        bm = F.broadcast(
            bitmap.select(
                F.col("bucket").alias(f"__b{j}"), F.col("word").alias(f"__w{j}")
            )
        )
        g = g.join(bm, F.shiftright(F.col(f"__p{j}"), 5) == F.col(f"__b{j}"), "left")
        hit_j = F.col(f"__w{j}").isNotNull() & F.expr(
            f"(shiftright(__w{j}, cast(__p{j} % 32 as int)) & 1) = 1"
        )
        hit_all = hit_all & hit_j
    return (
        g.groupBy(F.col("id").alias(id_col))
        .agg(F.count_if(hit_all).alias("n_bloom_hits"))
        .filter(F.col("n_bloom_hits") > 0)
    )


def block_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_words: int = 10,
    min_docs: int = 2,
) -> DataFrame:
    """Sub-document exact dedup (the C4/RefinedWeb boilerplate-removal
    step): segment every document into fixed ``block_words``-word
    blocks, drop blocks whose exact text appears in ≥ ``min_docs``
    DISTINCT documents (cross-corpus boilerplate — headers, license
    banners, templated spans), and reassemble each document from its
    surviving blocks in original order.

    Natural-paragraph corpora should segment on newlines instead; the
    fixed-width fallback keeps the operator meaningful for
    whitespace-normalized corpora where paragraph breaks are gone.

    Plan: segmentation is the shuffle-free chunking projection
    (stride = window ⇒ non-overlapping); boilerplate detection is one
    hash aggregation on block text (map-side combine collapses
    per-partition repeats); removal is a plain equi-join — the
    boilerplate set is DATA-dependent (it grows with how duplicated
    the corpus is, not with vocabulary), so the join is left to AQE:
    small sets still broadcast at runtime, a duplication-heavy crawl
    degrades to a shuffle join instead of a forced-broadcast driver
    OOM;
    reassembly is one doc-keyed aggregation using sort_array over
    (block_id, text) structs — native expressions, no interpreted
    HOF, ordered output independent of partitioning.

    Returns (id_col, clean_text, n_blocks_kept, n_blocks_removed);
    documents that were entirely boilerplate survive with an empty
    clean_text (the curation policy of dropping them belongs to the
    caller)."""
    from trisk_datawrangle_spark.llm.packing import chunk_documents

    blocks = chunk_documents(
        df, text_col, id_col, window=block_words, stride=block_words
    )
    boiler = (
        blocks.groupBy("chunk_text")
        .agg(F.count_distinct(id_col).alias("__nd"))
        .filter(F.col("__nd") >= min_docs)
        .select("chunk_text")
    )
    flagged = blocks.join(
        boiler.withColumn("__is_boiler", F.lit(True)),
        "chunk_text",
        "left",
    )
    kept = F.when(F.col("__is_boiler").isNull(), F.col("chunk_text"))
    reassembled = (
        flagged.groupBy(id_col)
        .agg(
            F.array_join(
                F.sort_array(
                    F.collect_list(
                        F.when(
                            F.col("__is_boiler").isNull(),
                            F.struct(
                                F.col("chunk_id"), F.col("chunk_text")
                            ),
                        )
                    )
                ).getField("chunk_text"),
                " ",
            ).alias("clean_text"),
            F.count(kept).alias("n_blocks_kept"),
            F.count_if(F.col("__is_boiler").isNotNull()).alias(
                "n_blocks_removed"
            ),
        )
    )
    # a doc whose text yields ZERO chunks (empty/whitespace text) has
    # no rows in the block table — without the join-back it would
    # vanish from the output, breaking the every-doc-survives
    # contract; it surfaces as (empty, 0, 0) like the all-boilerplate
    # case
    return (
        df.select(id_col)
        .join(reassembled, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
            F.coalesce(F.col("n_blocks_kept"), F.lit(0).cast("long")).alias(
                "n_blocks_kept"
            ),
            F.coalesce(
                F.col("n_blocks_removed"), F.lit(0).cast("long")
            ).alias("n_blocks_removed"),
        )
    )
