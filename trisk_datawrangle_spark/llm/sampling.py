"""Deterministic dataset splitting and sampling for training
pipelines.

``random_split``/``sample`` are partition-order dependent — rerun the
job on a different cluster layout and rows silently migrate between
train and test. Here the split is a pure function of the row's id:
``md5(id ':' seed)`` compared against hex thresholds. Properties that
matter at corpus scale:

- stable: a document keeps its split across reruns, cluster sizes,
  and engine versions (md5 is everywhere, including the DuckDB
  oracle);
- disjoint + complete by construction (threshold chain);
- leakage-controllable: pass the *dedup cluster id* (not the doc id)
  as ``id_col`` and near-duplicates land in the same split — the
  standard train/test-contamination defense;
- no shuffle: the split column is a projection.
"""

from __future__ import annotations

from collections.abc import Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _hex_threshold(cum: float) -> str:
    """Cumulative fraction → 32-hex-digit threshold string (md5 hashes
    compare lexicographically as uniform 128-bit values)."""
    scaled = int(round(cum * (1 << 128)))
    scaled = min(scaled, (1 << 128) - 1)
    return format(scaled, "032x")


def split_column(
    id_col: str | Column, fractions: Mapping[str, float], seed: int = 0
) -> Column:
    """Expression assigning each row a split label from ``fractions``
    (e.g. ``{"train": .8, "val": .1, "test": .1}``; must sum to 1).
    Pure projection — usable on batch and streaming frames alike."""
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions sum to {total}, expected 1")
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    h = F.md5(F.concat(c.cast("string"), F.lit(f":{seed}")))
    expr = None
    cum = 0.0
    labels = list(fractions)
    for label in labels[:-1]:
        cum += fractions[label]
        cond = h < F.lit(_hex_threshold(cum))
        expr = F.when(cond, label) if expr is None else expr.when(cond, label)
    last = F.lit(labels[-1])
    return last if expr is None else expr.otherwise(last)


def deterministic_split(
    df: DataFrame,
    id_col: str,
    fractions: Mapping[str, float],
    seed: int = 0,
    out_col: str = "split",
) -> DataFrame:
    """Attach the split label column. For leakage-safe splits over a
    near-dup'd corpus, pass the dedup cluster id as ``id_col``."""
    return df.withColumn(out_col, split_column(id_col, fractions, seed))


def stratified_take(
    df: DataFrame,
    group_cols,
    k: int,
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Deterministic per-group sample of exactly ``min(k, |group|)``
    rows: rank by ``md5(id:seed)`` within each group and keep the
    first ``k``. A hash order is an unbiased shuffle of the group,
    but — unlike ``sample``/``rand()`` — the chosen rows are a pure
    function of (id, seed): reruns, retries and different cluster
    layouts pick the same eval subset. One shuffle (the window
    partition); no driver-side collection."""
    from pyspark.sql import Window

    c = F.col(id_col).cast("string")
    h = F.md5(F.concat(c, F.lit(f":{seed}")))
    w = Window.partitionBy(*group_cols).orderBy(h, id_col)
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


def split_sql(id_expr: str, fractions: Mapping[str, float], seed: int = 0) -> str:
    """The same split as ANSI-ish SQL (DuckDB-compatible) — keeps the
    engine and any SQL-side consumer assigning identical labels."""
    total = sum(fractions.values())
    if abs(total - 1.0) > 1e-9:
        raise ValueError(f"fractions sum to {total}, expected 1")
    h = f"md5(CAST({id_expr} AS VARCHAR) || ':{seed}')"
    cum = 0.0
    labels = list(fractions)
    parts = ["CASE"]
    for label in labels[:-1]:
        cum += fractions[label]
        parts.append(f"WHEN {h} < '{_hex_threshold(cum)}' THEN '{label}'")
    parts.append(f"ELSE '{labels[-1]}' END")
    return " ".join(parts)


def md5_uniform(id_col: str | Column, seed: int = 0) -> Column:
    """Deterministic uniform in (0, 1], engine-portable: the first 13
    hex digits of ``md5(id ':' seed)`` parsed as an integer v < 2^52
    (so v, and v+1 over 2^52, are EXACTLY representable in a double —
    no cross-engine rounding), mapped to ``(v+1) / 2^52``."""
    c = F.col(id_col) if isinstance(id_col, str) else id_col
    hx = F.md5(F.concat(c.cast("string"), F.lit(f":{seed}")))
    v = F.conv(F.substring(hx, 1, 13), 16, 10).cast("double")
    return (v + F.lit(1.0)) / F.lit(float(1 << 52))


def weighted_take(
    df: DataFrame,
    group_cols,
    k: int,
    weight_col: str,
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """Deterministic weighted sampling WITHOUT replacement
    (Efraimidis–Spirakis): per group, keep the ``k`` rows maximizing
    ``u^(1/w)`` — equivalently ``ln(u)/w``, the monotone form used
    here — where ``u`` is the row's :func:`md5_uniform`. Inclusion
    probability scales with the weight (quality score, token count…),
    yet the chosen rows are a pure function of (id, seed): reruns,
    retries and different cluster layouts pick the same subset —
    the standard quality-weighted corpus-selection step, minus
    ``rand()``'s partition-order dependence.

    Rows with NULL or non-positive weight are excluded (weight 0 =
    never sampled, the E-S convention). One shuffle (the window
    partition), no driver-side state."""
    w_col = F.col(weight_col).cast("double")
    key = F.log(md5_uniform(id_col, seed)) / w_col
    from pyspark.sql import Window

    win = Window.partitionBy(*group_cols).orderBy(
        key.desc(), F.col(id_col)
    )
    return (
        df.filter(w_col > 0)
        .withColumn("__rk", F.row_number().over(win))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


def cap_per_group(
    df: DataFrame,
    group_cols,
    k: int,
    priority_col: str,
    id_col: str = "doc_id",
    descending: bool = True,
) -> DataFrame:
    """Per-group document cap — the RefinedWeb/C4-style "at most k
    documents per domain" curation step, here by explicit quality
    priority rather than hash order (:func:`stratified_take` is the
    hash-order variant). Keeps the ``k`` best rows per group ranked
    by ``priority_col`` (desc by default) with ``id_col`` as the
    deterministic tiebreak, so the survivors are a pure function of
    the data — reruns and different partitionings keep the same rows.

    Scale shape: one shuffle (the window partition on the group
    key); no driver-side state. A skewed group (one giant domain)
    concentrates its rows on one task but emits at most ``k`` of
    them.
    """
    from pyspark.sql import Window

    p = F.col(priority_col)
    w = Window.partitionBy(*group_cols).orderBy(
        p.desc() if descending else p.asc(), F.col(id_col).asc()
    )
    return (
        df.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


def md5_uniform_sql(id_expr: str, seed: int = 0) -> str:
    """The identical uniform as DuckDB SQL (hex digits parsed via
    strpos — every intermediate integer < 2^52, exact in double)."""
    h = f"md5(CAST({id_expr} AS VARCHAR) || ':{seed}')"
    terms = " + ".join(
        f"(strpos('0123456789abcdef', substr({h}, {i + 1}, 1)) - 1) "
        f"* {16 ** (12 - i)}.0"
        for i in range(13)
    )
    return f"(({terms}) + 1.0) / {float(1 << 52)!r}"


def balance_sources(
    df: DataFrame,
    group_col: str,
    weight_col: str,
    id_col: str = "doc_id",
    seed: int = 0,
    alpha: float = 0.0,
) -> DataFrame:
    """Source-balanced mixture sampling — the data-mixing step of a
    pretraining corpus build: downsample every source to the token
    budget of the SMALLEST source, so no domain dominates the
    mixture. Each source's acceptance rate is
    ``(min_source_weight / source_weight) ** (1 - alpha)`` —
    ``alpha=0`` (default) is the full balance (rate m/w),
    ``alpha=1`` keeps every source whole, and intermediate
    temperatures interpolate (the standard multilingual
    temperature-sampling curve, anchored at the smallest source so
    small domains are never starved). Weights are summed from
    ``weight_col``, e.g. token counts), and a row is kept when its
    :func:`md5_uniform` ≤ rate — a pure function of (id, seed), so
    the sampled mixture is identical across reruns, partitionings
    and engines, and the EXPECTED kept weight is equal per source.

    Rows with NULL or non-positive weight are never sampled (the
    :func:`weighted_take` convention), and sources with no positive
    weight contribute nothing — without the guard a zero-weight
    source is a ``0/0`` under ANSI (job kill) AND, as the global min,
    would silently zero every other source's rate. A NULL
    ``group_col`` forms its own source (the repo-wide NULL-keys-
    form-their-own-group policy, cf. ``operators/mlprep.py``):
    ``groupBy`` already groups NULLs together, and the rate join
    back is NULL-SAFE so dirty rows are sampled against each other
    instead of silently vanishing from the mixture.

    Scale shape: one group aggregate (source-cardinality rows) + a
    broadcast of the rates back onto the scan — no extra shuffle of
    the fact side."""
    w_col = F.col(weight_col).cast("long")
    eligible = df.filter(w_col > 0)
    weights = eligible.groupBy(group_col).agg(
        F.sum(w_col).alias("__w")
    )
    m = weights.agg(F.min("__w").alias("__m"))
    # temperature generalization (multilingual alpha-sampling,
    # normalized against the SMALLEST source so no cross-source
    # float sum exists to go order-dependent): rate = (min/w)^(1-a).
    # alpha=0 is the full balance above; alpha=1 keeps everything.
    # Exponents 0 / 0.5 / 1 use exact IEEE ops (lit / sqrt /
    # division) so the DuckDB oracle reproduces the rates to the
    # ulp; other exponents go through pow(), whose libm rounding is
    # engine-specific — fine for production, not for hash oracles.
    ratio = F.col("__m").cast("double") / F.col("__w").cast("double")
    e = 1.0 - alpha
    if e == 1.0:
        rate = ratio
    elif e == 0.5:
        rate = F.sqrt(ratio)
    elif e == 0.0:
        rate = F.lit(1.0)
    else:
        rate = F.pow(ratio, F.lit(e))
    rates = weights.crossJoin(F.broadcast(m)).select(
        F.col(group_col).alias("__g"),
        rate.alias("__rate"),
    )
    return (
        eligible.join(
            F.broadcast(rates),
            F.col(group_col).eqNullSafe(F.col("__g")),
        )
        .filter(md5_uniform(id_col, seed) <= F.col("__rate"))
        .drop("__g", "__rate")
    )


def curriculum_order(
    df: DataFrame,
    quality_col: str,
    n_tiers: int,
    id_col: str = "doc_id",
    seed: int = 0,
    n_shards: int = 32,
) -> DataFrame:
    """Curriculum data ordering: every document gets a quality
    ``tier`` (1 = highest), a ``shard``, and a deterministic
    ``position`` within its (tier, shard) — the schedule a
    distributed dataloader streams tier-by-tier (shards interleaved
    freely within a tier): easy/high-quality data first, the
    standard curriculum / annealing ordering for pretraining.

    Scale shape — deliberately NOT a global-sort NTILE (the
    single-task hazard :func:`~trisk_datawrangle_spark.operators.
    mlprep.quantile_bins` documents): tier boundaries come from ONE
    exact-percentile aggregate (n_tiers-1 cut points, a bounded
    driver value) applied back as a projection, and the position
    window is partitioned by (tier, shard) — corpus/(tiers·shards)
    rows per task, sized by ``n_shards``. Boundary ties share a tier
    (counts are near-equal, not exactly equal — a schedule wants
    monotone quality, not perfect card-counts).

    Determinism: within-shard order is :func:`md5_uniform` of
    (id, seed) with the id as tiebreak; the shard is the
    :func:`md5_uniform` of (id, seed+1) scaled to ``n_shards`` (md5,
    not xxhash, so the DuckDB oracle assigns identical shards) — the
    whole schedule is a pure function of the data. NULL/NaN quality
    lands in the LAST tier (consumed last), documented rather than
    silently first (Spark's nulls-first sort order)."""
    from pyspark.sql import Window

    if n_tiers < 1 or n_shards < 1:
        raise ValueError(
            f"curriculum_order: n_tiers ({n_tiers}) and n_shards "
            f"({n_shards}) must be >= 1"
        )
    probs = [i / n_tiers for i in range(1, n_tiers)]
    q = F.col(quality_col).cast("double")
    present = q.isNotNull() & ~F.isnan(q)
    bounds = None
    if probs:  # n_tiers=1 has no cut points — everything is tier 1
        # project the quality column to a fixed alias first: the
        # F.expr SQL string then never embeds a caller-supplied name
        # (a column needing backticks — dots, spaces — would fail to
        # parse, and a string splice is an injection surface)
        bounds_row = (
            df.select(F.col(quality_col).alias("__q"))
            .agg(
                F.expr(
                    "percentile(__q, array({}))".format(
                        ", ".join(map(repr, probs))
                    )
                ).alias("b")
            )
            .head()
        )
        bounds = bounds_row["b"] if bounds_row else None
    tier = F.lit(n_tiers)
    if bounds is not None:
        above = F.lit(0)
        for b in bounds:
            above = above + F.when(q >= F.lit(float(b)), 1).otherwise(0)
        tier = F.when(present, F.lit(n_tiers) - above).otherwise(
            F.lit(n_tiers)
        )
    shard = F.least(
        F.floor(md5_uniform(id_col, seed + 1) * n_shards),
        F.lit(n_shards - 1),
    )
    out = df.withColumn("tier", tier.cast("int")).withColumn(
        "shard", shard.cast("int")
    )
    pos_w = Window.partitionBy("tier", "shard").orderBy(
        md5_uniform(id_col, seed).asc(), F.col(id_col).asc()
    )
    return out.withColumn("position", F.row_number().over(pos_w))


def weighted_take_log(
    df: DataFrame,
    group_cols,
    k: int,
    logweight_col: str,
    id_col: str = "doc_id",
    seed: int = 0,
) -> DataFrame:
    """:func:`weighted_take` for LOG-domain weights (inclusion
    probability ∝ exp(logweight) — the DSIR resampling step, where
    weights arrive as log-ratios and exponentiating would over/underflow
    for extreme docs). Efraimidis–Spirakis key rewritten monotonically:
    maximizing ``ln(u)/exp(lw)`` ⟺ minimizing ``ln(−ln u) − lw``, so
    the whole selection happens in the log domain. Deterministic in
    (id, seed); one keyed window shuffle."""
    key = F.log(-F.log(md5_uniform(id_col, seed))) - F.col(logweight_col)
    from pyspark.sql import Window

    win = Window.partitionBy(*group_cols).orderBy(
        key.asc(), F.col(id_col)
    )
    return (
        df.withColumn("__rk", F.row_number().over(win))
        .filter(F.col("__rk") <= k)
        .drop("__rk")
    )


def md5_bucket(col: str | Column, buckets: int, seed: int = 0) -> Column:
    """Deterministic feature-hash bucket in [0, buckets): the first 8
    hex digits of ``md5(value ':' seed)`` (32 bits — exactly
    representable, no cross-engine rounding) mod ``buckets``."""
    c = F.col(col) if isinstance(col, str) else col
    hx = F.md5(F.concat(c.cast("string"), F.lit(f":{seed}")))
    return F.conv(F.substring(hx, 1, 8), 16, 10).cast("long") % F.lit(
        int(buckets)
    )


def md5_bucket_sql(expr: str, buckets: int, seed: int = 0) -> str:
    """The identical bucket as DuckDB SQL (strpos polynomial over the
    8 hex digits — every intermediate < 2^32, exact)."""
    h = f"md5(CAST({expr} AS VARCHAR) || ':{seed}')"
    terms = " + ".join(
        f"(strpos('0123456789abcdef', substr({h}, {i + 1}, 1)) - 1) "
        f"* {16 ** (7 - i)}.0"
        for i in range(8)
    )
    return f"(CAST(({terms}) AS BIGINT) % {int(buckets)})"


def dsir_importance_weights(
    df: DataFrame,
    target: Column,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
    buckets: int = 512,
    seed: int = 0,
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, public): score
    every document by how much its hashed word-``n``-gram feature
    distribution looks like the ``target`` subset vs the raw corpus —
    ``logweight(doc) = Σ_grams ln(p̂_target(bucket)/p̂_raw(bucket))``
    with add-one smoothing over ``buckets`` hashed features. The
    standard data-selection step before pretraining: resample the raw
    corpus ∝ exp(logweight) to shift it toward the target domain.

    Scale shape: one gram pass (shared relational gram builder), the
    feature distributions are ONE map-side-combinable aggregate over
    at most ``buckets`` keys (conditional sum — target and raw counts
    in the same pass, no second scan), the totals row is a broadcast
    cross join, and the per-doc reduce is keyed by id. Nothing is
    driver-sized except the ``buckets``-row stats frame. Documents
    with fewer than ``n`` words get logweight 0.0 via the left join.

    Determinism: buckets come from :func:`md5_bucket` (engine-exact);
    the ``ln`` sums are floats — consumers should round for
    cross-engine comparison (the catalog entry rounds to 1e-6).
    """
    from trisk_datawrangle_spark.llm.text import word_gram_table

    grams = word_gram_table(df, text_col, id_col, n)
    tagged = grams.select(
        "id", md5_bucket("gram", buckets, seed).alias("b")
    )
    flags = df.select(
        F.col(id_col).alias("id"), target.cast("int").alias("__t")
    )
    gb = tagged.join(flags, "id")
    stats = gb.groupBy("b").agg(
        F.count(F.lit(1)).alias("c_r"), F.sum("__t").alias("c_t")
    )
    totals = stats.agg(
        F.sum("c_r").alias("n_r"), F.sum("c_t").alias("n_t")
    )
    per_doc = (
        gb.join(stats, "b")
        .groupBy("id")
        .agg(
            F.sum(
                F.log((F.col("c_t") + 1.0) / (F.col("c_r") + 1.0))
            ).alias("__s"),
            F.count(F.lit(1)).alias("n_grams"),
        )
    )
    bb = float(buckets)
    const = F.log((F.col("n_r") + bb) / (F.col("n_t") + bb))
    return (
        df.select(F.col(id_col).alias("id"))
        .join(per_doc, "id", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            F.col("id").alias(id_col),
            F.coalesce("n_grams", F.lit(0)).alias("n_grams"),
            F.coalesce(
                F.col("__s") + F.col("n_grams") * const, F.lit(0.0)
            ).alias("logweight"),
        )
    )


def global_take(
    df: DataFrame, k: int, id_col: str = "doc_id", seed: int = 0
) -> DataFrame:
    """Deterministic corpus-wide sample of exactly ``min(k, n)``
    rows: the ``k`` smallest :func:`md5_uniform` values (id
    tiebreak). The hash order is an unbiased shuffle, but — unlike
    ``DataFrame.sample`` — the chosen rows are a pure function of
    (id, seed), and unlike ``stratified_take`` with one giant group
    (an unpartitioned window = single-task global sort), this
    executes as TakeOrderedAndProject: a per-partition top-k plus a
    k-row driver merge — the eval-subset selection that still works
    on a 100 TB corpus. Keep ``k`` driver-merge-sized (≲10^6)."""
    return df.orderBy(
        md5_uniform(id_col, seed).asc(), F.col(id_col).asc()
    ).limit(k)
