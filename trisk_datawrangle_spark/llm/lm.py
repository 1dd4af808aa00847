"""Corpus n-gram language-model quality scoring (the CCNet-style
perplexity filter): score every document by the mean log-probability
of its word bigrams under an add-one-smoothed bigram model trained on
the corpus itself. Low scores = improbable token sequences (mojibake,
boilerplate soup, keyboard mash); the classic cheap proxy for "does
this read like language" used to rank web text before training.

Model and scoring are one relational plan:

    bigram table (shared, cached)
      → groupBy(gram):  c2(w1 w2)          (one shuffle)
      → groupBy(w1):    c1(w1)             (one shuffle, same table)
      → distinct w:     V  (1-row broadcast)
    doc bigrams ⋈ c2 ⋈ c1 × V → per-doc mean logprob   (equi-joins)

Determinism contract: each bigram's ``ln((c2+1)/(c1+V))`` is rounded
to integer MICRO-units (``BIGINT``) before the per-document SUM, so
the aggregation is order-independent and bit-identical on any
partitioning and in any engine — the same exact-integer-sum trick the
money columns use (SURVEY §7.4). Only the final mean is a float, and
it is the exactly-rounded quotient of exact integers.

The model tables are token-vocabulary-sized — they stay as shuffle
equi-joins (never collected).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from trisk_datawrangle_spark.llm.text import word_gram_table

_MICRO = 1_000_000


def ngram_lm_scores(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    round_to: int = 6,
) -> DataFrame:
    """(id_col, n_bigrams, lm_score) for every document with ≥1
    bigram. ``lm_score`` is the mean add-one-smoothed bigram
    log-probability (natural log; ≤ 0, higher = more predictable).

    Smoothing: ``P(w2|w1) = (c(w1 w2) + 1) / (c(w1·) + V)`` where
    ``c(w1·)`` counts bigrams starting with ``w1`` and ``V`` is the
    corpus's distinct-token count."""
    grams = (
        word_gram_table(df, text_col, id_col, n=2)
        .withColumn("w1", F.split(F.col("gram"), " ")[0])
        # stage boundary: the token-scale gram table feeds model
        # training AND doc scoring — uncached the posexplode+lead
        # subtree runs three times.
        .cache()
    )
    c2 = grams.groupBy("gram").agg(F.count(F.lit(1)).alias("c2"))
    c1 = grams.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    vocab = (
        word_gram_table(df, text_col, id_col, n=1, distinct=True)
        .select("gram")
        .distinct()
        .agg(F.count(F.lit(1)).alias("V"))
    )
    lp = (
        grams.join(c2, "gram")
        .join(c1, "w1")
        .crossJoin(F.broadcast(vocab))
        .select(
            "id",
            F.round(
                F.log(
                    (F.col("c2").cast("double") + F.lit(1.0))
                    / (F.col("c1").cast("double") + F.col("V").cast("double"))
                )
                * F.lit(float(_MICRO)),
                0,
            )
            .cast("long")
            .alias("lp_micro"),
        )
    )
    return lp.groupBy("id").agg(
        F.count(F.lit(1)).alias("n_bigrams"),
        F.round(
            F.sum("lp_micro").cast("double")
            / F.count(F.lit(1)).cast("double")
            / F.lit(float(_MICRO)),
            round_to,
        ).alias("lm_score"),
    ).select(F.col("id").alias(id_col), "n_bigrams", "lm_score")


def ngram_lm_sql(
    source: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    round_to: int = 6,
) -> str:
    """The identical computation as DuckDB SQL (same tokenizer, same
    micro-integer rounding before the sum) — the catalog oracle."""
    return f"""
WITH words AS (
    SELECT {id_col} AS id, w, i
    FROM (
        SELECT {id_col},
            unnest(list_filter(string_split_regex(lower({text_col}),
                                                  '[^a-z0-9]+'),
                               x -> x <> '')) AS w,
            unnest(range(1, len(list_filter(
                string_split_regex(lower({text_col}), '[^a-z0-9]+'),
                x -> x <> '')) + 1)) AS i
        FROM {source}
    )
), bigrams AS (
    SELECT a.id, a.w AS w1, a.w || ' ' || b.w AS gram
    FROM words a JOIN words b ON a.id = b.id AND b.i = a.i + 1
), c2 AS (
    SELECT gram, COUNT(*) AS c2 FROM bigrams GROUP BY 1
), c1 AS (
    SELECT w1, COUNT(*) AS c1 FROM bigrams GROUP BY 1
), vocab AS (
    SELECT COUNT(DISTINCT w) AS V FROM words
), lp AS (
    SELECT g.id,
        CAST(ROUND(ln((CAST(c2.c2 AS DOUBLE) + 1.0)
                      / (CAST(c1.c1 AS DOUBLE) + CAST(v.V AS DOUBLE)))
                   * {_MICRO}.0, 0) AS BIGINT) AS lp_micro
    FROM bigrams g
    JOIN c2 USING (gram)
    JOIN c1 USING (w1)
    CROSS JOIN vocab v
)
SELECT id AS {id_col}, COUNT(*) AS n_bigrams,
    ROUND(CAST(SUM(lp_micro) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
          / {_MICRO}.0, {round_to}) AS lm_score
FROM lp GROUP BY 1
"""
