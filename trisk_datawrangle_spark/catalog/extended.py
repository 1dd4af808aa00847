"""Extended catalog: sources/sinks (S1/S2/S6/S8), remaining scalar
families (F2-F9, F13), spine extensions (T4/T6), assertion summary
(Q1-Q4), the layered-median financial cascade (§3.2 analog), and the
full §2.11 regroup-rename — each with a DuckDB oracle.

Source round-trips write into a per-sf scratch dir under /tmp: the
query is "sink then typed scan" (S6→S1), oracled against the original
parquet, so the driver's hash check covers both directions.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from trisk_datawrangle_spark.functions.aggregates import median
from trisk_datawrangle_spark.functions.scalars import row_sum
from trisk_datawrangle_spark.operators.geography import (
    geography_rename_map,
    standardize_geography_names,
)
from trisk_datawrangle_spark.operators.interpolate import (
    backfill_from_year,
    fill_locf,
)
from trisk_datawrangle_spark.operators.spine import complete_spine
from trisk_datawrangle_spark.sources.readers import (
    load_tables,
    read_csv_typed,
    read_excel_sheet,
    write_output,
)
from trisk_datawrangle_spark.sources.seeds import load_seeds, seed_path

QUERIES: dict = {}
ORACLES: dict[str, str] = {}


def q(name: str, sql: str | None = None):
    def deco(fn):
        QUERIES[name] = fn
        if sql is not None:
            ORACLES[name] = sql
        return fn

    return deco


def _scratch(sf_dir: str, leaf: str) -> str:
    import hashlib

    # key by a hash of the FULL normalized path, not the basename —
    # two corpora both named "sf01" would otherwise share (and
    # clobber) one round-trip sink directory
    full = os.path.abspath(os.path.normpath(sf_dir))
    tag = hashlib.sha256(full.encode()).hexdigest()[:16]
    return f"/tmp/trisk_src_cache/{tag}/{leaf}"


# ---------------------------------------------------------------- #
# §2.1 sources / sinks                                              #
# ---------------------------------------------------------------- #


@q(
    "s1_s6_csv_roundtrip",
    """
SELECT CAST(n_nationkey AS BIGINT) AS nationkey, n_name AS name,
       CAST(n_regionkey AS BIGINT) AS regionkey
FROM nation
""",
)
def s1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S6 CSV sink → S1 typed CSV scan (readr ``cols_only`` parity:
    pinned schema, projection at scan —
    run_prepare_Scenarios_AnalysisInput.R:41-49). Round-tripping
    through the sink proves both directions against the parquet
    oracle."""
    (nat,) = load_tables(spark, sf_dir, ["nation"]).values()
    path = _scratch(sf_dir, "nation_csv")
    write_output(nat, path, fmt="csv", single_file=True)
    typed = read_csv_typed(
        spark,
        path,
        "n_nationkey bigint, n_name string, n_regionkey bigint, n_comment string",
    )
    return typed.select(
        F.col("n_nationkey").alias("nationkey"),
        F.col("n_name").alias("name"),
        F.col("n_regionkey").alias("regionkey"),
    )


@q(
    "s3_excel_roundtrip",
    """
SELECT CAST(n_nationkey AS BIGINT) AS nationkey, n_name AS name,
       CAST(n_regionkey AS BIGINT) AS regionkey
FROM nation
""",
)
def s3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3: Excel sink → Excel scan round trip on the stdlib xlsx
    path (sources/excel.py — no xlsx engine ships here), checked
    against the parquet oracle. Workbooks are driver-side by
    design: small dimension handoffs, never fact data."""
    import os

    from trisk_datawrangle_spark.sources.excel import write_minimal_xlsx

    (nat,) = load_tables(spark, sf_dir, ["nation"]).values()
    rows = [
        [r.n_nationkey, r.n_name, r.n_regionkey]
        for r in nat.select("n_nationkey", "n_name", "n_regionkey")
        .orderBy("n_nationkey")
        .collect()
    ]
    path = _scratch(sf_dir, "nation_xlsx")
    os.makedirs(path, exist_ok=True)
    fp = f"{path}/nation.xlsx"
    write_minimal_xlsx(fp, "nation", ["nationkey", "name", "regionkey"], rows)
    typed = read_excel_sheet(
        spark, fp, "nation", "nationkey long, name string, regionkey long"
    )
    return typed


@q(
    "s9_jsonl_roundtrip",
    """
SELECT doc_id, length(text) AS text_len, lang AS lang
FROM documents
""",
)
def s9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink → pinned-schema JSONL scan over the documents
    corpus (the interchange format for training-data pipelines).
    Round-tripping proves both directions against the parquet
    oracle; the scan never infers its schema (two full reads + type
    drift at scale)."""
    from trisk_datawrangle_spark.sources.readers import read_jsonl, write_jsonl

    (docs,) = load_tables(spark, sf_dir, ["documents"]).values()
    path = _scratch(sf_dir, "documents_jsonl")
    write_jsonl(docs.select("doc_id", "text", "lang"), path)
    typed = read_jsonl(spark, path, "doc_id long, text string, lang string")
    return typed.select(
        "doc_id", F.length("text").alias("text_len"), "lang"
    )


@q(
    "s2_semicolon_csv",
    """
SELECT CAST(r_regionkey AS BIGINT) AS regionkey, r_name AS name FROM region
""",
)
def s2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2: ``read_delim(delim=';')`` parity
    (run_prepare_price_data_long.R:318-329)."""
    (reg,) = load_tables(spark, sf_dir, ["region"]).values()
    path = _scratch(sf_dir, "region_semi")
    reg.select("r_regionkey", "r_name").coalesce(1).write.mode(
        "overwrite"
    ).option("header", True).option("sep", ";").csv(path)
    typed = read_csv_typed(
        spark, path, "r_regionkey bigint, r_name string", sep=";"
    )
    return typed.select(
        F.col("r_regionkey").alias("regionkey"), F.col("r_name").alias("name")
    )


@q(
    "s8_glob_union",
    """
SELECT name, COUNT(*) AS n FROM (
    SELECT r_name AS name FROM region
    UNION ALL SELECT r_name FROM region
) GROUP BY 1
""",
)
def s8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S8: multi-file ingest via a glob path — the reference's
    ``list.files() %>% map(read_xlsx) %>% bind_rows``
    (prep_datalake.R:13-27) is a single glob scan in Spark (file
    parallelism for free, no driver-side loop)."""
    (reg,) = load_tables(spark, sf_dir, ["region"]).values()
    base = _scratch(sf_dir, "region_multi")
    for part in ("a", "b"):
        reg.select("r_name").coalesce(1).write.mode("overwrite").option(
            "header", True
        ).csv(f"{base}/{part}")
    typed = read_csv_typed(spark, f"{base}/*", "r_name string")
    return typed.groupBy(F.col("r_name").alias("name")).agg(
        F.count(F.lit(1)).alias("n")
    )


# ---------------------------------------------------------------- #
# §2.8 scalar families F2-F9, F13                                   #
# ---------------------------------------------------------------- #


@q(
    "f2_f9_scalar_bundle",
    """
SELECT c_custkey AS custkey,
    CASE WHEN c_acctbal < 0 THEN 'debtor' ELSE 'credit' END AS standing,
    concat(c_mktsegment, '_', c_name) AS seg_name,
    regexp_extract(c_name, '([0-9]+)', 1) AS name_num,
    substr(c_name, 1, 8) AS name_head,
    regexp_replace(c_mktsegment, '[AEIOU]', '', 'g') AS devoweled,
    upper(substr(lower(c_mktsegment), 1, 1))
        || substr(lower(c_mktsegment), 2) AS segment_title,
    length(c_name) AS name_len,
    CAST(trunc(c_acctbal) AS INTEGER) AS bal_int,
    regexp_extract(c_name, '^[^#]+', 0) AS name_prefix
FROM customer
""",
)
def f2f9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F2 if_else, F3 concat, F4 regex extract, F5 regex replace,
    F6 initcap/length, F7 substring, F8 prefix extract, F9 casts —
    one projection, zero UDFs (SURVEY.md §2.8)."""
    (c,) = load_tables(spark, sf_dir, ["customer"]).values()
    return c.select(
        F.col("c_custkey").alias("custkey"),
        F.when(F.col("c_acctbal") < 0, "debtor")
        .otherwise("credit")
        .alias("standing"),
        F.concat_ws("_", "c_mktsegment", "c_name").alias("seg_name"),
        F.regexp_extract("c_name", r"([0-9]+)", 1).alias("name_num"),
        F.substring("c_name", 1, 8).alias("name_head"),
        F.regexp_replace("c_mktsegment", "[AEIOU]", "").alias("devoweled"),
        F.initcap(F.lower("c_mktsegment")).alias("segment_title"),
        F.length("c_name").alias("name_len"),
        F.col("c_acctbal").cast("int").alias("bal_int"),
        F.regexp_extract("c_name", r"^[^#]+", 0).alias("name_prefix"),
    )


@q(
    "f13_row_sum",
    """
SELECT l_orderkey AS orderkey, l_linenumber AS lineno,
    ROUND(l_extendedprice + l_tax + l_discount, 6) AS charge_parts
FROM lineitem
""",
)
def f13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F13: row-wise across-column sum (``sum(c_across(...))``,
    prepare_prewrangled_financial_data_stress_test.R:492-495)."""
    (li,) = load_tables(spark, sf_dir, ["lineitem"]).values()
    return li.select(
        F.col("l_orderkey").alias("orderkey"),
        F.col("l_linenumber").alias("lineno"),
        F.round(
            row_sum(["l_extendedprice", "l_tax", "l_discount"]), 6
        ).alias("charge_parts"),
    )


# ---------------------------------------------------------------- #
# §2.9 spine extensions T4 / T6                                     #
# ---------------------------------------------------------------- #

from trisk_datawrangle_spark.catalog.relational import (  # noqa: E402
    GAPPED_CTE,
    _series,
)


@q(
    "t4_extend_years_constant",
    f"""
WITH {GAPPED_CTE},
spine AS (
    SELECT g.segment, g.priority, y.year
    FROM (SELECT DISTINCT segment, priority FROM gapped) g
    CROSS JOIN (
        SELECT CAST(unnest(generate_series(1992, 2001)) AS INTEGER) AS year
    ) y
), joined AS (
    SELECT s.segment, s.priority, s.year, g.value
    FROM spine s LEFT JOIN gapped g USING (segment, priority, year)
)
SELECT segment, priority, year,
    ROUND(COALESCE(value,
        last_value(value IGNORE NULLS) OVER (
            PARTITION BY segment, priority ORDER BY year
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6) AS value
FROM joined
""",
)
def t4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T4: add-years constant extension — fixed-bound spine past the
    data + LOCF (prepare_prewrangled_capacity_factors.R:779-808
    loop-builds these rows; here it's spine + one window)."""
    series = _series(spark, sf_dir)
    dense = complete_spine(
        series, ["segment", "priority"], "year", bounds="fixed", lo=1992, hi=2001
    )
    filled = fill_locf(dense, ["segment", "priority"], "year", "value")
    return filled.select(
        "segment", "priority", "year", F.round("value", 6).alias("value")
    )


@q(
    "t6_backfill_from_year",
    f"""
WITH {GAPPED_CTE},
spine AS (
    SELECT g.segment, g.priority, y.year
    FROM (SELECT DISTINCT segment, priority FROM gapped) g
    CROSS JOIN (
        SELECT CAST(unnest(generate_series(1990, 1998)) AS INTEGER) AS year
    ) y
), joined AS (
    SELECT s.segment, s.priority, s.year, g.value
    FROM spine s LEFT JOIN gapped g USING (segment, priority, year)
), src AS (
    SELECT segment, priority, value AS src_value
    FROM gapped WHERE year = 1994
)
SELECT j.segment, j.priority, j.year,
    ROUND(COALESCE(j.value, s.src_value), 6) AS value
FROM joined j LEFT JOIN src s USING (segment, priority)
""",
)
def t6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T6: leading-NULL backfill from a specific year's value
    (prepare_scenario_data.R:1004-1013: DRI-BOF ← 2026 value)."""
    series = _series(spark, sf_dir)
    dense = complete_spine(
        series, ["segment", "priority"], "year", bounds="fixed", lo=1990, hi=1998
    )
    filled = backfill_from_year(
        dense, ["segment", "priority"], "year", "value", source_x=1994
    )
    return filled.select(
        "segment", "priority", "year", F.round("value", 6).alias("value")
    )


# ---------------------------------------------------------------- #
# §2.10 assertion summary Q1-Q4                                     #
# ---------------------------------------------------------------- #


@q(
    "q1_q4_assert_summary",
    """
SELECT
    (SELECT COUNT(*) FROM orders) AS row_count,
    (SELECT COUNT(*) FROM orders WHERE o_custkey IS NULL
        OR o_totalprice IS NULL) AS null_violations,
    (SELECT COUNT(*) FROM orders WHERE o_totalprice < 0) AS bounds_violations,
    (SELECT COUNT(*) FROM (
        SELECT o_orderkey FROM orders GROUP BY 1 HAVING COUNT(*) > 1
    )) AS dup_keys
""",
)
def q1q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1-Q4 as one single-pass audit row: row count (Q2), no-NULL
    (Q3), bounds (Q4) — computed in ONE aggregate scan, not four jobs
    (the raising assert_* variants in operators.quality wrap the same
    expressions); dup-keys (Q6-style) is the only extra shuffle."""
    (o,) = load_tables(spark, sf_dir, ["orders"]).values()
    audit = o.agg(
        F.count(F.lit(1)).alias("row_count"),
        F.count(
            F.when(
                F.col("o_custkey").isNull() | F.col("o_totalprice").isNull(), 1
            )
        ).alias("null_violations"),
        F.count(F.when(F.col("o_totalprice") < 0, 1)).alias(
            "bounds_violations"
        ),
    )
    dups = (
        o.groupBy("o_orderkey")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > 1)
        .agg(F.count(F.lit(1)).alias("dup_keys"))
    )
    return audit.crossJoin(F.broadcast(dups))


# ---------------------------------------------------------------- #
# §3.2 analog: layered median imputation cascade                    #
# ---------------------------------------------------------------- #


@q(
    "fin_layered_median_cascade",
    """
WITH firm AS (
    SELECT c_custkey AS firm_id, c_mktsegment AS sector,
           CAST(c_nationkey AS BIGINT) AS region,
           CASE WHEN c_acctbal >= 0 THEN c_acctbal END AS indicator
    FROM customer
), by_sr AS (
    SELECT sector, region, median(indicator) AS avg_sr
    FROM firm WHERE indicator IS NOT NULL
    GROUP BY 1, 2 HAVING COUNT(indicator) >= 30
), by_s AS (
    SELECT sector, median(indicator) AS avg_s
    FROM firm WHERE indicator IS NOT NULL GROUP BY 1
), gmed AS (
    SELECT median(indicator) AS avg_g FROM firm WHERE indicator IS NOT NULL
)
SELECT f.firm_id, f.sector, f.region,
    ROUND(COALESCE(f.indicator, sr.avg_sr, s.avg_s, g.avg_g), 6) AS indicator,
    CAST(CASE WHEN f.indicator IS NOT NULL THEN 1.0 ELSE 0.0 END AS DOUBLE)
        AS rawdata_ratio
FROM firm f
LEFT JOIN by_sr sr ON f.sector = sr.sector AND f.region = sr.region
LEFT JOIN by_s s ON f.sector = s.sector
CROSS JOIN gmed g
""",
)
def fin_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§3.2 core: layered exact-median imputation — (sector, region)
    when the pool has ≥30 firms, else sector, else global — with
    provenance tagging (A4×3 + J2/J4/J8 + F11 + F13,
    prepare_prewrangled_financial_data_stress_test.R:246-339,
    :348-441). All three layers are tiny aggregates broadcast back;
    negative balances play the reference's implausible-npm rows."""
    (c,) = load_tables(spark, sf_dir, ["customer"]).values()
    firm = c.select(
        F.col("c_custkey").alias("firm_id"),
        F.col("c_mktsegment").alias("sector"),
        F.col("c_nationkey").cast("long").alias("region"),
        F.when(F.col("c_acctbal") >= 0, F.col("c_acctbal")).alias("indicator"),
    )
    nn = firm.filter(F.col("indicator").isNotNull())
    by_sr = (
        nn.groupBy("sector", "region")
        .agg(
            median("indicator").alias("avg_sr"),
            F.count("indicator").alias("__n"),
        )
        .filter(F.col("__n") >= 30)
        .drop("__n")
    )
    by_s = nn.groupBy("sector").agg(median("indicator").alias("avg_s"))
    glob = nn.agg(median("indicator").alias("avg_g"))
    out = (
        firm.join(F.broadcast(by_sr), ["sector", "region"], "left")
        .join(F.broadcast(by_s), "sector", "left")
        .crossJoin(F.broadcast(glob))
    )
    return out.select(
        "firm_id",
        "sector",
        "region",
        F.round(
            F.coalesce("indicator", "avg_sr", "avg_s", "avg_g"), 6
        ).alias("indicator"),
        F.when(F.col("indicator").isNotNull(), 1.0)
        .otherwise(0.0)
        .alias("rawdata_ratio"),
    )


# ---------------------------------------------------------------- #
# §2.11 full regroup-rename                                         #
# ---------------------------------------------------------------- #


@q(
    "g2_regroup_rename",
    """
WITH base AS (
    SELECT r_name AS geo, n_name AS member
    FROM nation JOIN region ON n_regionkey = r_regionkey
), bridge AS (
    SELECT geo, member FROM base
    UNION ALL
    SELECT geo || ' ZONE' AS geo, member FROM base
    UNION ALL
    SELECT geo || ' & zone (R5)' AS geo, member FROM base
), sets AS (
    SELECT DISTINCT geo, member FROM bridge
), sz AS (
    SELECT geo, COUNT(*) AS n FROM sets GROUP BY 1
), inter AS (
    SELECT a.geo AS ga, b.geo AS gb, COUNT(*) AS ni
    FROM sets a JOIN sets b ON a.member = b.member AND a.geo <> b.geo
    GROUP BY 1, 2
), pairs AS (
    SELECT i.ga, i.gb FROM inter i JOIN sz ON i.ga = sz.geo
    WHERE i.ni * 1.0 / sz.n >= 1.0
), mutual AS (
    SELECT p.ga, p.gb FROM pairs p JOIN pairs q ON p.ga = q.gb AND p.gb = q.ga
), cand AS (
    SELECT ga, gb FROM mutual
    UNION ALL SELECT DISTINCT geo, geo FROM sets
), ranked AS (
    SELECT ga, gb,
        ROW_NUMBER() OVER (PARTITION BY ga ORDER BY length(gb) DESC, gb) AS rn
    FROM cand
), canon AS (
    SELECT ga AS scenario_geography, gb AS v FROM ranked WHERE rn = 1
), r1 AS (
    SELECT scenario_geography, regexp_replace(v, '&', ' and ', 'g') AS v
    FROM canon
), r2 AS (
    SELECT scenario_geography,
        CASE WHEN v LIKE '% %' THEN array_to_string(
            list_transform(string_split(v, ' '),
                           w -> upper(w[1]) || lower(w[2:])), ' ')
        ELSE v END AS v
    FROM r1
)
SELECT scenario_geography,
    regexp_replace(replace(v, ' ', ''), '\\(R5\\)', '', 'gi') AS new_name
FROM r2
""",
)
def g2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11 end-to-end: mutual-containment clusters → longest-named
    canonical label → standardization rule chain
    (rename_geographies.R:148-176, :222-268). The ' ZONE' and
    ' & zone (R5)' clones synthesize the duplicate-geography situation
    the reference deduplicates (same country set under different
    labels) and exercise every renaming rule."""
    t = load_tables(spark, sf_dir, ["nation", "region"])
    base = t["nation"].join(
        F.broadcast(t["region"]),
        t["nation"].n_regionkey == t["region"].r_regionkey,
    )
    labeled = base.select(
        F.col("r_name").alias("scenario_geography"),
        F.col("n_name").alias("country_iso"),
    )
    bridge = (
        labeled.unionByName(
            labeled.select(
                F.concat("scenario_geography", F.lit(" ZONE")).alias(
                    "scenario_geography"
                ),
                "country_iso",
            )
        ).unionByName(
            labeled.select(
                F.concat("scenario_geography", F.lit(" & zone (R5)")).alias(
                    "scenario_geography"
                ),
                "country_iso",
            )
        )
    )
    return geography_rename_map(bridge, tolerance=1.0)


@q(
    "g3_standardize_names",
    """
WITH labels AS (
    SELECT n_name AS label FROM nation
    UNION ALL
    SELECT lower(n_name) || ' & co (R5)' AS label FROM nation
    UNION ALL
    SELECT lower(n_name) AS label FROM nation
    UNION ALL
    SELECT n_name || ' economic zone' AS label FROM nation
), r1 AS (
    SELECT label, regexp_replace(label, '&', ' and ', 'g') AS v
    FROM labels
), r2 AS (
    SELECT label,
        CASE WHEN v LIKE '% %' THEN array_to_string(
            list_transform(string_split(v, ' '),
                           w -> upper(w[1]) || lower(w[2:])), ' ')
        ELSE v END AS v
    FROM r1
)
SELECT DISTINCT label,
    regexp_replace(replace(v, ' ', ''), '\\(R5\\)', '', 'gi') AS new_name
FROM r2
""",
)
def g3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.11 generic renaming rule chain in isolation
    (rename_geographies.R:148-176): '&' → ' and ', conditional
    title-case, whitespace strip, '(R5)' strip. Labels decorate
    nation names to hit every rule plus the single-token casing
    gate (lowercased names without spaces keep their case)."""
    (n,) = load_tables(spark, sf_dir, ["nation"]).values()
    labels = (
        n.select(F.col("n_name").alias("label"))
        .unionByName(
            n.select(
                F.concat(F.lower("n_name"), F.lit(" & co (R5)")).alias(
                    "label"
                )
            )
        )
        .unionByName(n.select(F.lower("n_name").alias("label")))
        .unionByName(
            n.select(
                F.concat(F.col("n_name"), F.lit(" economic zone")).alias(
                    "label"
                )
            )
        )
    )
    return labels.withColumn(
        "new_name", standardize_geography_names("label")
    ).distinct()


# ---------------------------------------------------------------- #
# S7 in-package seed datasets / Q7 row-diff report                  #
# ---------------------------------------------------------------- #


@q(
    "s7_seed_datasets",
    f"""
SELECT 'geo:' || scenario_geography AS key,
    COUNT(*) AS n, CAST(MAX(reg_count) AS BIGINT) AS meta
FROM read_parquet('{seed_path("scenarios_geographies")}')
GROUP BY 1
UNION ALL
SELECT 'sector:' || ald_sector AS key,
    COUNT(*) AS n, CAST(NULL AS BIGINT) AS meta
FROM read_parquet('{seed_path("production_types")}')
GROUP BY 1
UNION ALL
SELECT 'unit:' || from_unit || '->' || to_unit AS key,
    CAST(1 AS BIGINT) AS n, CAST(NULL AS BIGINT) AS meta
FROM read_parquet('{seed_path("unit_conversions")}')
UNION ALL
SELECT 'p4b:' || sector_p4b AS key,
    COUNT(*) AS n, CAST(NULL AS BIGINT) AS meta
FROM read_parquet('{seed_path("p4i_p4b_lookup")}')
GROUP BY 1
""",
)
def s7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S7: the shipped seed datasets (R/data.R ``.rda`` → in-package
    parquet, sources/seeds.py) — summary over all three tables proves
    the packaged read path end-to-end."""
    seeds = load_seeds(spark)
    geo = seeds["scenarios_geographies"].groupBy("scenario_geography").agg(
        F.count(F.lit(1)).alias("n"),
        F.max("reg_count").cast("long").alias("meta"),
    )
    geo = geo.select(
        F.concat(F.lit("geo:"), F.col("scenario_geography")).alias("key"),
        "n",
        "meta",
    )
    sect = (
        seeds["production_types"]
        .groupBy("ald_sector")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.concat(F.lit("sector:"), F.col("ald_sector")).alias("key"),
            "n",
            F.lit(None).cast("long").alias("meta"),
        )
    )
    unit = seeds["unit_conversions"].select(
        F.concat(
            F.lit("unit:"), F.col("from_unit"), F.lit("->"), F.col("to_unit")
        ).alias("key"),
        F.lit(1).cast("long").alias("n"),
        F.lit(None).cast("long").alias("meta"),
    )
    p4b = (
        seeds["p4i_p4b_lookup"]
        .groupBy("sector_p4b")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.concat(F.lit("p4b:"), F.col("sector_p4b")).alias("key"),
            "n",
            F.lit(None).cast("long").alias("meta"),
        )
    )
    return geo.unionByName(sect).unionByName(unit).unionByName(p4b)


@q(
    "q7_row_diff_report",
    """
SELECT (SELECT COUNT(*) FROM orders) AS initial_rows,
    (SELECT COUNT(*) FROM orders WHERE o_orderstatus = 'F')
        AS final_rows,
    (SELECT COUNT(*) FROM orders)
        - (SELECT COUNT(*) FROM orders WHERE o_orderstatus = 'F')
        AS diff,
    'removed' AS status,
    'status filter' AS cause
""",
)
def q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 row-diff report (helpers.R:97-104): count delta between a
    frame and its filtered successor, as a one-row report frame."""
    from trisk_datawrangle_spark.operators.quality import row_diff_report

    (orders,) = load_tables(spark, sf_dir, ["orders"]).values()
    return row_diff_report(
        orders,
        orders.filter(F.col("o_orderstatus") == "F"),
        cause="status filter",
    )


# ---------------------------------------------------------------- #
# §2.6 R7 unnest / §2.4 A6-A7 wide-column sums                      #
# ---------------------------------------------------------------- #


@q(
    "r7_explode_words",
    """
SELECT word, COUNT(*) AS n
FROM (
    SELECT unnest(list_filter(
        string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS word
    FROM documents
)
GROUP BY 1 HAVING COUNT(*) >= 50
""",
)
def r7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """R7: ``unnest_longer``/explode of a list column
    (gen_synthetic_company_data.R:69-72) — here the tokenized word
    list of each document, rolled into frequent-word counts."""
    from trisk_datawrangle_spark.llm.text import tokenize

    (docs,) = load_tables(spark, sf_dir, ["documents"]).values()
    return (
        docs.select(F.explode(tokenize("text")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= 50)
    )


@q(
    "a6_a7_wide_year_sums",
    """
SELECT o_orderpriority AS priority,
    SUM(CASE WHEN year(o_orderdate) = 1995
        THEN CAST(round(o_totalprice * 100) AS BIGINT) END) / 100.0 AS y1995,
    SUM(CASE WHEN year(o_orderdate) = 1996
        THEN CAST(round(o_totalprice * 100) AS BIGINT) END) / 100.0 AS y1996,
    SUM(CASE WHEN year(o_orderdate) = 1997
        THEN CAST(round(o_totalprice * 100) AS BIGINT) END) / 100.0 AS y1997
FROM orders GROUP BY 1
""",
)
def a6a7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6/A7: ``summarise(across(starts_with("20"), sum))``
    (prepare_prewrangled_capacity_factors.R:56-67) — the wide frame
    is pivoted from orders, then every year column is summed in one
    grouped pass (the comprehension the reference writes as
    ``across(everything(), sum)``)."""
    (o,) = load_tables(spark, sf_dir, ["orders"]).values()
    cents = F.round(F.col("o_totalprice") * 100).cast("long")
    wide = (
        o.withColumn("year", F.year("o_orderdate"))
        .groupBy(F.col("o_orderpriority").alias("priority"), "o_custkey")
        .pivot("year", [1995, 1996, 1997])
        .agg(F.sum(cents))
    )
    year_cols = ["1995", "1996", "1997"]
    return wide.groupBy("priority").agg(
        *[
            (F.sum(c) / 100.0).alias(f"y{c}")
            for c in year_cols
        ]
    )


# ---------------------------------------------------------------- #
# w3 — datalake prep composite (data-raw/prep_datalake.R)           #
# ---------------------------------------------------------------- #


@q(
    "w3_datalake_e2e",
    """
WITH old_assets AS (
    SELECT c_custkey AS custkey, concat('IS', c_custkey) AS isin,
        c_acctbal AS net_profit_margin,
        CAST(c_custkey % 13 AS DOUBLE) AS debt_equity_ratio,
        'archive' AS src
    FROM customer
    WHERE c_custkey % 11 <> 0
), new_assets AS (
    SELECT o_custkey AS custkey, concat('IS', o_custkey) AS isin,
        ROUND(quantile_cont(o_totalprice, 0.5), 4) AS net_profit_margin,
        CAST(COUNT(*) AS DOUBLE) AS debt_equity_ratio,
        'new' AS src
    FROM orders GROUP BY 1, 2
), assets AS (
    SELECT * FROM new_assets
    UNION ALL
    SELECT * FROM old_assets o
    WHERE NOT EXISTS (SELECT 1 FROM new_assets n WHERE n.isin = o.isin)
), edges AS (
    SELECT DISTINCT o_custkey AS subsidiary_company_id,
        (o_custkey * 7 + o_orderkey % 5) % 1500 AS parent_company_id,
        CASE WHEN o_orderkey % 11 = 0 THEN NULL
             ELSE CAST(o_orderkey % 101 AS DOUBLE) END AS linking_stake,
        o_orderkey % 3 AS ownership_level
    FROM orders
), filled AS (
    SELECT subsidiary_company_id, parent_company_id, ownership_level,
        coalesce(linking_stake, 100.0) AS linking_stake
    FROM edges WHERE ownership_level >= 0
), majority AS (
    SELECT * FROM (
        SELECT *, row_number() OVER (
            PARTITION BY subsidiary_company_id, ownership_level
            ORDER BY linking_stake DESC, parent_company_id) AS rn
        FROM filled
    ) WHERE rn = 1
)
SELECT a.isin, a.src, a.net_profit_margin, a.debt_equity_ratio,
    m.parent_company_id, m.linking_stake
FROM assets a
JOIN majority m ON m.subsidiary_company_id = a.custkey
    AND m.ownership_level = 1
""",
)
def w3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datalake-prep composite (data-raw/prep_datalake.R end-to-end):
    the last reference workflow without a composed gate. Replays, on
    TPC tables, (1) the archive vintage as a MULTI-FILE glob-union
    CSV scan with a NULL-isin drop (S8+P5, :13-27 ``list.files %>%
    map(read_xlsx) %>% bind_rows`` and :63 ``filter(!is.na(isin))``);
    (2) the recent vintage as a per-isin median aggregate (A4,
    :97-107 ``group_by(isin) %>% summarise(median(...))``); (3)
    dedup-union precedence — new wins per isin, archive fills gaps
    (U3, :112-116); (4) the ownership tree's majority-parent pick:
    distinct edges, NA stake → 100, slice_max per (company, level)
    with the P8 pinned-order tie rule (J10+P8, :229-266,290-303);
    (5) the isin→company bridge joining assets to their level-1
    majority parent. Values are raw parquet doubles (CSV round-trip
    is shortest-repr exact) and medians round to 4 — hash-exact."""
    from trisk_datawrangle_spark.operators.joins import (
        union_with_precedence,
    )
    from trisk_datawrangle_spark.operators.windows import slice_min

    c, o = load_tables(spark, sf_dir, ["customer", "orders"]).values()
    ck = F.col("c_custkey")

    # (1) archive vintage: two CSV files (vintage split), glob scan
    base = _scratch(sf_dir, "datalake_archive")
    archive_src = c.select(
        ck.alias("custkey"),
        F.when(ck % 11 == 0, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("IS"), ck.cast("string")))
        .alias("isin"),
        F.col("c_acctbal").alias("net_profit_margin"),
        (ck % 13).cast("double").alias("debt_equity_ratio"),
    )
    for part, cond in (("even", ck % 2 == 0), ("odd", ck % 2 == 1)):
        archive_src.filter(cond).coalesce(1).write.mode(
            "overwrite"
        ).option("header", True).csv(f"{base}/{part}")
    old = (
        read_csv_typed(
            spark,
            f"{base}/*",
            "custkey bigint, isin string, net_profit_margin double, "
            "debt_equity_ratio double",
        )
        .filter(F.col("isin").isNotNull())
        .withColumn("src", F.lit("archive"))
    )

    # (2) recent vintage: per-isin exact-median consolidation
    new = o.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.round(median("o_totalprice"), 4).alias("net_profit_margin"),
        F.count(F.lit(1)).cast("double").alias("debt_equity_ratio"),
    ).select(
        "custkey",
        F.concat(F.lit("IS"), F.col("custkey").cast("string")).alias(
            "isin"
        ),
        "net_profit_margin",
        "debt_equity_ratio",
        F.lit("new").alias("src"),
    )

    # (3) dedup-union precedence: new wins, archive fills the gaps
    assets = union_with_precedence(new, old, on=["isin"])

    # (4) majority-parent pick over the ownership tree
    edges = o.select(
        F.col("o_custkey").alias("subsidiary_company_id"),
        ((F.col("o_custkey") * 7 + F.col("o_orderkey") % 5) % 1500).alias(
            "parent_company_id"
        ),
        F.when(
            F.col("o_orderkey") % 11 == 0, F.lit(None).cast("double")
        )
        .otherwise((F.col("o_orderkey") % 101).cast("double"))
        .alias("linking_stake"),
        (F.col("o_orderkey") % 3).alias("ownership_level"),
    ).distinct()
    filled = edges.filter(F.col("ownership_level") >= 0).withColumn(
        "linking_stake", F.coalesce("linking_stake", F.lit(100.0))
    )
    majority = slice_min(
        filled,
        ["subsidiary_company_id", "ownership_level"],
        [F.col("linking_stake").desc(), F.col("parent_company_id").asc()],
    )

    # (5) isin→company bridge to the level-1 majority parent
    bridge = majority.filter(F.col("ownership_level") == 1).select(
        F.col("subsidiary_company_id").alias("custkey"),
        "parent_company_id",
        "linking_stake",
    )
    return assets.join(bridge, "custkey").select(
        "isin",
        "src",
        "net_profit_margin",
        "debt_equity_ratio",
        "parent_company_id",
        "linking_stake",
    )


# ---------------------------------------------------------------- #
# s10 — ORC source/sink; x18/x19 — ML feature prep                  #
# ---------------------------------------------------------------- #


@q(
    "s10_orc_roundtrip",
    """
SELECT CAST(n_nationkey AS BIGINT) AS nationkey, n_name AS name,
       CAST(n_regionkey AS BIGINT) AS regionkey
FROM nation
""",
)
def s10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink → ORC scan round trip (the columnar-format sibling of
    the parquet path — same pinned-schema discipline), checked
    against the parquet oracle. ORC rides Spark's native vectorized
    reader; at scale it gets the same pushdown/pruning guarantees the
    parquet plan audits assert."""
    (nat,) = load_tables(spark, sf_dir, ["nation"]).values()
    path = _scratch(sf_dir, "nation_orc")
    nat.write.mode("overwrite").format("orc").save(path)
    back = spark.read.schema(nat.schema).orc(path)
    return back.select(
        F.col("n_nationkey").alias("nationkey"),
        F.col("n_name").alias("name"),
        F.col("n_regionkey").alias("regionkey"),
    )


@q(
    "x18_quantile_bins",
    """
WITH binned AS (
    SELECT o_orderpriority,
        ntile(10) OVER (PARTITION BY o_orderpriority
                        ORDER BY o_totalprice, o_orderkey) AS bin,
        o_totalprice
    FROM orders
    WHERE o_totalprice IS NOT NULL AND NOT isnan(o_totalprice)
    UNION ALL
    SELECT o_orderpriority, CAST(NULL AS INTEGER) AS bin, o_totalprice
    FROM orders
    WHERE o_totalprice IS NULL OR isnan(o_totalprice)
)
SELECT o_orderpriority, bin, COUNT(*) AS n,
       MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
FROM binned GROUP BY 1, 2
""",
)
def x18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equal-frequency decile binning of order value within priority
    (operators/mlprep.py quantile_bins) — the discretization step for
    skewed numerics; the id tiebreak pins tied rows to one bucket on
    every run and engine. Summarized to per-bucket count + bounds."""
    from trisk_datawrangle_spark.operators.mlprep import quantile_bins

    (o,) = load_tables(spark, sf_dir, ["orders"]).values()
    b = quantile_bins(
        o, "o_totalprice", 10, ["o_orderpriority"], "o_orderkey"
    )
    return b.groupBy("o_orderpriority", "bin").agg(
        F.count(F.lit(1)).alias("n"),
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
    )


@q(
    "x19_group_zscore",
    """
WITH c AS (
    SELECT o_orderkey, o_orderpriority,
        CASE WHEN o_totalprice IS NOT NULL AND NOT isnan(o_totalprice)
             THEN CAST(round(o_totalprice * 100) AS BIGINT) END AS c
    FROM orders
), stats AS (
    SELECT o_orderpriority, COUNT(c) AS n, SUM(c) AS s, MIN(c) AS m,
           SUM(CAST(c AS HUGEINT) * c) AS qq
    FROM c GROUP BY 1
), der AS (
    SELECT o_orderpriority, n, m,
        CAST(CAST(s AS HUGEINT) - CAST(m AS HUGEINT) * n AS DOUBLE)
            / CAST(n AS DOUBLE) AS mean_d,
        CAST(qq - 2 * CAST(m AS HUGEINT) * s
                + CAST(m AS HUGEINT) * m * n AS DOUBLE)
            / CAST(n AS DOUBLE) AS msq_d
    FROM stats
)
SELECT c.o_orderkey, c.o_orderpriority,
    CASE WHEN der.n > 1 AND (msq_d - mean_d * mean_d) > 0
    THEN ROUND((CAST(c.c - der.m AS DOUBLE) - mean_d)
               / sqrt(msq_d - mean_d * mean_d), 6)
    END AS zscore
FROM c JOIN der
  ON c.o_orderpriority IS NOT DISTINCT FROM der.o_orderpriority
""",
)
def x19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group standardization (z-scores) from EXACT moments
    (operators/mlprep.py group_zscore): Σcents as BIGINT, Σcents² as
    DECIMAL(38) (Spark) / HUGEINT (DuckDB) — both exact and
    order-independent — then one deterministic double expression.
    The standard-scaler step without float-sum nondeterminism."""
    from trisk_datawrangle_spark.operators.mlprep import group_zscore

    (o,) = load_tables(spark, sf_dir, ["orders"]).values()
    return group_zscore(
        o, "o_totalprice", ["o_orderpriority"], "o_orderkey"
    )


@q(
    "x21_rolling_stats",
    """
WITH c AS (
    SELECT *, CASE WHEN value IS NOT NULL AND NOT isnan(value)
                   THEN CAST(round(value * 100) AS BIGINT) END AS cents
    FROM events
)
SELECT event_id, user_id,
    CAST(COUNT(cents) OVER w AS BIGINT) AS roll_n,
    CAST(SUM(cents) OVER w AS DOUBLE) / 100.0 AS roll_sum,
    ROUND(CAST(SUM(cents) OVER w AS DOUBLE)
          / CAST(COUNT(cents) OVER w AS DOUBLE) / 100.0, 6) AS roll_mean
FROM c
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
""",
)
def x21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing 3-event rolling features per user
    (operators/mlprep.py rolling_stats): ROWS frame pinned by
    (ts, event_id) total order, sums in exact cents — every rolling
    value hash-matches the oracle under any partitioning."""
    from trisk_datawrangle_spark.operators.mlprep import rolling_stats

    (ev,) = load_tables(spark, sf_dir, ["events"]).values()
    r = rolling_stats(
        ev, "value", ["user_id"], ["ts", "event_id"], window_rows=3
    )
    return r.select(
        "event_id", "user_id", "roll_n", "roll_sum", "roll_mean"
    )


@q(
    "x23_winsorize",
    """
WITH v AS (
    SELECT o_orderkey, o_orderpriority,
        CASE WHEN o_totalprice IS NOT NULL AND NOT isnan(o_totalprice)
             THEN o_totalprice END AS v
    FROM orders
), bounds AS (
    SELECT o_orderpriority,
        quantile_cont(v, 0.05) AS lo,
        quantile_cont(v, 0.95) AS hi
    FROM v GROUP BY 1
)
SELECT o.o_orderkey, o.o_orderpriority,
    CASE WHEN o.v IS NOT NULL
    THEN ROUND(least(greatest(o.v, b.lo), b.hi), 6)
    END AS clipped
FROM v o JOIN bounds b
  ON o.o_orderpriority IS NOT DISTINCT FROM b.o_orderpriority
""",
)
def x23(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group winsorization at the exact 5th/95th percentiles
    (operators/mlprep.py winsorize) — outlier clipping before
    scaling/regression; Spark's interpolating percentile matches
    DuckDB quantile_cont on identical doubles, so every clipped
    value hash-matches."""
    from trisk_datawrangle_spark.operators.mlprep import winsorize

    (o,) = load_tables(spark, sf_dir, ["orders"]).values()
    return winsorize(
        o, "o_totalprice", ["o_orderpriority"], "o_orderkey", 0.05, 0.95
    )


def _x40_sql() -> str:
    terms = " + ".join(
        "COALESCE(lag(clean, {j}) OVER w, 0.0) * {c!r}".format(
            j=j, c=0.3 * 0.7 ** j
        )
        for j in range(16)
    )
    return f"""
WITH c AS (
    SELECT event_id, user_id, ts,
        CASE WHEN value IS NULL OR isnan(value) THEN 0.0
             ELSE value END AS clean
    FROM events
)
SELECT event_id, user_id, ROUND({terms}, 6) AS ewma
FROM c
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


@q("x40_ewma", _x40_sql())
def x40(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Truncated EWMA per user over event time (α=0.3, 16 lags —
    operators/mlprep.py ewma_bounded): the recursive smoother
    re-expressed as a fixed lag chain so it parallelizes (one keyed
    window, no sequential state) and sums in a fixed expression
    order (bit-exact cross-engine, no float tolerance needed).
    NULL/NaN values contribute 0, the truncated-EWMA warmup
    convention."""
    from trisk_datawrangle_spark.operators.mlprep import ewma_bounded

    (ev,) = load_tables(spark, sf_dir, ["events"]).values()
    clean = ev.withColumn(
        "clean",
        F.when(
            F.col("value").isNull() | F.isnan("value"), F.lit(0.0)
        ).otherwise(F.col("value")),
    )
    r = ewma_bounded(
        clean, "clean", ["ts", "event_id"], ["user_id"],
        alpha=0.3, lags=16,
    )
    return r.select(
        "event_id", "user_id", F.round("ewma", 6).alias("ewma")
    )


_X44_EDGES = [50000.0, 100000.0, 150000.0, 200000.0, 250000.0, 300000.0]


def _x44_sql() -> str:
    n_bins = len(_X44_EDGES) + 1
    b = " + ".join(
        f"(CASE WHEN CAST(o_totalprice AS DOUBLE) >= {e!r} "
        "THEN 1 ELSE 0 END)"
        for e in _X44_EDGES
    )
    return f"""
WITH a AS (
    SELECT ({b}) AS bin, COUNT(*) AS n_a FROM orders
    WHERE o_orderpriority = '1-URGENT' AND o_totalprice IS NOT NULL
      AND NOT isnan(o_totalprice)
    GROUP BY 1
), bq AS (
    SELECT ({b}) AS bin, COUNT(*) AS n_b FROM orders
    WHERE o_orderpriority <> '1-URGENT' AND o_totalprice IS NOT NULL
      AND NOT isnan(o_totalprice)
    GROUP BY 1
), bins AS (
    SELECT CAST(unnest(generate_series(0, {n_bins - 1})) AS INTEGER)
        AS bin
), counts AS (
    SELECT bins.bin, COALESCE(a.n_a, 0) AS n_a, COALESCE(bq.n_b, 0) AS n_b
    FROM bins LEFT JOIN a USING (bin) LEFT JOIN bq USING (bin)
), tot AS (
    SELECT SUM(n_a) AS ta, SUM(n_b) AS tb FROM counts
), per AS (
    SELECT bin, n_a, n_b,
        ((n_a + 1.0) / (ta + {float(n_bins)!r})
         - (n_b + 1.0) / (tb + {float(n_bins)!r}))
        * ln(((n_a + 1.0) / (ta + {float(n_bins)!r}))
             / ((n_b + 1.0) / (tb + {float(n_bins)!r})))
            AS contribution
    FROM counts CROSS JOIN tot
)
SELECT bin, n_a, n_b,
    ROUND(contribution, 9) AS contribution,
    ROUND(SUM(contribution) OVER (), 9) AS psi
FROM per
"""


@q("x44_psi_drift", _x44_sql())
def x44(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI drift gate between two table versions (operators/
    quality.py psi_drift): per-bin contributions + the total index,
    frozen literal bin edges, add-one smoothing — the production
    distribution-shift monitor as two bins-sized aggregates and
    broadcast joins. Here: URGENT orders vs the rest over
    o_totalprice (a deliberately similar pair — PSI ≈ 0, proving the
    null case; a shifted pair is property-tested)."""
    from trisk_datawrangle_spark.operators.quality import psi_drift

    (o,) = load_tables(spark, sf_dir, ["orders"]).values()
    return psi_drift(
        o.filter(F.col("o_orderpriority") == "1-URGENT"),
        o.filter(F.col("o_orderpriority") != "1-URGENT"),
        "o_totalprice",
        _X44_EDGES,
    )


_E13_EDGES = [10.0, 25.0, 45.0, 80.0, 150.0]


def _e13_sql() -> str:
    n_bins = len(_E13_EDGES) + 1
    b = " + ".join(
        f"(CASE WHEN CAST(value AS DOUBLE) >= {e!r} THEN 1 ELSE 0 END)"
        for e in _E13_EDGES
    )
    return f"""
WITH clean AS (
    SELECT date_trunc('hour', ts) AS window_start,
        ({b}) AS bin
    FROM events WHERE value IS NOT NULL AND NOT isnan(value)
), ref AS (
    SELECT bin, COUNT(*) AS n_ref FROM clean GROUP BY 1
), tot_ref AS (SELECT SUM(n_ref) AS tr FROM ref),
wins AS (SELECT DISTINCT window_start FROM clean),
bins AS (
    SELECT CAST(unnest(generate_series(0, {n_bins - 1})) AS INTEGER)
        AS bin
), grid AS (
    SELECT w.window_start, b.bin FROM wins w CROSS JOIN bins b
), wc AS (
    SELECT window_start, bin, COUNT(*) AS n_w
    FROM clean GROUP BY 1, 2
), counts AS (
    SELECT g.window_start, g.bin,
        COALESCE(wc.n_w, 0) AS n_w, COALESCE(r.n_ref, 0) AS n_ref
    FROM grid g
    LEFT JOIN wc ON g.window_start = wc.window_start AND g.bin = wc.bin
    LEFT JOIN ref r ON g.bin = r.bin
), tw AS (
    SELECT window_start, SUM(n_w) AS t_w FROM counts GROUP BY 1
), per AS (
    SELECT c.window_start,
        ((c.n_w + 1.0) / (tw.t_w + {float(n_bins)!r})
         - (c.n_ref + 1.0) / (tot_ref.tr + {float(n_bins)!r}))
        * ln(((c.n_w + 1.0) / (tw.t_w + {float(n_bins)!r}))
             / ((c.n_ref + 1.0) / (tot_ref.tr + {float(n_bins)!r})))
            AS contribution
    FROM counts c
    JOIN tw USING (window_start) CROSS JOIN tot_ref
)
SELECT strftime(window_start, '%Y-%m-%d %H:%M:%S') AS window_start,
    ROUND(SUM(contribution), 9) AS psi
FROM per GROUP BY 1
"""


@q("e13_windowed_psi", _e13_sql())
def e13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-window PSI drift monitor: each 1-hour tumbling window's
    value distribution scored against the full-stream reference
    (frozen literal bin edges, add-one smoothing — the x44 gate
    rolled along event time). Batch semantics of the streaming
    monitor (the e-family contract: batch == stream for tumbling
    aggregates, parity-tested for the window machinery); counts are
    integers so every window's PSI is engine-exact. Shape: one
    bins×windows aggregate + a bins-sized reference broadcast —
    nothing scales with raw event rows except the first combinable
    count."""
    (ev,) = load_tables(spark, sf_dir, ["events"]).values()
    n_bins = len(_E13_EDGES) + 1
    v = F.col("value").cast("double")
    b = F.lit(0)
    for e in _E13_EDGES:
        b = b + F.when(v >= F.lit(float(e)), 1).otherwise(0)
    clean = ev.filter(v.isNotNull() & ~F.isnan(v)).select(
        F.date_trunc("hour", "ts").alias("window_start"),
        b.alias("bin"),
    )
    ref = clean.groupBy("bin").agg(F.count(F.lit(1)).alias("n_ref"))
    tot_ref = ref.agg(F.sum("n_ref").alias("tr"))
    wins = clean.select("window_start").distinct()
    bins = spark.range(0, n_bins).select(
        F.col("id").cast("int").alias("bin")
    )
    grid = wins.crossJoin(F.broadcast(bins))
    wc = clean.groupBy("window_start", "bin").agg(
        F.count(F.lit(1)).alias("n_w")
    )
    counts = (
        grid.join(wc, ["window_start", "bin"], "left")
        .join(F.broadcast(ref), "bin", "left")
        .select(
            "window_start",
            "bin",
            F.coalesce("n_w", F.lit(0)).alias("n_w"),
            F.coalesce("n_ref", F.lit(0)).alias("n_ref"),
        )
    )
    tw = counts.groupBy("window_start").agg(F.sum("n_w").alias("t_w"))
    s = float(n_bins)
    joined = counts.join(tw, "window_start").crossJoin(
        F.broadcast(tot_ref)
    )
    p = (F.col("n_w") + 1.0) / (F.col("t_w") + s)
    q_ = (F.col("n_ref") + 1.0) / (F.col("tr") + s)
    contrib = (p - q_) * F.log(p / q_)
    return (
        joined.select("window_start", contrib.alias("c"))
        .groupBy("window_start")
        .agg(F.round(F.sum("c"), 9).alias("psi"))
        .select(
            F.date_format(
                "window_start", "yyyy-MM-dd HH:mm:ss"
            ).alias("window_start"),
            "psi",
        )
    )


# ---------------------------------------------------------------- #
# u4 — incremental upsert; y1 — compaction                          #
# ---------------------------------------------------------------- #


@q(
    "u4_incremental_upsert",
    """
WITH base AS (
    SELECT o_orderkey, o_custkey % 4 AS pbucket,
        CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
    FROM orders WHERE o_orderkey % 3 <> 0
),
upd AS (
    SELECT o_orderkey, o_custkey % 4 AS pbucket,
        CAST(round(o_totalprice * 2 * 100) AS BIGINT) AS price_cents
    FROM orders WHERE o_orderkey % 5 = 0
)
SELECT * FROM upd
UNION ALL
SELECT * FROM base WHERE o_orderkey NOT IN (SELECT o_orderkey FROM upd)
""",
)
def u4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental upsert, driver-gated (r7 verdict missing #4):
    a partitioned base table is written, an update batch (changed
    prices + brand-new keys) merged through sources/incremental.py
    merge_by_key — matched keys replaced wherever they live, new
    rows appended, ONLY affected partitions rewritten — and the
    merged table read back whole. The oracle states upsert semantics
    as SQL (updates win, non-updated base survives), so a dropped
    partition, duplicated key, or lost new-key row flips the hash.
    Rebuilds base each run (the merge mutates state; the entry must
    be idempotent)."""
    import shutil
    import tempfile

    from trisk_datawrangle_spark.sources.incremental import (
        merge_by_key,
        write_partitioned,
    )

    (orders,) = load_tables(spark, sf_dir, ["orders"]).values()
    keyed = orders.select(
        "o_orderkey",
        (F.col("o_custkey") % 4).alias("pbucket"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias(
            "price_cents"
        ),
    )
    base = keyed.filter(F.col("o_orderkey") % 3 != 0)
    upd = orders.filter(F.col("o_orderkey") % 5 == 0).select(
        "o_orderkey",
        (F.col("o_custkey") % 4).alias("pbucket"),
        F.round(F.col("o_totalprice") * 2 * 100).cast("long").alias(
            "price_cents"
        ),
    )
    path = tempfile.mkdtemp(prefix="u4_upsert_") + "/t"
    try:
        write_partitioned(base, path, ["pbucket"])
        merge_by_key(spark, upd, path, ["o_orderkey"], ["pbucket"])
        out = spark.read.parquet(path).select(
            "o_orderkey",
            F.col("pbucket").cast("long").alias("pbucket"),
            "price_cents",
        )
        out = out.localCheckpoint()  # materialize before cleanup
    finally:
        shutil.rmtree(path.rsplit("/", 1)[0], ignore_errors=True)
    return out


@q(
    "q10_schema_drift",
    """
WITH nr AS (
    SELECT
        ROUND(AVG(CASE WHEN o_orderstatus = 'F'
                       THEN 1.0 ELSE 0.0 END), 6) AS status_b
    FROM orders
)
SELECT * FROM (
    SELECT 'o_orderkey' AS "column", 'unchanged' AS status,
        'bigint' AS type_a, 'bigint' AS type_b,
        CAST(0.0 AS DOUBLE) AS null_rate_a,
        CAST(0.0 AS DOUBLE) AS null_rate_b
    UNION ALL
    SELECT 'o_orderpriority', 'dropped', 'string', NULL,
        CAST(0.0 AS DOUBLE), NULL
    UNION ALL
    SELECT 'o_orderstatus', 'unchanged', 'string', 'string',
        CAST(0.0 AS DOUBLE), (SELECT status_b FROM nr)
    UNION ALL
    SELECT 'o_totalprice', 'retyped', 'double', 'string',
        CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE)
    UNION ALL
    SELECT 'price_band', 'added', NULL, 'string',
        NULL, CAST(0.0 AS DOUBLE)
)
""",
)
def q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-drift report, driver-gated: two versions of the orders
    table — v2 drops a column, retypes another, adds one, and nulls
    a specific clerk value — run through operators/quality.py
    schema_drift_report (added / dropped / retyped / unchanged +
    per-side null rates). The oracle pins the full expected report
    including the data-dependent null rate, so a wrong status
    classification or null-count aggregation flips the hash."""
    from trisk_datawrangle_spark.operators.quality import (
        schema_drift_report,
    )

    (orders,) = load_tables(spark, sf_dir, ["orders"]).values()
    v1 = orders.select(
        "o_orderkey", "o_totalprice", "o_orderstatus",
        "o_orderpriority",
    )
    v2 = orders.select(
        "o_orderkey",
        F.col("o_totalprice").cast("string").alias("o_totalprice"),
        F.nullif(F.col("o_orderstatus"), F.lit("F")).alias(
            "o_orderstatus"
        ),
        F.when(F.col("o_totalprice") > 100000, F.lit("high"))
        .otherwise(F.lit("low"))
        .alias("price_band"),
    )
    return schema_drift_report(v1, v2)


@q(
    "y1_compaction_roundtrip",
    """
SELECT o_custkey % 4 AS pbucket,
    COUNT(*) AS n,
    CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        AS cents
FROM orders
GROUP BY 1
""",
)
def y1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction, driver-gated: orders is written
    FRAGMENTED (each of 4 partitions shattered into 16 files — the
    incremental-writer pathology),
    sources/compaction.py compact_partitions rewrites every
    over-fragmented partition via the crash-safe swap, the entry
    ASSERTS the file count actually collapsed (raises into the
    correctness window otherwise), and returns the compacted
    table's content aggregate — the oracle answers from the
    ORIGINAL table, so compaction must be content-preserving to the
    cent. Rebuilds the fragmented table each run (idempotent)."""
    import shutil
    import tempfile

    from trisk_datawrangle_spark.sources.compaction import (
        compact_partitions,
        partition_file_stats,
    )

    (orders,) = load_tables(spark, sf_dir, ["orders"]).values()
    keyed = orders.select(
        "o_orderkey",
        (F.col("o_custkey") % 4).alias("pbucket"),
        "o_totalprice",
    )
    path = tempfile.mkdtemp(prefix="y1_compact_") + "/t"
    try:
        (
            keyed.repartition(16, "o_orderkey")
            .write.partitionBy("pbucket")
            .mode("overwrite")
            .parquet(path)
        )
        before = sum(
            s["n_files"]
            for s in partition_file_stats(spark, path, ["pbucket"])
        )
        report = compact_partitions(
            spark, path, ["pbucket"], max_files=4
        )
        after = sum(
            s["n_files"]
            for s in partition_file_stats(spark, path, ["pbucket"])
        )
        if report["compacted"] == 0 or after >= before:
            raise AssertionError(
                f"y1: compaction did nothing ({before} -> {after} "
                f"files, report {report})"
            )
        out = (
            spark.read.parquet(path)
            .groupBy(F.col("pbucket").cast("long").alias("pbucket"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(
                    F.round(F.col("o_totalprice") * 100).cast("long")
                ).alias("cents"),
            )
        )
        out = out.localCheckpoint()
    finally:
        shutil.rmtree(path.rsplit("/", 1)[0], ignore_errors=True)
    return out
