"""Churn pipeline — full Spark re-expression of the reference ETL + analytics.

Reference parity targets:
- ``scripts/transform.py:5-80`` — clean + feature-engineer → staged table
- ``scripts/load.py:121-143`` — header normalization (CamelCase → flat
  lowercase; snake_case preserved)
- ``etl_analysis.ipynb cell5/cell7`` — fuzzy column resolution + churn-flag
  normalization
- ``etl_analysis.ipynb cell8/cell9`` — analytics tables + summary

Everything is one lazy DataFrame chain per stage (SURVEY.md §3.1): the
whole transform is a narrow, shuffle-free projection — at 100 TB it
pipelines in a single stage; only the analytics aggregates shuffle, on
low-cardinality keys.
"""

from __future__ import annotations

import re
from collections.abc import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, IntegerType, StringType, StructField, StructType

from ..functions import bucketize, const_fill, dict_encode, median_fill, membership_flag, segment3, to_flag

# Raw CSV schema — scripts/load.py:44-74 DDL types; TotalCharges arrives as
# string (11 rows contain " ", transform.py:20).
RAW_COLUMNS: list[tuple[str, type]] = [
    ("customerID", StringType),
    ("gender", StringType),
    ("SeniorCitizen", IntegerType),
    ("Partner", StringType),
    ("Dependents", StringType),
    ("tenure", IntegerType),
    ("PhoneService", StringType),
    ("MultipleLines", StringType),
    ("InternetService", StringType),
    ("OnlineSecurity", StringType),
    ("OnlineBackup", StringType),
    ("DeviceProtection", StringType),
    ("TechSupport", StringType),
    ("StreamingTV", StringType),
    ("StreamingMovies", StringType),
    ("Contract", StringType),
    ("PaperlessBilling", StringType),
    ("PaymentMethod", StringType),
    ("MonthlyCharges", DoubleType),
    ("TotalCharges", StringType),
    ("Churn", StringType),
]

RAW_SCHEMA = StructType([StructField(n, t(), True) for n, t in RAW_COLUMNS])

STAGED_COLUMNS = [n for n, _ in RAW_COLUMNS if n not in ("customerID", "gender")] + [
    "tenure_group",
    "monthly_charge_segment",
    "has_internet_service",
    "is_multi_line_user",
    "contract_type_code",
]


def read_raw(spark: SparkSession, path: str) -> DataFrame:
    return spark.read.option("header", "true").schema(RAW_SCHEMA).csv(path)


def transform_churn(df: DataFrame) -> DataFrame:
    """The transform stage (``scripts/transform.py:5-80``), one narrow chain.

    Order of operations matches the reference exactly: coerce → median-fill
    numerics → "Unknown"-fill categoricals → engineer 5 features → drop
    helpers + customerID/gender.
    """
    # 1. TotalCharges → numeric, " " → NULL (pd.to_numeric errors="coerce")
    df = df.withColumn("TotalCharges", F.col("TotalCharges").try_cast("double"))
    # exact-median fill of the numeric trio (transform.py:23-25)
    df = median_fill(df, ["tenure", "MonthlyCharges", "TotalCharges"])
    # categorical nulls → "Unknown" (all string cols, transform.py:28-29)
    df = const_fill(df, "Unknown")

    # 2. feature engineering (transform.py:36-63)
    df = df.withColumn(
        "tenure_group", bucketize("tenure", [12, 36, 60], ["New", "Regular", "Loyal", "Champion"])
    )
    df = df.withColumn("monthly_charge_segment", segment3("MonthlyCharges", 30, 70))
    df = df.withColumn(
        "has_internet_service",
        membership_flag("InternetService", ["dsl", "fiber optic", "fiberoptic", "fiber"]),
    )
    # NOTE: reference lowercases but does NOT strip here (transform.py:53)
    df = df.withColumn(
        "is_multi_line_user",
        (F.lower(F.col("MultipleLines").cast("string")) == "yes").cast("int"),
    )
    df = df.withColumn(
        "contract_type_code",
        dict_encode("Contract", {"month-to-month": 0, "one year": 1, "two year": 2}),
    )

    # 3. drop unnecessary fields (transform.py:71) + fix column order to the
    # reference's staged layout
    return df.select(*STAGED_COLUMNS)


def normalize_header(name: str) -> str:
    """One column through load.py's normalization (``scripts/load.py:121-143``).

    snake_case lower-case, then — only for originally-CamelCase headers —
    underscores removed to match Postgres unquoted-identifier folding
    (``MonthlyCharges`` → ``monthlycharges``; ``tenure_group`` unchanged).
    """
    s = re.sub(r"([a-z0-9])([A-Z])", r"\1_\2", str(name))
    s = re.sub(r"[^0-9a-zA-Z_]+", "_", s)
    norm = s.strip("_").lower()
    if any(ch.isupper() for ch in str(name)):
        return norm.replace("_", "")
    return norm


def normalize_headers(df: DataFrame) -> DataFrame:
    """P3 — pure-metadata header rewrite (no data movement)."""
    return df.toDF(*[normalize_header(c) for c in df.columns])


def safe_find(columns: Sequence[str], candidates: Sequence[str]) -> str | None:
    """Fuzzy column resolution (``etl_analysis.ipynb cell5:1-11``).

    Case-insensitive first, then underscore-insensitive. Driver-side
    metadata lookup — no Spark operator involved.
    """
    cols = {c.lower(): c for c in columns}
    for cand in candidates:
        if cand.lower() in cols:
            return cols[cand.lower()]
    for cand in candidates:
        key = cand.lower().replace("_", "")
        for lc, orig in cols.items():
            if lc.replace("_", "") == key:
                return orig
    return None


def normalize_churn(df: DataFrame) -> tuple[DataFrame, str | None]:
    """Add ``churn_flag`` via the to_flag chain (``etl_analysis.ipynb cell7:12-29``)."""
    churn_col = safe_find(df.columns, ["churn", "Churn"])
    if churn_col is None:
        return df, None
    return df.withColumn("churn_flag", to_flag(churn_col)), "churn_flag"


def churn_analytics(df: DataFrame) -> dict[str, DataFrame]:
    """The notebook's analytics tables (``etl_analysis.ipynb cell8``).

    Input: staged table (any header shape — columns resolved fuzzily like
    the notebook). Returns the four supporting tables plus a one-row
    scalar-metrics frame; callers write them with the K1/K2 sinks. Every
    table re-reads ``df``, so a caller that sinks them all caches ``df``
    and releases it after its last sink (:func:`run_pipeline`).
    """
    df, churn_flag_col = normalize_churn(df)
    cols = df.columns
    mc = safe_find(cols, ["MonthlyCharges", "monthlycharges", "monthly_charge"])
    contract = safe_find(cols, ["Contract", "contract", "contract_type_code", "contract_type"])
    tenure_g = safe_find(cols, ["tenure_group", "tenuregroup"])
    internet = safe_find(cols, ["InternetService", "internetservice", "internet_service"])

    df = df.withColumn(mc, F.col(mc).cast("string").try_cast("double"))

    out: dict[str, DataFrame] = {}

    # scalar metrics: total_rows, unique_rows, churn_percentage (cell8:2-8)
    flag = F.col(churn_flag_col)
    out["summary"] = df.agg(
        F.count(F.lit(1)).alias("total_rows"),
        F.round(F.sum(flag).cast("double") * 100 / F.count(flag), 3).alias("churn_percentage"),
    ).crossJoin(df.distinct().agg(F.count(F.lit(1)).alias("unique_rows")))

    # avg monthly charges by contract (cell8:10-14); groupBy keeps null keys
    out["avg_by_contract"] = (
        df.groupBy(F.col(contract).alias("contract"))
        .agg(F.round(F.avg(mc), 3).alias("avg_monthly_charges"))
    )

    # tenure-group counts, desc (cell8:16-19)
    out["tenure_counts"] = (
        df.select(F.coalesce(F.col(tenure_g).cast("string"), F.lit("UNKNOWN")).alias("tenure_group"))
        .groupBy("tenure_group")
        .agg(F.count(F.lit(1)).alias("count"))
        .orderBy(F.desc("count"), "tenure_group")
    )

    # internet-service distribution with pct (cell8:20-24)
    from ..operators import pct_of_total

    internet_str = df.select(
        F.coalesce(F.col(internet).cast("string"), F.lit("UNKNOWN")).alias("internet_service")
    )
    out["internet_counts"] = pct_of_total(internet_str, "internet_service", count_alias="count")

    # pivot churn × tenure_group with derived rate (cell8:26-42)
    from ..operators.aggregates import churn_rate_over_pivot

    pivot_in = df.select(
        F.coalesce(F.col(tenure_g).cast("string"), F.lit("UNKNOWN")).alias("tenure_group"),
        F.coalesce(flag, F.lit(0)).cast("int").alias("flag"),
    )
    out["pivot"] = churn_rate_over_pivot(pivot_in, "tenure_group", "flag")

    # plot-prep aggregates (cell10): churn rate by segment + TotalCharges histogram
    seg = safe_find(cols, ["monthly_charge_segment", "monthlycharge_segment"])
    if seg and churn_flag_col:
        out["rate_by_segment"] = (
            df.na.drop(subset=[seg, churn_flag_col])
            .groupBy(F.col(seg).alias("monthly_charge_segment"))
            .agg(F.round(F.avg(churn_flag_col) * 100, 3).alias("churn_rate_pct"))
            .orderBy(F.desc("churn_rate_pct"))
        )
    return out


def run_pipeline(spark: SparkSession, raw_path: str, out_dir: str) -> dict[str, str]:
    """End-to-end: raw CSV → staged CSV → analytics CSVs (+ JSON summary).

    The reference materializes every stage (SURVEY.md §3.1); we keep one
    lazy chain and only write at the sinks.
    """
    import os

    from ..sources import write_single_csv, write_single_json

    staged = transform_churn(read_raw(spark, raw_path))
    paths = {"staged": write_single_csv(staged, os.path.join(out_dir, "churn_staged.csv"))}
    analytics_in = normalize_headers(staged).cache()
    try:
        tables = churn_analytics(analytics_in)
        for name, tdf in tables.items():
            paths[name] = write_single_csv(tdf, os.path.join(out_dir, f"{name}.csv"))
        paths["summary_json"] = write_single_json(tables["summary"], os.path.join(out_dir, "analysis_summary.json"))
    finally:
        analytics_in.unpersist()
    return paths
