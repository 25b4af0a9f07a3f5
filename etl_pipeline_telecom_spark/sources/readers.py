"""Scan operators (SURVEY.md §2.1: S1–S4).

The reference reads CSV with inferred schemas at every stage
(``scripts/extract.py:12``, ``scripts/transform.py:14``) and a Postgres
table via PostgREST (``etl_analysis.ipynb cell4:6-10``). Here:

- CSV scans take an explicit ``StructType`` (deterministic types; schema
  inference is a convenience flag, never the engine default) — S1.
- Parquet is the primary columnar format for the synthetic fixture tables;
  Catalyst pushes filters and prunes columns into the scan for free.
- JDBC scan/count (S2/S4) replaces the REST fetch; note the reference's
  PostgREST read silently truncates at 1000 rows (SURVEY.md §4.3.7) — a
  bug we deliberately do not reproduce. In an environment with no JDBC
  driver jar, the live Postgres path is ``sources.pgcopy`` (a Spark 4
  Python DataSource over psql COPY — tested against a real local server
  in ``tests/test_pgcopy_live.py``).
- ``load_with_fallback`` mirrors the notebook's source-resolution chain
  (S3, ``etl_analysis.ipynb cell6:1-17``): try primary, fall back, else
  raise.

At 100 TB the scan is where most time goes: keep reads declarative so
partition pruning / predicate pushdown reach the file source, and never
``collect()`` a scan to re-parallelize it.
"""

from __future__ import annotations

import os
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

FIXTURE_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Columnar scan; pushdown + pruning handled by the parquet source."""
    return spark.read.parquet(path)


def read_csv(
    spark: SparkSession,
    path: str,
    schema: StructType | None = None,
    *,
    header: bool = True,
    infer: bool = False,
) -> DataFrame:
    """CSV scan (S1). Prefer an explicit schema; ``infer`` only for ad-hoc use."""
    reader = spark.read.option("header", str(header).lower())
    if schema is not None:
        reader = reader.schema(schema)
    elif infer:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one synthetic fixture table from an sf directory.

    ``events.ts`` has shipped in two physical forms across fixture
    generations, and both must land as a session-TZ (UTC) TIMESTAMP whose
    wall clock matches DuckDB's ``CAST(ts AS TIMESTAMP)``:

    - TIMESTAMP(NANOS): with ``spark.sql.legacy.parquet.nanosAsLong`` it
      arrives as epoch-nanos long; integer ``div`` (not double division,
      which loses bits above 2⁵³) → microsecond timestamp.
    - TIMESTAMP(MICROS, isAdjustedToUTC=false): arrives as
      TIMESTAMP_NTZ; a plain cast re-tags the naive value as UTC (the
      session zone), preserving the wall clock exactly.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    if name == "events":
        # defensive: the engine's own session factory sets this, but the
        # DRIVER may hand us a session without it, and TIMESTAMP(NANOS)
        # parquet throws PARQUET_TYPE_ILLEGAL otherwise; it is runtime-settable
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events":
        ts_type = df.schema["ts"].dataType
        if isinstance(ts_type, LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(ts_type, TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str, names: Iterable[str] = FIXTURE_TABLES) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    properties: dict[str, str] | None = None,
) -> DataFrame:
    """JDBC table scan (S2). Full-table, no page truncation.

    Replaces the reference's PostgREST fetch (``etl_analysis.ipynb
    cell4:6-10``) which silently capped at 1000 rows.
    """
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    return reader.load()


def jdbc_count(spark: SparkSession, url: str, table: str, properties: dict[str, str] | None = None) -> int:
    """Count-only remote scan (S4, ``scripts/validate.py:26-44``).

    Pushes ``SELECT count(*)`` to the database instead of shipping rows.
    """
    q = f"(SELECT count(*) AS n FROM {table}) AS cnt"
    return read_jdbc(spark, url, q, properties).collect()[0][0]


def load_with_fallback(loaders: list[Callable[[], DataFrame]]) -> DataFrame:
    """Source resolution chain (S3, ``etl_analysis.ipynb cell6:1-17``).

    Try each loader in order; first success wins. Driver-side control
    flow — the loaders themselves stay lazy DataFrames.
    """
    errors: list[str] = []
    for loader in loaders:
        try:
            return loader()
        except Exception as exc:  # noqa: BLE001 — mirror reference's broad fallback
            errors.append(f"{loader}: {exc}")
    raise RuntimeError("all sources failed: " + "; ".join(errors))


def stage_events_jsonl(sf_dir: str) -> str:
    """Export events.parquet to a newline-delimited JSON file under /tmp.

    The staged file is the INPUT for the x4 JSONL-source query: the
    engine must ingest JSONL (the lingua franca of LLM corpus drops)
    through ``spark.read.json`` with an explicit schema and land
    byte-identical values to the parquet original — which is exactly
    what the x4 oracle checks by aggregating the parquet directly.

    Determinism: rows sorted by event_id; doubles via json.dumps (repr
    shortest-roundtrip — parses back to the identical float64);
    timestamps as 'yyyy-MM-dd HH:mm:ss.SSSSSS' naive-UTC strings. Staged
    once per source by :func:`sources.writers.staged_dir`.
    """
    import json as _json

    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from .writers import _stage_key, staged_dir

    src = os.path.join(sf_dir, "events.parquet")

    def build(work: str) -> None:
        os.makedirs(work)
        t = pq.read_table(src)
        # either fixture generation (ns or us unit) → µs datetimes
        ts_us = pc.cast(t["ts"], pa.timestamp("us")).to_pylist()
        cols = {name: t[name].to_pylist() for name in ("event_id", "user_id", "event_type", "value", "props")}
        cols["ts"] = ts_us
        rows = sorted(zip(*(cols[c] for c in ("event_id", "ts", "user_id", "event_type", "value", "props"))))
        with open(os.path.join(work, "events.jsonl"), "w") as f:
            for eid, ts, uid, etype, value, props in rows:
                f.write(
                    _json.dumps(
                        {
                            "event_id": eid,
                            "ts": None if ts is None else ts.strftime("%Y-%m-%d %H:%M:%S.%f"),
                            "user_id": uid,
                            "event_type": etype,
                            "value": value,
                            "props": props,
                        }
                    )
                    + "\n"
                )

    return os.path.join(staged_dir("x4_jsonl", _stage_key(src, "x4"), build), "events.jsonl")
