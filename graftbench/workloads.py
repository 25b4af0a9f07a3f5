"""The workloads: their inputs, their ops, and the checks on their outputs.

A pass runs every op of a workload once, in order, from the input files.
Each op returns the rows it produced, consumed on the driver, so the timed
region ends only when the work is done.
"""

from __future__ import annotations

import hashlib
import os
import sys


def rows_digest(rows) -> str:
    """Order-insensitive digest of collected rows, to see that every pass
    produced the same output."""
    return hashlib.sha256("\n".join(sorted(repr(tuple(r)) for r in rows)).encode()).hexdigest()[:16]


class Collected:
    """An op's collected rows in the shape the oracle harness reads from a
    DataFrame, so the check needs no second Spark job."""

    def __init__(self, rows, schema):
        self.rows, self.columns = rows, schema.fieldNames()
        self.dtypes = [(f.name, f.dataType.simpleString()) for f in schema.fields]

    def collect(self):
        return self.rows


class Workload:
    name = ""
    ops: tuple[str, ...] = ()

    def __init__(self, spark, in_dir: str, out_dir: str):
        self.spark, self.in_dir, self.out_dir = spark, in_dir, out_dir
        self.last: dict[str, object] = {}  # op -> its output in the latest pass

    @classmethod
    def make_inputs(cls, in_dir: str, seed: int) -> dict:
        raise NotImplementedError

    def register(self) -> None:
        """Make the inputs known to the session (part of set-up)."""

    def run_op(self, op: str):
        raise NotImplementedError

    def digest(self, op: str, out) -> str:
        return rows_digest(out)

    def check(self) -> list[str]:
        """Mismatches between the latest pass's outputs and an independent
        computation; empty when every output is correct."""
        raise NotImplementedError


class ChurnETL(Workload):
    """The reference churn pipeline plus its expectation suite."""

    name = "churn_etl"
    ops = ("run_pipeline", "expectations")
    ROWS = 60_000

    @classmethod
    def make_inputs(cls, in_dir: str, seed: int) -> dict:
        import inputs

        inputs.write_churn_csv(os.path.join(in_dir, "churn_raw.csv"), seed, cls.ROWS)
        return {"churn_rows": cls.ROWS}

    @property
    def raw_path(self) -> str:
        return os.path.join(self.in_dir, "churn_raw.csv")

    @property
    def rows_per_pass(self) -> int:
        return self.ROWS

    def register(self) -> None:
        from pyspark.sql.types import DoubleType, IntegerType, StringType, StructField, StructType

        from etl_pipeline_telecom_spark.plans import churn

        churn.read_raw(self.spark, self.raw_path).createOrReplaceTempView("churn_raw")
        raw_types = {n: t() for n, t in churn.RAW_COLUMNS}
        raw_types["TotalCharges"] = DoubleType()
        extra = {
            "tenure_group": StringType(),
            "monthly_charge_segment": StringType(),
            "has_internet_service": IntegerType(),
            "is_multi_line_user": IntegerType(),
            "contract_type_code": IntegerType(),
        }
        self.staged_schema = StructType(
            [StructField(c, raw_types.get(c) or extra[c], True) for c in churn.STAGED_COLUMNS]
        )

    def run_op(self, op: str):
        from etl_pipeline_telecom_spark.plans import churn
        from etl_pipeline_telecom_spark import validation

        if op == "run_pipeline":
            return churn.run_pipeline(self.spark, self.raw_path, self.out_dir)
        staged = (
            self.spark.read.option("header", "true")
            .schema(self.staged_schema)
            .csv(os.path.join(self.out_dir, "churn_staged.csv"))
        )
        return validation.run_expectations(staged, validation.churn_expectations()).collect()

    def digest(self, op: str, out) -> str:
        if op == "run_pipeline":
            h = hashlib.sha256()
            for name in sorted(out):
                with open(out[name], "rb") as fh:
                    h.update(name.encode() + b"\0" + hashlib.sha256(fh.read()).digest())
            return h.hexdigest()[:16]
        return rows_digest(out)

    def check(self) -> list[str]:
        errors = []
        for check, passed, observed, expected in self.last["expectations"]:
            if not passed:
                errors.append(f"expectation {check} failed: observed {observed}, expected {expected}")
            if check == "row_count_min" and int(observed) != self.ROWS:
                errors.append(f"staged rows {observed} != raw rows {self.ROWS}")
        from churn_oracle import check_churn_outputs  # pandas: imported after the timed passes

        mismatches, self.rounding_ties = check_churn_outputs(self.raw_path, self.out_dir)
        return errors + mismatches


class CorpusCuration(Workload):
    """Dedup, similarity and streaming catalog ops over one seeded corpus:
    shuffles, the Arrow/Python-worker boundary, and micro-batches with state
    written between them. Each op is checked against its DuckDB oracle SQL."""

    name = "corpus_curation"
    ops = ("d5_lsh_jaccard_dedup", "v7_ivf_probe", "st7_stream_bloom_refresh")
    DOCS, VECTORS = 400, 160

    @classmethod
    def make_inputs(cls, in_dir: str, seed: int) -> dict:
        import inputs

        inputs.write_corpus(in_dir, seed, cls.DOCS, cls.VECTORS)
        return {"documents": cls.DOCS, "embeddings": cls.VECTORS}

    @property
    def rows_per_pass(self) -> int:
        return self.DOCS + self.VECTORS

    def register(self) -> None:
        from etl_pipeline_telecom_spark import catalog
        from etl_pipeline_telecom_spark.sources import load_table

        self.specs = catalog.specs()
        for table in ("documents", "embeddings"):
            load_table(self.spark, self.in_dir, table).createOrReplaceTempView(table)

    def run_op(self, op: str):
        # call the op through its module, so a traced run sees the call
        fn = self.specs[op].fn
        df = getattr(sys.modules[fn.__module__], fn.__name__)(self.spark, self.in_dir)
        return df.collect(), df.schema

    def digest(self, op: str, out) -> str:
        return rows_digest(out[0])

    def check(self) -> list[str]:
        from tests.oracle_harness import compare

        errors = []
        for op in self.ops:
            ok, msg = compare(self.spark, self.in_dir, lambda _s, _d, out=self.last[op]: Collected(*out), self.specs[op].sql)
            if not ok:
                errors.append(f"{op}: {msg}")
        return errors + self._bloom_matches_rebuild()

    def _bloom_matches_rebuild(self) -> list[str]:
        from etl_pipeline_telecom_spark.plans import dedup
        from etl_pipeline_telecom_spark.streaming.jobs import replay_table_slices

        # st7's state file is keyed by its replay dir and this process's pid
        replay = replay_table_slices(self.in_dir, "documents")
        key = hashlib.md5(f"{replay}:{os.getpid()}".encode()).hexdigest()[:10]
        with open(os.path.join("/tmp", f"spark_graft_st7_bloom_{key}.bin"), "rb") as fh:
            maintained = fh.read()
        rebuilt = dedup._build_bloom(dedup.eval_shingle_hashes(self.spark, self.in_dir))
        return [] if maintained == rebuilt else ["st7: maintained bloom differs from an eager rebuild"]


WORKLOADS = {w.name: w for w in (ChurnETL, CorpusCuration)}
