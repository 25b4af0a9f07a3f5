"""Validation suite (V1–V6) + REST-batched sink tests.

The churn validation mirrors the reference's ``scripts/validate.py`` run
over its own staged output; the REST sink tests inject file-backed and
flaky transports to pin the reference's batch/retry/abort semantics
(``scripts/load.py:95-230``) without a network.
"""

from __future__ import annotations

import glob
import json
import os

import pytest

from etl_pipeline_telecom_spark.plans.churn import read_raw, transform_churn
from etl_pipeline_telecom_spark.sources import RestSchemaError, write_rest_batched
from etl_pipeline_telecom_spark.sources.rest_sink import _post_with_retry
from etl_pipeline_telecom_spark.sources.writers import write_with_fallback
from etl_pipeline_telecom_spark.validation import churn_expectations, run_expectations

RAW_CSV = "/root/reference/data/raw/WA_Fn-UseC_-Telco-Customer-Churn.csv"


@pytest.mark.skipif(not os.path.exists(RAW_CSV), reason="reference data not present")
def test_churn_validation_all_pass(spark):
    staged = transform_churn(read_raw(spark, RAW_CSV))
    results = run_expectations(staged, churn_expectations())
    rows = {r["check"]: r for r in results.collect()}
    failed = [c for c, r in rows.items() if not r["passed"]]
    assert not failed, f"validation failures: {[rows[c].asDict() for c in failed]}"
    assert rows["no_nulls:TotalCharges"]["observed"] == "0"  # 11 blanks were median-filled
    assert rows["domain:tenure_group"]["observed"] == "Champion,Loyal,New,Regular"


def test_validation_detects_failures(spark):
    from etl_pipeline_telecom_spark.validation import expect_domain, expect_no_nulls

    df = spark.createDataFrame([(1, "x"), (None, "y")], "a int, b string")
    results = {r["check"]: r for r in run_expectations(df, [expect_no_nulls("a"), expect_domain("b", {"x"})]).collect()}
    assert not results["no_nulls:a"]["passed"] and results["no_nulls:a"]["observed"] == "1"
    assert not results["domain:b"]["passed"]


def test_domain_check_fails_on_nulls(spark):
    """NULLs must fail domain checks as the reference's unique() does
    (validate.py:97 surfaces NaN) — collect_set alone would drop them."""
    from etl_pipeline_telecom_spark.validation import expect_domain

    df = spark.createDataFrame([("x",), ("y",), (None,)], "b string")
    checks = [
        expect_domain("b", {"x", "y"}),
        expect_domain("b", {"x", "y"}, subset=True),
        expect_domain("b", {"x", "y"}, as_violations=True),
    ]
    results = {r["check"]: r for r in run_expectations(df, checks).collect()}
    assert not results["domain:b"]["passed"]
    assert "∅NULL∅" in results["domain:b"]["observed"]
    assert not results["domain_violations:b"]["passed"]
    assert results["domain_violations:b"]["observed"] == "1"

    clean = spark.createDataFrame([("x",), ("y",)], "b string")
    ok = {r["check"]: r for r in run_expectations(clean, checks).collect()}
    assert all(r["passed"] for r in ok.values())


def _file_transport_factory(out_dir: str, fail_first: int = 0):
    """Each partition appends its batches as JSON lines under out_dir.
    ``fail_first`` simulates transient HTTP failures before succeeding."""
    marker = os.path.join(out_dir, "failures")

    def factory():
        def transport(batch: list[dict]) -> None:
            n_failed = len(glob.glob(marker + "*"))
            if n_failed < fail_first:
                open(f"{marker}.{n_failed}", "w").close()
                raise ConnectionError("transient")
            pid = os.getpid()
            with open(os.path.join(out_dir, f"batches.{pid}.jsonl"), "a") as fh:
                fh.write(json.dumps(batch, default=str) + "\n")

        return transport

    return factory


def test_rest_sink_batches_and_nan_to_null(spark, tmp_path):
    df = spark.createDataFrame(
        [(i, float("nan") if i % 5 == 0 else float(i)) for i in range(23)], "id int, v double"
    ).repartition(2)
    stats = write_rest_batched(df, _file_transport_factory(str(tmp_path)), batch_size=10)
    batches = []
    for f in glob.glob(str(tmp_path / "batches.*.jsonl")):
        batches += [json.loads(line) for line in open(f)]
    rows = [r for b in batches for r in b]
    assert len(rows) == 23
    assert all(len(b) <= 10 for b in batches)
    assert all(r["v"] is None for r in rows if r["id"] % 5 == 0)  # NaN→NULL (load.py:164)
    assert stats == {
        "batches_posted": len(batches),
        "batches_skipped": 0,
        "rows_skipped": 0,
    }


def test_rest_sink_skipped_batches_are_counted(spark):
    """Exhausted retries must never be silent: the returned accumulator
    counts expose every dropped batch/row (ADVICE r2)."""
    df = spark.createDataFrame([(i,) for i in range(7)], "id int").coalesce(1)

    def factory():
        def transport(batch):
            raise ConnectionError("permanently down")

        return transport

    stats = write_rest_batched(df, factory, batch_size=5, sleep=lambda s: None)
    assert stats["batches_posted"] == 0
    assert stats["batches_skipped"] == 2  # 5-row batch + 2-row tail
    assert stats["rows_skipped"] == 7


def test_rest_sink_retries_transient_failures(spark, tmp_path):
    df = spark.createDataFrame([(1,), (2,)], "id int").coalesce(1)
    write_rest_batched(
        df, _file_transport_factory(str(tmp_path), fail_first=2), batch_size=10, sleep=lambda s: None
    )
    rows = [r for f in glob.glob(str(tmp_path / "batches.*.jsonl")) for line in open(f) for r in json.loads(line)]
    assert {r["id"] for r in rows} == {1, 2}
    assert len(glob.glob(str(tmp_path / "failures*"))) == 2  # two retries happened


def test_rest_sink_retry_semantics_match_reference():
    """load.py:175-226 — initial try + max_retries retries (4 total),
    sleeps backoff**attempt with attempt from 1 (2s,4s,8s), then SKIPS."""
    calls, sleeps = [], []

    def always_fail(batch):
        calls.append(batch)
        raise ConnectionError("down")

    posted = _post_with_retry(
        always_fail, [{"a": 1}], max_retries=3, backoff=2.0, sleep=sleeps.append
    )
    assert posted is False  # batch skipped, not raised (load.py:196-198)
    assert len(calls) == 4  # 1 initial + 3 retries
    assert sleeps == [2.0, 4.0, 8.0]  # backoff**attempt, attempt from 1


def test_rest_sink_on_exhausted_raise():
    def always_fail(batch):
        raise ConnectionError("down")

    with pytest.raises(ConnectionError):
        _post_with_retry(
            always_fail, [{"a": 1}], max_retries=1, backoff=2.0,
            sleep=lambda s: None, on_exhausted="raise",
        )


def test_rest_sink_schema_error_aborts_without_retry():
    calls = []

    def transport(batch):
        calls.append(batch)
        raise RestSchemaError("column mismatch")

    with pytest.raises(RestSchemaError):
        _post_with_retry(transport, [{"a": 1}], max_retries=3, backoff=2.0, sleep=lambda s: None)
    assert len(calls) == 1  # no retries on schema errors (load.py:186-193)


def test_rest_sink_fallback_routing(spark, tmp_path):
    df = spark.createDataFrame([(1,), (2,)], "id int")

    def failing_primary(d):
        raise RestSchemaError("column mismatch")

    fallback_csv = str(tmp_path / "localcopy.csv")

    def local_fallback(d):
        from etl_pipeline_telecom_spark.sources.writers import write_single_csv

        write_single_csv(d, fallback_csv)

    assert write_with_fallback(df, failing_primary, local_fallback) == "fallback"
    assert os.path.exists(fallback_csv)
