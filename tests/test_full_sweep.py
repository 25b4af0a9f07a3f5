"""Suite visibility for the full-catalog sf0.01 oracle sweep.

``python -m tests.full_sweep`` produces ``CORRECTNESS_full_r{N}.json`` —
every catalog query run through the driver-equivalent DuckDB compare at
the driver's scale factor (sf0.01; the in-suite sweep in
``test_catalog_oracle.py`` runs at sf0.001). The fast test here pins the
committed artifact to the current catalog: complete coverage, zero
fails, and the rows-only set exactly the justified one. Freshness of the
artifact vs the CODE is enforced separately by the plan-hash manifest
(``test_plan_manifest.py``): a plan change without a re-sweep shows up
there, not here.

Set ``SPARK_GRAFT_FULL_SWEEP=1`` to run the live ~3-minute sweep inside
pytest instead of trusting the artifact.
"""

from __future__ import annotations

import glob
import json
import os

import pytest

from etl_pipeline_telecom_spark import catalog

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# single source of truth for "rows-only is allowed": test_catalog_meta
from .test_catalog_meta import _JUSTIFIED_ROWS_ONLY  # noqa: E402


def _latest_artifact() -> str:
    from .plan_manifest import round_num

    paths = sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_full_r*.json")), key=round_num)
    assert paths, "no CORRECTNESS_full_r*.json committed — run python -m tests.full_sweep"
    return paths[-1]


def test_full_sweep_artifact_covers_catalog_with_zero_fails():
    with open(_latest_artifact()) as f:
        art = json.load(f)
    results = art["results"]
    names = set(catalog.specs())
    assert set(results) == names, (
        f"sweep artifact out of date vs catalog: "
        f"missing={sorted(names - set(results))} extra={sorted(set(results) - names)}"
    )
    fails = [n for n, r in results.items() if r["hash_match"] is False]
    assert not fails, f"sweep artifact records failures: {fails}"
    rows_only = {n for n, r in results.items() if r.get("rows_only")}
    assert rows_only == _JUSTIFIED_ROWS_ONLY


def test_default_out_is_the_next_round(tmp_path):
    from .full_sweep import default_out

    assert default_out(str(tmp_path)) == "CORRECTNESS_full_r1.json"
    for n in (9, 17, 10):  # numeric, not lexicographic, order
        (tmp_path / f"CORRECTNESS_full_r{n}.json").write_text("{}")
    assert default_out(str(tmp_path)) == "CORRECTNESS_full_r18.json"


@pytest.mark.skipif(
    not os.environ.get("SPARK_GRAFT_FULL_SWEEP"),
    reason="live full sweep is ~3 min; set SPARK_GRAFT_FULL_SWEEP=1",
)
def test_full_sweep_live(spark):
    from .full_sweep import sweep

    results = sweep(spark, "/root/testdata/sf0.01")
    fails = [n for n, r in results.items() if r["hash_match"] is False]
    assert not fails, fails
