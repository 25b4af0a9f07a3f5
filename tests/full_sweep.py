"""Full-catalog oracle sweep → CORRECTNESS_full_r{N}.json.

The driver verifies only the first 50 ``queries()`` entries per round;
the rest of the catalog rests on prior-round verdicts plus the window
discipline. This script retires that trust assumption: it runs EVERY
catalog query through the same compare the driver uses (row count,
schema kind, order-insensitive value multiset) against its DuckDB oracle
at sf0.01 and writes one dated artifact covering all of them.

Usage: python -m tests.full_sweep [sf_dir] [out_json]

``out_json`` defaults to the next round's artifact (:func:`default_out`).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.oracle_harness import compare  # noqa: E402


def sweep(spark, sf_dir: str) -> dict[str, dict]:
    from etl_pipeline_telecom_spark import catalog

    results: dict[str, dict] = {}
    for name, spec in catalog.specs().items():
        t0 = time.monotonic()
        try:
            if spec.sql is None:
                n = spec.fn(spark, sf_dir).count()
                results[name] = {
                    "rows_match": None,
                    "schema_match": None,
                    "hash_match": None,
                    "spark_rows": n,
                    "oracle_rows": None,
                    "rows_only": True,
                    "err": None,
                }
            else:
                ok, msg = compare(spark, sf_dir, spec.fn, spec.sql)
                results[name] = {
                    "rows_match": ok,
                    "schema_match": ok,
                    "hash_match": ok,
                    "err": None if ok else msg,
                }
        except Exception as exc:  # noqa: BLE001 — record, keep sweeping
            results[name] = {
                "rows_match": False,
                "schema_match": False,
                "hash_match": False,
                "err": f"{type(exc).__name__}: {exc}"[:500],
            }
        results[name]["secs"] = round(time.monotonic() - t0, 2)
        status = (
            "ROWS-ONLY"
            if results[name].get("rows_only")
            else ("PASS" if results[name]["hash_match"] else "FAIL")
        )
        print(f"{status:9s} {name} ({results[name]['secs']}s)", flush=True)
    return results


def default_out(repo: str) -> str:
    """The next round's artifact name, ``CORRECTNESS_full_r{latest+1}.json``.

    Never the latest committed artifact: that one vouches for
    ``PLAN_BASELINE.json``, and a sweep with fails written over it would
    void the baseline's record."""
    import glob as _glob

    from .plan_manifest import round_num

    rounds = [round_num(p) for p in _glob.glob(os.path.join(repo, "CORRECTNESS_full_r*.json"))]
    return f"CORRECTNESS_full_r{max(rounds, default=0) + 1}.json"


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.01"
    if len(args) > 1:
        out = args[1]
    else:
        from .plan_manifest import REPO

        out = default_out(REPO)

    from etl_pipeline_telecom_spark.session import get_spark

    spark = get_spark("full-sweep")
    t0 = time.monotonic()
    results = sweep(spark, sf_dir)
    fails = [n for n, r in results.items() if r["hash_match"] is False]
    payload = {
        "sf_dir": sf_dir,
        "total": len(results),
        "oracle_backed": sum(1 for r in results.values() if not r.get("rows_only")),
        "fails": fails,
        "wall_secs": round(time.monotonic() - t0, 1),
        "results": results,
    }
    with open(out, "w") as f:
        json.dump(payload, f, indent=1, sort_keys=False)
    print(f"\n{len(results)} queries, {len(fails)} fails -> {out}")
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
