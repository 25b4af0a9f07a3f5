"""Suite enforcement of the plan-hash manifest (VERDICT r4 #2).

Replaces the hand-curated ``_MUST_BE_IN_WINDOW`` discipline with two
automated invariants:

1. **Freshness**: the committed ``PLAN_MANIFEST.json`` was generated from
   the current source tree (recomputed per-file sha == recorded sha). A
   stale manifest cannot pass — regenerate with
   ``python -m tests.plan_manifest`` after any package edit.
2. **Window rule**: every query whose optimized-plan hash differs from
   ``PLAN_BASELINE.json`` (the plans as of the last zero-fail full
   verification) must sit in ``DRIVER_WINDOW`` — so plan drift, including
   drift caused by a shared-helper edit, always gets a fresh driver
   verdict. The stored diff is recomputed here from the two files, not
   trusted.

Also: queries that have NEVER appeared in any CORRECTNESS artifact
(driver rounds or full sweeps) must be in-window — new queries cannot
launch unverified.
"""

from __future__ import annotations

import glob
import json
import os

from etl_pipeline_telecom_spark import catalog

from .plan_manifest import BASELINE, MANIFEST, PLAN_SLOTS, source_hashes

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _load(path):
    with open(path) as f:
        return json.load(f)


def test_manifest_is_fresh_and_complete():
    assert os.path.exists(MANIFEST), "run python -m tests.plan_manifest"
    m = _load(MANIFEST)
    assert set(m["plans"]) == set(catalog.specs()), "manifest does not cover the catalog"
    assert m["source_sha"] == source_hashes(), (
        "PLAN_MANIFEST.json is stale vs the source tree — regenerate with "
        "python -m tests.plan_manifest (and keep its changed_vs_baseline ⊆ DRIVER_WINDOW)"
    )


def test_manifest_is_made_at_the_pinned_slot_count():
    # hashes made at the host's core count would not compare with the
    # baseline's (defaultParallelism is embedded in several plans)
    assert _load(MANIFEST).get("slots") == PLAN_SLOTS


def test_plan_drift_is_in_driver_window():
    m, b = _load(MANIFEST), _load(BASELINE)
    changed = sorted(n for n, h in m["plans"].items() if b["plans"].get(n) != h)
    assert changed == m["changed_vs_baseline"], "manifest's stored diff is dishonest"
    out_of_window = set(changed) - set(catalog.DRIVER_WINDOW)
    assert not out_of_window, (
        f"plans drifted from their last-verified form but are NOT in the driver "
        f"window: {sorted(out_of_window)} — add them to DRIVER_WINDOW or revert"
    )


def test_baseline_is_vouched_by_a_zero_fail_sweep():
    b = _load(BASELINE)
    assert b.get("verified_by"), "baseline must cite the sweep artifact that vouches for it"
    art = _load(os.path.join(REPO, b["verified_by"]))
    assert art["fails"] == []
    assert set(b["plans"]) <= set(art["results"])


def test_never_verified_queries_are_in_window():
    verdicted: set[str] = set()
    for p in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")) + glob.glob(
        os.path.join(REPO, "CORRECTNESS_full_r*.json")
    ):
        verdicted |= set(_load(p).get("results", _load(p)) or {})
    never = set(catalog.specs()) - verdicted
    missing = never - set(catalog.DRIVER_WINDOW)
    assert not missing, f"queries with no verdict anywhere must be in-window: {sorted(missing)}"


def test_gid_canonicalization_is_build_order_invariant():
    """The two real-world variants RewriteDistinctAggregates emits for the
    SAME query under different expression-allocation orders (captured from
    d10 in r8 with an A/B build-order flip) must normalize identically —
    and a genuinely different Expand (other columns) must NOT collide."""
    from .plan_manifest import _normalize

    fwd = (
        "Aggregate [eval_doc_id#4, shingle#7, train_doc_id#9, gid#11], "
        "[eval_doc_id#4, shingle#7, train_doc_id#9, gid#11]\n"
        "+- Expand [[eval_doc_id#4, null, train_doc_id#9, 2], "
        "[eval_doc_id#4, shingle#7, null, 1]], "
        "[eval_doc_id#4, shingle#7, train_doc_id#9, gid#11]"
    )
    rev = (
        "Aggregate [eval_doc_id#104, train_doc_id#109, shingle#107, gid#111], "
        "[eval_doc_id#104, train_doc_id#109, shingle#107, gid#111]\n"
        "+- Expand [[eval_doc_id#104, null, shingle#107, 2], "
        "[eval_doc_id#104, train_doc_id#109, null, 1]], "
        "[eval_doc_id#104, train_doc_id#109, shingle#107, gid#111]"
    )
    assert _normalize(fwd) == _normalize(rev)
    other = fwd.replace("shingle", "tokens")
    assert _normalize(other) != _normalize(fwd)

    # ADVICE r8: consumer literals relabel CANONICALLY (by branch content
    # rank), so the build-order flip stays invariant even with filters...
    # In fwd, gid 2 selects the train branch; in rev, the train branch got
    # gid 1 — the same semantic consumer therefore carries different raw
    # literals, and must normalize to the same canonical label.
    fwd_f = fwd + "\ncount(a#1) FILTER (WHERE (gid#11 = 2)) AS n#5"
    rev_f = rev + "\ncount(a#2) FILTER (WHERE (gid#111 = 1)) AS n#6"
    assert _normalize(fwd_f) == _normalize(rev_f)
    # ...while a REAL branch-consumer swap (the aggregate now consumes the
    # shingle branch instead of the train branch) changes the hash — the
    # exact blind spot plain masking had.
    swapped = fwd + "\ncount(a#1) FILTER (WHERE (gid#11 = 1)) AS n#5"
    assert _normalize(swapped) != _normalize(fwd_f)


def test_gid_filter_literal_normalizes():
    from .plan_manifest import _normalize

    # no Expand in scope → fall back to masking (labels carry no
    # cross-referent information without the branch table)
    a = "count(x#3) FILTER (WHERE (gid#11 = 2)) AS n#5"
    b = "count(x#9) FILTER (WHERE (gid#21 = 1)) AS n#6"
    assert _normalize(a) == _normalize(b)
