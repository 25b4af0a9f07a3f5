"""Optimized-plan-hash manifest: automates the driver-window rule.

Round ≤4 discipline was human-curated: "anything whose plan changed must
be in DRIVER_WINDOW" enforced against a hand-maintained set
(`_MUST_BE_IN_WINDOW`). A changed shared helper (e.g. ``tokens()``,
``_gemm_pairs``) could silently invalidate an out-of-window verdict.

This module replaces that with a committed manifest:

- For every catalog query, a sha256 of its NORMALIZED optimized logical
  plan text at sf0.01 (expression IDs, plan ids, statistics and run-local
  artifact paths stripped). A helper edit that changes any query's plan
  changes its hash — attribution is per-query and automatic.
- Streaming queries execute their replay harness inside the builder, and
  the returned memory-sink table's plan carries no logic — so for
  ``streaming``-tagged entries the hash is over the SOURCE of the
  streaming modules instead (coarser: any streaming-module edit flags all
  five st* queries; conservative in the right direction).
- Plans are built at a pinned ``PLAN_SLOTS`` task slots, whatever the
  caller's ``SPARK_GRAFT_CPUS``: ``get_spark`` sizes ``local[N]`` and the
  shuffle partitions from it, and several plans embed
  ``defaultParallelism`` in their repartition counts, so an unpinned
  hash would be a function of the host's cores, not of the query. The
  manifest records the slot count it was made at.
- ``source_sha`` records a hash per package source file at generation
  time. The fast suite test recomputes those (no Spark) and fails if any
  file changed since generation → a stale manifest cannot pass CI.
- ``changed_vs_baseline`` is the plan-hash diff against
  ``PLAN_BASELINE.json`` — the plans as of the LAST FULL VERIFICATION
  (a ``tests.full_sweep`` run with zero fails, recorded in
  ``CORRECTNESS_full_r{N}.json``). The suite asserts that diff ⊆
  DRIVER_WINDOW — i.e. every query whose plan drifted from its verified
  form gets a fresh driver verdict this round.

Usage: python -m tests.plan_manifest            # regenerate live manifest
       python -m tests.plan_manifest --baseline # re-baseline: ONLY valid
           immediately after a zero-fail full sweep (it records which
           sweep artifact vouches for the plans)
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

PKG = "etl_pipeline_telecom_spark"
MANIFEST = os.path.join(REPO, "PLAN_MANIFEST.json")
SF_DIR = "/root/testdata/sf0.01"
BASELINE = os.path.join(REPO, "PLAN_BASELINE.json")
# task slots the committed plan hashes are made at (see module docstring)
PLAN_SLOTS = 32

# run-local noise in optimized-plan text, in strip order
_NORMALIZERS = (
    (re.compile(r"#\d+[L]?"), "#ID"),                      # expression IDs
    (re.compile(r"plan_id=\d+"), "plan_id=N"),
    (re.compile(r"@[0-9a-f]{6,}"), "@ADDR"),               # object identity
    (re.compile(r"Statistics\([^)]*\)"), "Statistics()"),
    (re.compile(r"stream_result_\d+"), "stream_result_N"),  # memory-sink names
    # higher-order-function lambda variables are numbered by a JVM-GLOBAL
    # counter (x_1, x_2, ...), so a query's lambda names depend on how many
    # lambdas were built earlier in the process — i.e. on catalog size and
    # build order, not on the query. Caught in r6: adding 4 queries
    # "drifted" 11 untouched plans via this counter alone. The r6 fix only
    # normalized variables literally NAMED x — Spark names the variable
    # after the PYTHON lambda's parameter (y_3, m_7, acc_2, ...), so every
    # other parameter name kept its counter suffix and re-drifted ~10
    # untouched plans on each catalog edit all round (diagnosed late r7
    # with an A/B build-order diff: the only delta was `lambda y_3` vs
    # `lambda y_4`). Every occurrence carries the `lambda ` prefix
    # (declaration and usage), so the prefix keeps the rewrite from ever
    # touching a real column name.
    (re.compile(r"\blambda ([A-Za-z][A-Za-z0-9]*)_\d+"), r"lambda \1_N"),
    (re.compile(r"/tmp/[^\s,\]\)]*"), "/tmp/PATH"),         # checkpoint/index scratch
    # staged-layout cache keys appear BARE (no /tmp/ prefix) inside
    # Contains(...) literals — p12 matches files by dirNAME, and the key
    # is md5(src abspath:size:mtime_ns:tag), so a driver testdata
    # regeneration "drifted" p12's plan with zero code change (caught
    # r15: fixture mtime 22:03 vs baseline commit 21:31)
    (re.compile(r"(spark_graft_[A-Za-z0-9_]*?)_[0-9a-f]{10}\b"), r"\1_KEY"),
    (re.compile(r"(-?\d+\.\d{6})\d+([eE][+-]?\d+)?"), r"\1\2"),  # float literals → 6dp
    # NOTE: RewriteDistinctAggregates' gid literals are handled in
    # _canon_plan_gids (canonical RELABELING, not masking — ADVICE r8:
    # plain masking made a branch-consumer swap hash-invisible).
)

# second half of the gid fix: the Expand branch list and the intermediate
# Aggregate's grouping/output lists permute with the same Map order.
# Both are SETS semantically (Expand branches are unioned; grouping
# order never changes semantics), so sort them. Only lines that carry
# gid#ID are touched — elsewhere list order is deterministic and kept
# as a real signal.
_EXPAND_RX = re.compile(r"Expand \[\[(.*)\]\], \[([^\[\]]*)\]")
_AGG_RX = re.compile(r"Aggregate \[([^\[\]]*gid#ID[^\[\]]*)\], \[([^\[\]]*gid#ID[^\[\]]*)\]")


def _split_top(s: str) -> list[str]:
    """Split on ', ' at paren depth 0 (entries may contain count(1) etc.)."""
    parts, depth, start = [], 0, 0
    i = 0
    while i < len(s):
        c = s[i]
        if c == "(":
            depth += 1
        elif c == ")":
            depth -= 1
        elif c == "," and depth == 0 and s[i : i + 2] == ", ":
            parts.append(s[start:i])
            start = i + 2
            i += 1
        i += 1
    parts.append(s[start:])
    return parts


def _canon_gid_line(line: str) -> str:
    if "gid#ID" not in line:
        return line
    m = _EXPAND_RX.search(line)
    if m:
        # Branch entries are POSITIONAL against the output list, and the
        # output list itself permutes with the Map order — so sort the
        # output columns, permute every branch the same way, mask the
        # gid label entries (their values are the arbitrary Map order),
        # then sort the branches as a set.
        out_cols = _split_top(m.group(2))
        perm = sorted(range(len(out_cols)), key=lambda i: out_cols[i])
        branches = []
        for br in m.group(1).split("], ["):
            vals = _split_top(br)
            if len(vals) == len(out_cols):
                vals = [
                    "G" if out_cols[i] == "gid#ID" else vals[i] for i in perm
                ]
            branches.append(", ".join(vals))
        line = (
            line[: m.start(1)]
            + "], [".join(sorted(branches))
            + line[m.end(1) : m.start(2)]
            + ", ".join(sorted(out_cols))
            + line[m.end(2) :]
        )
    m = _AGG_RX.search(line)
    if m:
        g = ", ".join(sorted(_split_top(m.group(1))))
        o = ", ".join(sorted(_split_top(m.group(2))))
        line = f"{line[: m.start(1)]}{g}{line[m.end(1) : m.start(2)]}{o}{line[m.end(2) :]}"
    return line


_GID_FILTER_RX = re.compile(r"\(gid#ID = (\d+)\)")


def _canon_plan_gids(plan: str) -> str:
    """Canonical gid RELABELING (ADVICE r8): RewriteDistinctAggregates
    assigns Expand-branch group-ids by iterating a Scala Map keyed on
    expression SETS — hash order depends on raw exprIds, i.e. on build
    order (caught r8: moving d9 re-ordered the manifest build and flipped
    d13/j9's gids). Masking the ``(gid = N)`` consumer literals to a
    constant fixed the drift but blinded the fingerprint to a REAL change
    that only swaps which aggregate consumes which distinct branch. Fix:
    rank each branch by its canonical (gid-masked, column-sorted) content
    and rewrite every consumer literal with the branch's RANK — build-
    order invariant, consumer-swap sensitive. Falls back to plain masking
    when the plan has no parseable single Expand (or ambiguous branches).
    """
    mapping: dict[str, str] = {}
    expands = [m for ln in plan.split("\n") if "gid#ID" in ln for m in [_EXPAND_RX.search(ln)] if m]
    if len(expands) == 1:
        m = expands[0]
        out_cols = _split_top(m.group(2))
        if "gid#ID" in out_cols:
            gid_pos = out_cols.index("gid#ID")
            perm = sorted(range(len(out_cols)), key=lambda i: out_cols[i])
            entries = []
            for br in m.group(1).split("], ["):
                vals = _split_top(br)
                if len(vals) != len(out_cols):
                    entries = []
                    break
                canon = ", ".join(
                    "G" if out_cols[i] == "gid#ID" else vals[i] for i in perm
                )
                entries.append((canon, vals[gid_pos]))
            contents = [e[0] for e in entries]
            origs = [e[1] for e in entries]
            if entries and len(set(contents)) == len(entries) and len(set(origs)) == len(entries):
                for rank, (_c, orig) in enumerate(sorted(entries), start=1):
                    mapping[orig] = f"C{rank}"
    plan = _GID_FILTER_RX.sub(
        lambda mm: f"(gid#ID = {mapping.get(mm.group(1), 'G')})", plan
    )
    return "\n".join(_canon_gid_line(ln) for ln in plan.split("\n"))


def _normalize(plan: str) -> str:
    for rx, sub in _NORMALIZERS:
        plan = rx.sub(sub, plan)
    if "gid#ID" in plan:
        plan = _canon_plan_gids(plan)
    return plan


def _sha(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()[:16]


def source_hashes() -> dict[str, str]:
    out: dict[str, str] = {}
    for root, _dirs, files in os.walk(os.path.join(REPO, PKG)):
        for f in sorted(files):
            if f.endswith(".py"):
                p = os.path.join(root, f)
                with open(p, "rb") as fh:
                    out[os.path.relpath(p, REPO)] = hashlib.sha256(fh.read()).hexdigest()[:16]
    return out


def _streaming_source_hash() -> str:
    # Every .py under streaming/ (programmatic — a hand-maintained list
    # once omitted streaming/source.py, silently exempting all st* queries
    # from re-verdicting when the shared reader changed) plus the plan
    # module that registers the st* entries.
    rels = sorted(
        os.path.relpath(os.path.join(root, f), REPO)
        for root, _dirs, files in os.walk(os.path.join(REPO, PKG, "streaming"))
        for f in files
        if f.endswith(".py")
    )
    rels.append(f"{PKG}/plans/streaming.py")
    parts = []
    for rel in rels:
        with open(os.path.join(REPO, rel), "rb") as fh:
            parts.append(fh.read())
    return "src:" + _sha(b"\n".join(parts).decode(errors="replace"))


def compute_plan_hashes(spark, sf_dir: str = SF_DIR) -> dict[str, str]:
    from etl_pipeline_telecom_spark import catalog

    st_hash = _streaming_source_hash()
    out: dict[str, str] = {}
    for name, spec in catalog.specs().items():
        if "streaming" in spec.tags:
            out[name] = st_hash
            continue
        # Fingerprint the optimized plan WITHOUT cached-data substitution:
        # the stock optimizedPlan() first swaps any .cache()'d subtree for
        # its InMemoryRelation, whose dump depends on whether AQE already
        # FINALIZED that cache (isFinalPlan=true + a physical Final/
        # Initial dump) — i.e. on which queries happened to execute
        # earlier in the capture run. (Caught r8: d9's hash flipped
        # purely by moving its build position past the queries that
        # execute the shared shingle cache; this was the REAL mechanism
        # behind every prior round's "cache-plan embedding" drift.)
        # Running the optimizer directly on the analyzed plan yields the
        # same optimized tree with the cache boundary inlined — a
        # function of the query alone, and still sensitive to every real
        # plan change (pushdown, join strategy, helper edits).
        df = spec.fn(spark, sf_dir)
        jqe = df._jdf.queryExecution()
        opt = (
            df.sparkSession._jsparkSession.sessionState()
            .optimizer()
            .execute(jqe.analyzed())
        )
        out[name] = _sha(_normalize(opt.toString()))
    return out


def round_num(path: str) -> int:
    """Numeric round extractor: 'r10' must sort after 'r9' (lexicographic
    sort breaks at round 10 and would silently pin stale artifacts)."""
    m = re.search(r"_r0*(\d+)\.json$", os.path.basename(path))
    return int(m.group(1)) if m else -1


def _latest_sweep_artifact() -> str | None:
    import glob

    paths = sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_full_r*.json")), key=round_num)
    return os.path.basename(paths[-1]) if paths else None


def generate(*, as_baseline: bool = False) -> dict:
    from etl_pipeline_telecom_spark.session import get_spark

    os.environ["SPARK_GRAFT_CPUS"] = str(PLAN_SLOTS)
    spark = get_spark("plan-manifest")
    slots = spark.sparkContext.defaultParallelism
    if slots != PLAN_SLOTS:
        raise SystemExit(f"plan manifest needs {PLAN_SLOTS} task slots, session has {slots}")
    plans = compute_plan_hashes(spark)
    if as_baseline:
        sweep = _latest_sweep_artifact()
        if sweep:
            with open(os.path.join(REPO, sweep)) as f:
                art = json.load(f)
            if art.get("fails"):
                raise SystemExit(f"refusing to baseline: {sweep} records fails {art['fails']}")
        payload = {"verified_by": sweep, "plans": plans}
        with open(BASELINE, "w") as f:
            json.dump(payload, f, indent=1, sort_keys=True)
        print(f"baseline ({len(plans)} queries, vouched by {sweep}) -> {BASELINE}")

    baseline_plans: dict[str, str] = {}
    if os.path.exists(BASELINE):
        with open(BASELINE) as f:
            baseline_plans = json.load(f)["plans"]
    changed = sorted(
        n for n, h in plans.items() if baseline_plans.get(n) != h
    )
    payload = {
        "sf_dir": SF_DIR,
        "slots": PLAN_SLOTS,
        "baseline": os.path.basename(BASELINE) if baseline_plans else None,
        "source_sha": source_hashes(),
        "plans": plans,
        "changed_vs_baseline": changed,
    }
    with open(MANIFEST, "w") as f:
        json.dump(payload, f, indent=1, sort_keys=True)
    print(f"{len(plans)} queries, {len(changed)} changed vs baseline -> {MANIFEST}")
    for n in changed:
        print(f"  changed: {n}")
    return payload


if __name__ == "__main__":
    generate(as_baseline="--baseline" in sys.argv)
