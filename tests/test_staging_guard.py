"""The build-once staging policy lives in one module.

``sources.writers.staged_dir`` names the work dir, publishes it with an
atomic rename and cleans up after crashes and races. A second copy of
that policy elsewhere drifts from it (different keys, no sweep, debris on
failure), so no other package module may build a ``.stage-`` path or
call ``os.rename``. st7's per-batch ``os.replace`` of its bloom file is
not staging and stays allowed.
"""

from __future__ import annotations

import os

PKG = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "etl_pipeline_telecom_spark")
HOME = os.path.join("sources", "writers.py")


def test_staging_policy_lives_only_in_writers():
    offenders = []
    for root, _dirs, files in os.walk(PKG):
        for f in files:
            path = os.path.join(root, f)
            if not f.endswith(".py") or os.path.relpath(path, PKG) == HOME:
                continue
            with open(path) as fh:
                for n, line in enumerate(fh, 1):
                    if ".stage-" in line or "os.rename" in line:
                        offenders.append(f"{os.path.relpath(path, PKG)}:{n}: {line.strip()}")
    assert not offenders, "staging outside sources/writers.staged_dir:\n" + "\n".join(offenders)
