"""Guard on the project's environment-variable surface.

Every ``SPARK_GRAFT_*`` / ``GRAPHDB_SPARK_*`` name read by the package,
the bench harness or the tools must be on the allowlist below. An env
knob should exist only while the decision it drives is still open, so a
new one has to be added here on purpose — and one that is deleted has to
be taken off, which keeps the knob count a pinned number.
"""

from __future__ import annotations

import os
import re

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_SCANNED = ("project_graphdb_spark", "bench.py", "tools")
_NAME = re.compile(r"\b(?:SPARK_GRAFT|GRAPHDB_SPARK)_[A-Z0-9_]+")

ALLOWED = {
    # deployment / session configuration
    "GRAPHDB_SPARK_CHECKPOINT_DIR",
    "GRAPHDB_SPARK_LLM_API_KEY",
    "GRAPHDB_SPARK_LLM_BASE_URL",
    "GRAPHDB_SPARK_LLM_MODEL",
    "SPARK_GRAFT_CPUS",
    "SPARK_GRAFT_DRIVER_MEM",
    "SPARK_GRAFT_SF_DIR",
    # bench harness inputs and outputs
    "SPARK_GRAFT_BENCH_DETAIL",
    "SPARK_GRAFT_BENCH_ONLY",
    "SPARK_GRAFT_BENCH_PASSES",
    "SPARK_GRAFT_BENCH_SKIP",
    "SPARK_GRAFT_CALIB_DIR",
}


def _scanned_files():
    for entry in _SCANNED:
        path = os.path.join(_ROOT, entry)
        if os.path.isfile(path):
            yield path
            continue
        for dirpath, _dirs, files in os.walk(path):
            for name in files:
                if name.endswith(".py"):
                    yield os.path.join(dirpath, name)


def test_env_knobs_match_allowlist():
    found: dict[str, str] = {}
    for path in _scanned_files():
        with open(path, encoding="utf-8") as f:
            for name in _NAME.findall(f.read()):
                found.setdefault(name, os.path.relpath(path, _ROOT))
    unexpected = {n: found[n] for n in set(found) - ALLOWED}
    assert not unexpected, (
        f"env names not on the allowlist: {unexpected} — add a knob "
        "only for a decision that is still open, and list it here"
    )
    assert set(found) == ALLOWED, (
        f"allowlisted names no longer read anywhere: "
        f"{sorted(ALLOWED - set(found))} — take them off the list"
    )
    assert len(ALLOWED) == 12
