"""The engine's environment knobs are an explicit, reviewed list.

Every ``SPARK_GRAFT_*`` name the package mentions is a setting a
deployment can change without touching code, so each one must be
listed here. A new knob fails this test until it is added below, with
its reason in review. Gates and limits are module constants, not
knobs: a test forces a side by patching the constant
(tests/test_gates_both_sides.py).
"""

from __future__ import annotations

import pathlib
import re

PACKAGE = pathlib.Path(__file__).resolve().parent.parent / "tidb_binlog_spark"

ALLOWED = {
    # local[N] core count of the session the engine builds
    "SPARK_GRAFT_CPUS",
}


def test_env_knobs_are_the_reviewed_list():
    found = set()
    for path in PACKAGE.rglob("*.py"):
        found |= set(re.findall(r"SPARK_GRAFT_[A-Z0-9_]+", path.read_text()))
    assert found == ALLOWED
