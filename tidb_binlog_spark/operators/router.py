"""Table routing: rename (schema, table) by wildcard rules downstream.

Reference: route-rule assembly drainer/util.go:277-346, applied in
pkg/loader/translate.go:30-… and drainer/sync/oracle.go:29-….

Rules are (db_pattern, tbl_pattern, target_db, target_tbl); patterns
are shell-style wildcards (``*`` / ``?``). First matching rule wins;
unmatched rows keep their original names. Compiles to a chained CASE
expression — single projection, codegen'd, zero shuffles.
"""

from __future__ import annotations

import re
from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F


def wildcard_to_regex(pattern: str) -> str:
    """``t_*`` -> ``^t_.*$`` (anchored; only * and ? are special)."""
    out = "^"
    for ch in pattern:
        if ch == "*":
            out += ".*"
        elif ch == "?":
            out += "."
        else:
            out += re.escape(ch)
    return out + "$"


def route_columns(rules: Sequence[tuple[str, str, str, str]],
                  db_col: str = "db",
                  tbl_col: str = "tbl") -> tuple[Column, Column]:
    """The routed (target_db, target_tbl) of a row, as two columns over
    its source names."""
    target_db = F.col(db_col)
    target_tbl = F.col(tbl_col)
    # build CASE from the last rule backwards so the FIRST rule wins.
    for db_pat, tbl_pat, to_db, to_tbl in reversed(rules):
        m = F.col(db_col).rlike(wildcard_to_regex(db_pat)) & \
            F.col(tbl_col).rlike(wildcard_to_regex(tbl_pat))
        target_db = F.when(m, F.lit(to_db)).otherwise(target_db)
        target_tbl = F.when(m, F.lit(to_tbl)).otherwise(target_tbl)
    return target_db, target_tbl

