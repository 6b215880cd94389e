"""Filter operators: allow/block (schema, table) lists, event-kind
rules, ignore-txn-commit-ts.

Reference:
- allow/block filter, case-insensitive exact or ``~regex`` match,
  allowlist evaluated before blocklist: pkg/filter/filter.go:23-156;
- binlog event filter (v2 rules): per (schema-pattern, table-pattern)
  rules dropping individual event kinds: drainer/syncer.go:596-705,
  rule assembly drainer/util.go:277-381;
- ignore-txn-commit-ts: drainer/syncer.go:366-369,707-714 (a
  ``commit_ts`` isin, built with the others in
  plans.pipeline.row_mapping).

Spark-first: rules compile to ONE boolean Column (pure Catalyst
expressions — rlike / lower / isin), so the predicate participates in
pushdown and whole-stage codegen. No Python runs per row.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _pattern_to_col(col: Column, pattern: str,
                    case_sensitive: bool = False) -> Column:
    """One table-rule token -> predicate. ``~`` prefix = regex matched
    case-insensitively via the `(?i)` flag — exactly the reference's
    regexp.MustCompile("(?i)" + pattern); lower-casing the PATTERN
    would invert case-sensitive escape classes like \\D/\\S. Non-regex
    tokens are case-insensitive exact matches (filter.go:48-77).

    ``case_sensitive=True`` is the binlog-filter v2 rule mode
    (drainer/config.go:128 + drainer/util.go rule assembly) — the
    allow/block lists stay case-insensitive regardless
    (filter.go:120 lowercases unconditionally)."""
    if pattern.startswith("~"):
        return col.rlike(pattern[1:] if case_sensitive
                         else "(?i)" + pattern[1:])
    if case_sensitive:
        return col == pattern
    return F.lower(col) == pattern.lower()


def _match_any(db: Column, tbl: Column,
               rules: Sequence[tuple[str, str]]) -> Column:
    out = F.lit(False)
    for db_pat, tbl_pat in rules:
        m = _pattern_to_col(db, db_pat)
        if tbl_pat:
            m = m & _pattern_to_col(tbl, tbl_pat)
        out = out | m
    return out


def allow_block_predicate(do_rules: Sequence[tuple[str, str]] | None,
                          ignore_rules: Sequence[tuple[str, str]] | None,
                          db_col: str = "db", tbl_col: str = "tbl") -> Column:
    """Combined predicate: if an allowlist exists, only matches pass;
    then the blocklist removes matches (allow evaluated first, exactly
    like filter.go:79-156)."""
    db, tbl = F.col(db_col), F.col(tbl_col)
    keep = F.lit(True)
    if do_rules:
        keep = _match_any(db, tbl, do_rules)
    if ignore_rules:
        keep = keep & ~_match_any(db, tbl, ignore_rules)
    return keep


def event_kinds_predicate(rules: Sequence[tuple[str, str, Sequence[str]]],
                          case_sensitive: bool = False) -> Column:
    """Keep predicate of the event-kind rules: (db_pattern, tbl_pattern,
    [ops to ignore]). Matching rows are dropped (the reference edits the
    txn's Sequence arrays in place, drainer/syncer.go:596-673 — row-level
    filtering is the DataFrame-native equivalent). ``case_sensitive``
    switches the v2 rule matching mode (config.go:128)."""
    drop = F.lit(False)
    for db_pat, tbl_pat, ops in rules:
        m = _pattern_to_col(F.col("db"), db_pat, case_sensitive) & \
            _pattern_to_col(F.col("tbl"), tbl_pat, case_sensitive) & \
            F.col("op").isin([o.upper() for o in ops])
        drop = drop | m
    return ~drop


def drop_truncated_tables(changes: DataFrame,
                          truncated_ids: Sequence[int],
                          id_col: str = "table_id") -> DataFrame:
    """Drop mutations whose physical table id was truncated mid-stream
    (online-DDL artifact, drainer/syncer.go:744-762): rows written
    under a pre-truncate table id must not replicate."""
    if not truncated_ids:
        return changes
    return changes.filter(~F.col(id_col).isin(list(truncated_ids)))
