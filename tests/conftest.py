from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tidb_binlog_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    s = get_spark("tests", shuffle_partitions=4)
    yield s


def order_labels(rows, cursor=None):
    """ordering.classify_disorder's order rule as one pass in arrival
    order. rows: (arrival_seq, source_id, commit_ts, start_ts, seq,
    ...) tuples; cursor: {source_id: applied commit_ts}. A transaction
    is (source_id, start_ts, commit_ts): a row is a duplicate when an
    earlier-arriving transaction owns its commit_ts or an earlier row
    repeats its (source_id, start_ts, commit_ts, seq); disorder when
    its source already showed a larger commit_ts or it is at or below
    the source's cursor. Returns {arrival_seq: label}."""
    cursor = cursor or {}
    owner, copies, src_max, out = {}, set(), {}, {}
    for a, src, cts, start, seq, *_ in sorted(rows, key=lambda r: r[:2]):
        if (owner.setdefault(cts, (src, start)) != (src, start)
                or (src, start, cts, seq) in copies):
            out[a] = "duplicate"
        elif cts < src_max.get(src, cts) or cts <= cursor.get(src, cts - 1):
            out[a] = "disorder"
        else:
            out[a] = "ok"
        copies.add((src, start, cts, seq))
        src_max[src] = max(src_max.get(src, cts), cts)
    return out


CHANGE_COLS = ["arrival_seq", "source_id", "commit_ts", "start_ts", "op",
               "db", "tbl", "pk", "seq", "schema_version", "val", "row_json"]


def make_changes(spark, rows):
    """rows: list of (arrival_seq, source_id, commit_ts, op, pk[, seq[, val]])."""
    full = []
    for r in rows:
        arrival, src, cts, op, pk = r[:5]
        seq = r[5] if len(r) > 5 else 0
        val = float(r[6]) if len(r) > 6 else float(pk)
        full.append((arrival, src, cts, cts - 1, op, "db0", "t", pk, seq, 1,
                     val, '{"k": 1}'))
    return spark.createDataFrame(
        full,
        "arrival_seq long, source_id string, commit_ts long, start_ts long, "
        "op string, db string, tbl string, pk long, seq int, "
        "schema_version long, val double, row_json string")
