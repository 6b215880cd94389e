"""The one order rule (ordering.classify_disorder; the oracle's
``_ok_cte``) on a seeded synthetic stream with every shape the rule
distinguishes: multi-row transactions, same-source redeliveries
(contiguous and after another transaction), a same-source duplicate
commit_ts with another start_ts, cross-source duplicates, disorder,
and a transaction that straddles the arrival bucket. The Spark labels
equal the DuckDB ones and conftest.order_labels'; every applier's
downstream equals a model built on those labels, within one batch
and across batches."""

from __future__ import annotations

import os
import random
import re

import duckdb
import pandas as pd
import pytest

from tests.conftest import CHANGE_COLS, order_labels
from tidb_binlog_spark.operators import ordering

SOURCES = ("s0", "s1", "s2")


def _stream(seed: int) -> list[tuple]:
    """Change rows (CHANGE_COLS order). Every row inserts its own pk
    (a redelivery repeats its original's), so each downstream is the
    set of applied rows whatever the order of the applied inserts."""
    rng = random.Random(seed)
    rows, sent = [], {s: [] for s in SOURCES}
    top = {s: 0 for s in SOURCES}
    clock = [1000]
    arrival, pk = [0], [0]

    def emit(src, start, cts, body):
        for seq, p in body:
            rows.append((arrival[0], src, cts, start, "I", "db0", "t", p,
                         seq, 1, float(p), '{"k": 1}'))
            arrival[0] += 1

    def txn(src, cts=None, start=None, n=None):
        if cts is None:
            clock[0] += 10
            cts = clock[0]
        n = n or rng.randint(1, 3)
        body = [(seq, pk[0] + seq) for seq in range(n)]
        pk[0] += n
        start = cts - 1 if start is None else start
        emit(src, start, cts, body)
        sent[src].append((start, cts, body))
        top[src] = max(top[src], cts)

    def redeliver(src, back):
        emit(src, *sent[src][-back])

    for i in range(40):
        src = rng.choice(SOURCES)
        txn(src)
        if i == 5:
            redeliver(src, 1)                     # contiguous
        elif i == 9:
            txn(src)
            redeliver(src, 2)                     # after another txn
        elif i == 13:
            txn(src, cts=top[src], start=top[src] - 5)   # same source
        elif i == 17:
            other = next(s for s in SOURCES if s != src)
            txn(other, cts=top[src], start=top[src] - 3)  # cross-source
        elif i == 21:
            txn(src, cts=top[src] - 15)           # disorder
        elif i == 25:
            arrival[0] = ordering.ARRIVAL_BUCKET - 1
            txn(src, n=3)                         # straddles the bucket
        elif i == 29:
            redeliver(src, min(3, len(sent[src])))
    return rows


def _frame(spark, rows):
    return spark.createDataFrame(rows, ", ".join(
        f"{c} {t}" for c, t in zip(CHANGE_COLS, (
            "long", "string", "long", "long", "string", "string",
            "string", "long", "int", "long", "double", "string"))))


def _rule(rows, cursor=None):
    """conftest.order_labels of change rows."""
    return order_labels([(*r[:4], r[8]) for r in rows], cursor)


def _labels(df):
    return {r["arrival_seq"]: r["order_status"] for r in df.collect()}


def _duckdb_labels(rows):
    from __spark_entry__ import _ok_cte
    con = duckdb.connect()
    con.register("changes", pd.DataFrame(rows, columns=CHANGE_COLS))
    out = con.sql(f"WITH {_ok_cte()} SELECT arrival_seq, order_status "
                  "FROM flagged").fetchall()
    return dict(out)


@pytest.mark.parametrize("seed", [0, 1])
def test_spark_duckdb_and_model_labels_agree(spark, seed):
    rows = _stream(seed)
    want = _rule(rows)
    assert set(want.values()) == {"ok", "duplicate", "disorder"}
    straddle = [r for r in rows if r[0] >= ordering.ARRIVAL_BUCKET - 1][:3]
    assert len({r[2] for r in straddle}) == 1 and want[straddle[-1][0]] == "ok"
    assert _duckdb_labels(rows) == want
    ch = _frame(spark, rows)
    carry = ordering.carry_from_maxima(ordering.bucket_maxima(ch).collect())
    assert carry
    for supplied in (None, carry):
        assert _labels(ordering.classify_disorder(ch, carry=supplied)) == want
    cursor = {"s0": rows[len(rows) // 2][2], "s2": 1000}
    assert (_labels(ordering.classify_disorder(ch, cursor=cursor))
            == _rule(rows, cursor))


def _cuts(rows, n):
    """Split arrival-ordered rows into n batches at transaction
    boundaries (a landing segment carries whole transactions)."""
    edges = [i for i in range(1, len(rows))
             if rows[i][1:4] != rows[i - 1][1:4]]
    picks = sorted(random.Random(len(rows)).sample(edges, n - 1))
    return [rows[lo:hi] for lo, hi in zip([0, *picks], [*picks, len(rows)])]


def _resume_model(batches):
    """The SQL and file-dump appliers: each batch drops rows at or
    below the cursor, gates the rest, and moves the cursor to its max
    commit_ts. Returns the applied (commit_ts, pk) rows."""
    resume, applied = -1, set()
    for b in batches:
        fresh = [r for r in b if r[2] > resume]
        labels = _rule(fresh)
        applied |= {(r[2], r[7]) for r in fresh if labels[r[0]] == "ok"}
        resume = max([resume, *(r[2] for r in fresh)])
    return applied


def _ivm_model(batches):
    """The view applier (streaming/ivm.py): the batch plus the pending
    zone is gated with the per-source applied cursor; ok rows at or
    below the min-watermark apply, later ones park; each cursor moves
    to its source's max seen commit_ts, capped below its min parked
    one; the end-of-stream flush applies the pending zone. Returns
    the applied pks and the dead-letter counts."""
    seen, cursor, wm, pending = {}, {}, None, []
    applied, dead = set(), {}

    def gate(rows):
        labels = _rule(rows, cursor)
        for r in rows:
            if labels[r[0]] != "ok":
                dead[labels[r[0]]] = dead.get(labels[r[0]], 0) + 1
        return [r for r in rows if labels[r[0]] == "ok"]

    for b in batches:
        combined = b + pending
        for r in combined:
            seen[r[1]] = max(seen.get(r[1], r[2]), r[2])
        wm = max(min(seen.values()), wm or -1)
        ok = gate(combined)
        applied |= {r[7] for r in ok if r[2] <= wm}
        pending = [r for r in ok if r[2] > wm]
        for s, m in seen.items():
            parked = [r[2] for r in pending if r[1] == s]
            if parked:
                m = min(m, min(parked) - 1)
            cursor[s] = max(cursor.get(s, m), m)
    applied |= {r[7] for r in gate(pending)}
    return applied, dead


@pytest.mark.parametrize("n_batches", [1, 3])
@pytest.mark.parametrize("safe", [True, False], ids=["safe", "strict"])
def test_sql_batch_applier_matches_the_model(spark, tmp_path, n_batches,
                                             safe):
    import sqlite3

    from tidb_binlog_spark.operators import safe_mode as sm
    from tidb_binlog_spark.sinks import jdbc
    from tidb_binlog_spark.streaming.pipeline import SqlBatchApplier

    rows = _stream(11)
    db_dir = str(tmp_path / "db")
    applier = SqlBatchApplier(
        db_dir, setup_sql=("CREATE TABLE IF NOT EXISTS t "
                           "(pk INTEGER PRIMARY KEY, val REAL)",),
        window=sm.SafeModeWindow(duration_s=300.0 if safe else 0.0))
    batches = _cuts(rows, n_batches)
    for b in batches:
        applier.apply(_frame(spark, b))
    conn = sqlite3.connect(os.path.join(db_dir, jdbc.SHARED_DB_NAME))
    got = [pk for pk, in conn.execute("SELECT pk FROM t ORDER BY pk")]
    conn.close()
    assert got == sorted(pk for _, pk in _resume_model(batches))


@pytest.mark.parametrize("n_batches", [1, 3])
def test_file_dump_applier_matches_the_model(spark, tmp_path, n_batches):
    from tidb_binlog_spark.sinks import pbcodec
    from tidb_binlog_spark.streaming.file_dump_stream import FileDumpApplier

    rows = _stream(12)
    dump = str(tmp_path / "dump")
    applier = FileDumpApplier(dump)
    batches = _cuts(rows, n_batches)
    for bid, b in enumerate(batches):
        applier.apply(_frame(spark, b), bid)
    got = sorted((r["commit_ts"], r["pk"])
                 for r in pbcodec.read_pb_dump(spark, dump).collect())
    assert got == sorted(_resume_model(batches))


def test_file_dump_applier_writes_what_ordered_stream_keeps(spark, tmp_path):
    """On the sf0.01 change stream, whose sources repeat commit_ts
    under another start_ts: the dump holds exactly the rows of
    ordering.ordered_stream (9,787 of 10,000)."""
    from tests.test_gates_both_sides import SF
    from tidb_binlog_spark.sinks import pbcodec
    from tidb_binlog_spark.sources.changestream import change_stream
    from tidb_binlog_spark.streaming.file_dump_stream import FileDumpApplier

    ch = change_stream(spark, SF)
    dump = str(tmp_path / "dump")
    FileDumpApplier(dump).apply(ch, 0)
    assert pbcodec.read_pb_dump(spark, dump).count() == 9787
    assert ordering.ordered_stream(ch).count() == 9787


@pytest.mark.parametrize("n_batches", [1, 3])
def test_ivm_stream_matches_the_model(spark, tmp_path, n_batches):
    from tidb_binlog_spark.streaming.ivm import (MaterializedAggregate,
                                                 run_ivm_stream)

    rows = _stream(13)
    src = str(tmp_path / "src")
    batches = _cuts(rows, n_batches)
    for b in batches:
        _frame(spark, b).coalesce(1).write.mode("append").parquet(src)
    state = str(tmp_path / "state")
    run_ivm_stream(spark, src, state, str(tmp_path / "ckpt"),
                   max_files_per_trigger=1,
                   group_keys=("db", "tbl", "pk")).awaitTermination(180)
    view = MaterializedAggregate(spark, state, group_keys=("db", "tbl", "pk"))
    view.flush()
    want, dead = _ivm_model(batches)
    assert sorted(r["pk"] for r in view.read().collect()) == sorted(want)
    assert view._checkpoint()["audit"] == dead


def test_ivm_capped_cursor_repasses_parked_rows(spark, tmp_path):
    """s0's two-row txn at 100 and its txn at 200 park above the
    watermark (s1 has only shown 50), so s0's cursor stops at 99 and
    both re-pass the gate once s1 moves on. Then s0 redelivers the
    txn at 200, at its cursor: disorder, dropped. s1's 500 parks in
    turn, so s1's cursor stops at 499."""
    from tidb_binlog_spark.streaming.ivm import MaterializedAggregate

    def row(a, src, cts, pk, seq=0):
        return (a, src, cts, cts - 1, "I", "db0", "t", pk, seq, 1,
                float(pk), "{}")

    batches = [
        [row(0, "s0", 100, 1), row(1, "s0", 100, 2, 1),
         row(2, "s0", 200, 3), row(3, "s1", 50, 4)],
        [row(4, "s1", 300, 5)],
        [row(5, "s0", 200, 3), row(6, "s0", 400, 6), row(7, "s1", 500, 7)],
    ]
    view = MaterializedAggregate(spark, str(tmp_path / "v"),
                                 group_keys=("db", "tbl", "pk"))
    cursors = []
    for bid, b in enumerate(batches):
        view.apply_batch(_frame(spark, b), bid)
        cursors.append(view._checkpoint()["applied_max"])
    assert cursors == [{"s0": 99, "s1": 50}, {"s0": 200, "s1": 299},
                       {"s0": 400, "s1": 499}]
    assert sorted(r["pk"] for r in view.read().collect()) == [1, 2, 3, 4, 5, 6]
    assert [(r["arrival_seq"], r["order_status"])
            for r in view.dead_letter().collect()] == [(5, "disorder")]
    view.flush()                        # s1's 500 re-passes at cursor 499
    assert sorted(r["pk"] for r in view.read().collect()) == [1, 2, 3, 4, 5,
                                                              6, 7]
    assert _ivm_model(batches) == ({1, 2, 3, 4, 5, 6, 7}, {"disorder": 1})


def _exchanges(df) -> tuple[int, int]:
    """(shuffle, broadcast) exchange nodes of the physical plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    nodes = re.findall(r"[+:-] (\w*Exchange) ", plan)
    return nodes.count("Exchange"), nodes.count("BroadcastExchange")


def test_gate_plan_keeps_its_exchanges(spark):
    """The gate's shuffle budget: two hash exchanges, one per
    partitioning (source and arrival bucket; commit_ts, which the
    redelivery window's superset key reuses). Deriving the carry in
    the plan adds its aggregate's two and one broadcast. A cursor adds
    none."""
    rows = _stream(0)
    ch = _frame(spark, rows)
    carry = ordering.carry_from_maxima(ordering.bucket_maxima(ch).collect())
    assert _exchanges(ordering.ordered_stream(ch)) == (4, 1)
    assert _exchanges(ordering.ordered_stream(ch, carry=carry)) == (2, 0)
    assert _exchanges(ordering.ordered_stream(
        ch, carry=carry, cursor={"s0": 5})) == (2, 0)
    assert _exchanges(ordering.ordered_stream(ch, carry={})) == (2, 0)
