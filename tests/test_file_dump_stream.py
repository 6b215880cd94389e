"""Streaming file-dump sink (streaming/file_dump_stream): the
reference's segmented streaming pb sink (drainer/sync/pb.go:38-120,
pkg/binlogfile/binlogger.go:50) as a foreachBatch twin.

Pins: (1) stream output == batch write_pb_dump under ANY micro-batch
split, including DDL records and FAKE-heartbeat cursor advance;
(2) crash between segment write and checkpoint recovers exactly-once
(orphan truncation + resume filter), at stream level AND under a
re-split replay; (3) name-driven retention GC and checkpoint
lifecycle."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from tidb_binlog_spark.sinks import kafka, pbcodec
from tidb_binlog_spark.streaming import file_dump_stream as fds

CHANGE_DDL = ("arrival_seq long, source_id string, commit_ts long, "
              "start_ts long, op string, db string, tbl string, pk long, "
              "seq int, schema_version long, val double, row_json string")


def _rows(n=240):
    """n change rows: multi-row txns (3 rows per commit_ts), I/U/D mix,
    a FAKE heartbeat every 40th txn, a DDL every 25th txn."""
    out = []
    arrival = 0
    for t in range(n // 3):
        cts = 1_000_000 + t * 1000
        if t and t % 40 == 0:
            out.append((arrival, "p0", cts, cts - 1, "FAKE", "db0", "t",
                        0, 0, 1, 0.0, None))
            arrival += 1
            continue
        if t and t % 25 == 0:
            out.append((arrival, "p0", cts, cts - 1, "DDL", "db0", "t",
                        0, 0, 1, 0.0,
                        f"ALTER TABLE t ADD c{t} INT"))
            arrival += 1
            continue
        for s in range(3):
            i = t * 3 + s
            op = "IUD"[i % 3]
            out.append((arrival, "p0", cts, cts - 1, op, "db0", "t",
                        i % 50, s, 1, float(i),
                        '{"k": "v%d"}' % (i % 7)))
            arrival += 1
    return out


def _frame(spark, rows):
    return spark.createDataFrame(rows, CHANGE_DDL)


def _landing(spark, rows, src, n_files=4):
    """Landing-zone segments with deterministic arrival order: each
    chunk written separately then renamed seg<j>.parquet so the file
    source consumes them in commit order (segments from a pump land
    time-ordered)."""
    import glob
    import shutil
    os.makedirs(src, exist_ok=True)
    # split on TXN boundaries: a landing segment carries whole
    # binlogs (the pump-segment contract — a txn never straddles
    # segment files), which the sink's cursor semantics rely on
    by_txn: dict[int, list] = {}
    for r in rows:
        by_txn.setdefault(r[2], []).append(r)
    txn_groups = [by_txn[ts] for ts in sorted(by_txn)]
    per = (len(txn_groups) + n_files - 1) // n_files
    for j in range(n_files):
        chunk = [r for g in txn_groups[j * per:(j + 1) * per] for r in g]
        if not chunk:
            continue
        tmp = src + f".tmp{j}"
        _frame(spark, chunk).coalesce(1).write.mode("overwrite") \
            .parquet(tmp)
        part = glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        shutil.move(part, os.path.join(src, f"seg{j:02d}.parquet"))
        shutil.rmtree(tmp)


def _batch_reference(spark, rows, path):
    """The BATCH dump of the same change set (the parity oracle)."""
    ch = _frame(spark, rows)
    dml = ch.filter(~F.col("op").isin("DDL", "FAKE"))
    ddl = (ch.filter(F.col("op") == "DDL")
           .select("commit_ts", "db", F.col("row_json").alias("ddl_sql")))
    pbcodec.write_pb_dump(kafka.with_row_image(dml), path, ddls=ddl)


def _dml_set(spark, path):
    return sorted(tuple(r) for r in
                  pbcodec.read_pb_dump(spark, path).collect())


def _ddl_set(spark, path):
    return sorted(tuple(r) for r in
                  pbcodec.read_pb_dump_ddl(spark, path).collect())


def test_stream_equals_batch_dump_any_split(spark, tmp_path):
    rows = _rows()
    batch_path = str(tmp_path / "batch_dump")
    _batch_reference(spark, rows, batch_path)
    want_dml, want_ddl = _dml_set(spark, batch_path), \
        _ddl_set(spark, batch_path)
    assert len(want_dml) > 100 and len(want_ddl) >= 2

    for split, mfpt in ((1, 1), (2, 2), (3, None)):   # 4, 2, 1 batches
        src = str(tmp_path / f"src{split}")
        dump = str(tmp_path / f"stream_dump{split}")
        ckpt = str(tmp_path / f"ckpt{split}")
        _landing(spark, rows, src)
        q, applier = fds.run_file_dump_stream(
            spark, src, dump, ckpt, max_files_per_trigger=mfpt)
        q.awaitTermination(180)
        applier.mark_graceful()
        assert _dml_set(spark, dump) == want_dml
        assert _ddl_set(spark, dump) == want_ddl
        # the cursor reached the stream's max ts (FAKE rows advance it)
        ck, status = fds.load_dump_checkpoint(dump)
        assert ck == max(r[2] for r in rows)
        assert status == fds.STATUS_NORMAL


def _fail_nth_checkpoint_save(monkeypatch, nth):
    """Make the nth checkpoint save from now on raise: a crash between
    a batch's segment write and its checkpoint."""
    save = fds.save_dump_checkpoint
    calls = 0

    def failing_save(*args, **kwargs):
        nonlocal calls
        calls += 1
        if calls == nth:
            raise RuntimeError(
                "chaos: crash between segment write and checkpoint")
        save(*args, **kwargs)

    monkeypatch.setattr(fds, "save_dump_checkpoint", failing_save)


def test_stream_crash_before_checkpoint_resumes_exactly_once(
        spark, tmp_path, monkeypatch):
    """Kill between segment write and checkpoint, at stream level: the
    restarted query (same Spark checkpoint dir) re-delivers the failed
    micro-batch, recovery truncates the orphaned segments, and the
    final dump equals the batch dump exactly once."""
    rows = _rows()
    src = str(tmp_path / "src")
    dump = str(tmp_path / "dump")
    ckpt = str(tmp_path / "ckpt")
    batch_path = str(tmp_path / "batch_dump")
    _landing(spark, rows, src)
    _batch_reference(spark, rows, batch_path)

    # the applier's constructor saves once, so batch 2's save is the
    # 3rd call
    _fail_nth_checkpoint_save(monkeypatch, 3)
    q, applier = fds.run_file_dump_stream(
        spark, src, dump, ckpt, max_files_per_trigger=1)
    with pytest.raises(Exception):
        q.awaitTermination(180)
    monkeypatch.undo()
    # crashed mid-run: batch 2's segments exist but are NOT covered by
    # the cursor
    ck_crash, status = fds.load_dump_checkpoint(dump)
    assert status == fds.STATUS_RUNNING
    orphans = [fn for fn in os.listdir(dump) if fn.endswith(".pb")
               and fds._parse_segment_name(fn)[1] > ck_crash]
    assert orphans, "the crashed batch must have left orphan segments"

    q2, applier2 = fds.run_file_dump_stream(
        spark, src, dump, ckpt, max_files_per_trigger=1)
    q2.awaitTermination(180)
    applier2.mark_graceful()
    assert sorted(applier2.recovered) == sorted(orphans)
    assert _dml_set(spark, dump) == _dml_set(spark, batch_path)
    assert _ddl_set(spark, dump) == _ddl_set(spark, batch_path)


def test_direct_applier_crash_then_resplit_replay(spark, tmp_path,
                                                  monkeypatch):
    """The harder recovery shape: the re-delivered data arrives in a
    DIFFERENT micro-batch split (fresh Spark checkpoint dir after a
    hard driver death). The resume filter + orphan truncation still
    yield exactly-once."""
    rows = _rows()
    # split on txn boundaries (the landing-segment contract)
    cut1 = max(i for i in range(1, len(rows))
               if rows[i][2] != rows[i - 1][2] and i <= len(rows) // 3)
    cut2 = max(i for i in range(1, len(rows))
               if rows[i][2] != rows[i - 1][2] and i <= 2 * len(rows) // 3)
    b1, b2, b3 = rows[:cut1], rows[cut1:cut2], rows[cut2:]
    dump = str(tmp_path / "dump")
    batch_path = str(tmp_path / "batch_dump")
    _batch_reference(spark, rows, batch_path)

    applier = fds.FileDumpApplier(dump)
    applier.apply(_frame(spark, b1), 0)
    _fail_nth_checkpoint_save(monkeypatch, 1)
    with pytest.raises(RuntimeError, match="chaos"):
        applier.apply(_frame(spark, b2), 1)
    monkeypatch.undo()

    # restart with a DIFFERENT split: b2+b3 arrive as ONE batch
    applier2 = fds.FileDumpApplier(dump)
    assert applier2.recovered          # b2's orphans truncated
    assert applier2.resume_ts == max(r[2] for r in b1)
    applier2.apply(_frame(spark, b2 + b3), 0)
    applier2.mark_graceful()
    assert _dml_set(spark, dump) == _dml_set(spark, batch_path)
    assert _ddl_set(spark, dump) == _ddl_set(spark, batch_path)


def test_retention_gc_and_checkpoint_lifecycle(spark, tmp_path):
    rows = _rows(120)
    dump = str(tmp_path / "dump")
    applier = fds.FileDumpApplier(dump)
    half = max(i for i in range(1, len(rows))
               if rows[i][2] != rows[i - 1][2] and i <= len(rows) // 2)
    applier.apply(_frame(spark, rows[:half]), 0)
    applier.apply(_frame(spark, rows[half:]), 1)
    applier.mark_graceful()

    segs = sorted(fn for fn in os.listdir(dump) if fn.endswith(".pb"))
    assert len(segs) >= 2
    # safepoint at the stream midpoint: only segments wholly below go
    safepoint = rows[half][2]
    removed = fds.gc_pb_dump_segments(dump, safepoint)
    kept = sorted(fn for fn in os.listdir(dump) if fn.endswith(".pb"))
    assert sorted(removed + kept) == segs and removed
    for fn in kept:
        assert fds._parse_segment_name(fn)[2] >= safepoint
    # the surviving records are exactly the batch records >= safepoint
    # minus any txn whose segment was swept whole (file-level GC keeps
    # a segment containing the safepoint whole — coarse, like the
    # reference); here every removed segment is wholly below
    live = pbcodec.read_pb_dump(spark, dump)
    assert live.agg(F.min("commit_ts")).first()[0] < safepoint \
        or live.count() > 0
    for fn in removed:
        assert fds._parse_segment_name(fn)[2] < safepoint
    # graceful checkpoint survives GC; recovery after graceful = no-op
    ck, status = fds.load_dump_checkpoint(dump)
    assert status == fds.STATUS_NORMAL and ck == max(r[2] for r in rows)
    assert fds.recover_pb_dump(dump) == []
