"""Streaming twin of the pb file-dump sink (the reference's SEGMENTED
streaming file sink).

Reference: drainer/sync/pb.go:38-120 is a *streaming* sink — every
commit binlog is appended to a segmented binlogger
(pkg/binlogfile/binlogger.go:50: ``binlog-NNNN`` segment files,
WriteTail appends CRC-framed records, rotation by size) whose replay
cursor (pb.Pos) is checkpointed after the write, with file-level
retention GC behind it. pbcodec.write_pb_dump writes the segments
(named by bucket and first/last record ts, published by atomic
rename) and pbcodec.read_pb_dump reads them back; this module is the
sink's streaming LIFECYCLE:

    readStream(landing zone) -> foreachBatch{
        resume filter -> order gate -> DDL/DML split ->
        write_pb_dump(suffix=-b<batch_id>) ->
        atomic ts checkpoint (table_sink.write_json) }

Exactly-once contract (mirrors the mysql path's downstream-checkpoint
recipe, streaming/pipeline.run_sql_apply_stream):

- segments land via tmp + atomic rename BEFORE the checkpoint file
  advances (write-then-cursor, binlogger WriteTail then pb.Pos);
- the checkpoint file itself is written atomically (tmp + rename)
  and carries a running/normal status flag exactly like the jdbc
  checkpoint's StatusRunning crash detection;
- on restart, ``recover_pb_dump`` deletes any segment whose FIRST
  record ts lies above the checkpoint — such segments can only be
  orphans of a crashed batch (every batch writes strictly above the
  previous checkpoint, so no segment straddles it) — the
  binlogger recover-scan's truncate-past-cursor, binlogfile
  corruption/tail handling (binlogger.go:504-540);
- the foreachBatch resume filter drops rows at or below the
  checkpoint, so a re-delivered micro-batch (same split or re-split
  under a fresh Spark checkpoint dir) re-writes exactly the orphaned
  tail and nothing else.

Source contract: landing segments carry WHOLE transactions (a binlog
is a txn; pump segments never split one across files), so micro-batch
boundaries are txn boundaries and the cursor (max commit-ts written)
is exact. A txn straddling two segments would be half-dropped by the
resume filter — the same contract the reference's Pos cursor assumes
of its segment files. Within a batch the gate is
``ordering.ordered_stream``, which keeps or drops each transaction
whole (the rule every applier uses).

Retention GC (``gc_pb_dump_segments``, run by whoever owns the
safepoint) drops whole segments whose LAST record ts is below the
safepoint — the reference's file-level GC granularity (pump/storage GC
deletes data below gcTS; a segment containing the safepoint is kept
whole).
"""

from __future__ import annotations

import glob
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sinks.pbcodec import _parse_segment_name, write_pb_dump
from ..sinks.table_sink import read_json, write_json
from .pipeline import start_change_stream

CKPT_FILE = "_ckpt.json"
STATUS_NORMAL = "normal"      # graceful shutdown
STATUS_RUNNING = "running"    # mid-run; on restart => crash recovery


def load_dump_checkpoint(path: str) -> tuple[int, str]:
    """(commit_ts cursor, status). A fresh dir is (-1, normal)."""
    d = read_json(os.path.join(path, CKPT_FILE),
                  {"commit_ts": -1, "status": STATUS_NORMAL})
    return int(d["commit_ts"]), d["status"]


def save_dump_checkpoint(path: str, commit_ts: int,
                         status: str = STATUS_RUNNING) -> None:
    """Atomic cursor write: the dump's pb.Pos analog."""
    write_json(os.path.join(path, CKPT_FILE),
               {"commit_ts": int(commit_ts), "status": status})


def recover_pb_dump(path: str) -> list[str]:
    """Crash recovery: when the last run did not shut down gracefully
    (status=running), delete orphaned segments — any whose first
    record ts is ABOVE the checkpoint cursor. No-op after a graceful
    stop. Returns the removed segment names."""
    os.makedirs(path, exist_ok=True)
    ck, status = load_dump_checkpoint(path)
    removed: list[str] = []
    if status == STATUS_NORMAL:
        return removed
    for fn in sorted(glob.glob(os.path.join(path, "binlog-*.pb"))):
        try:
            _bucket, first, _last = _parse_segment_name(fn)
        except (ValueError, IndexError):
            continue                    # not a streamed segment
        if first > ck:
            os.remove(fn)
            removed.append(os.path.basename(fn))
    return removed


def gc_pb_dump_segments(path: str, safepoint_ts: int) -> list[str]:
    """Retention GC: delete segments ENTIRELY below the safepoint
    (last record ts < safepoint). File-level granularity like the
    reference; a segment containing the safepoint is kept whole.
    Returns the removed segment names."""
    removed: list[str] = []
    if not os.path.isdir(path):
        return removed
    for fn in sorted(glob.glob(os.path.join(path, "binlog-*.pb"))):
        try:
            _bucket, _first, last = _parse_segment_name(fn)
        except (ValueError, IndexError):
            continue
        if last < safepoint_ts:
            os.remove(fn)
            removed.append(os.path.basename(fn))
    return removed


class FileDumpApplier:
    """The foreachBatch body of :func:`run_file_dump_stream`, factored
    out (exactly like pipeline.SqlBatchApplier) so tests and the
    crash-resume path drive batches through IDENTICAL machinery.

    Constructing the applier performs crash recovery (orphan-segment
    truncation) and flips the checkpoint to ``running``; every
    ``apply`` writes one micro-batch's segments then advances the
    cursor; ``mark_graceful`` records a clean stop."""

    def __init__(self, path: str):
        os.makedirs(path, exist_ok=True)
        self.path = path
        self.recovered = recover_pb_dump(path)
        self.resume_ts, _status = load_dump_checkpoint(path)
        save_dump_checkpoint(path, self.resume_ts, STATUS_RUNNING)

    def apply(self, batch_df: DataFrame, batch_id: int) -> None:
        from ..operators import ordering
        from ..sinks import kafka

        batch_df = batch_df.persist()
        try:
            # resume filter: strictly above the cursor — a re-delivered
            # batch (crash between segments and checkpoint) re-writes
            # only what recovery just truncated; then the order gate,
            # which keeps or drops each transaction whole
            live = ordering.ordered_stream(
                batch_df.filter(F.col("commit_ts") > self.resume_ts))
            # FAKE heartbeats advance the cursor but are never written
            # (drainer filters fake binlogs before the sinks and uses
            # them only to move the savepoint forward)
            mx = live.agg(F.max("commit_ts").alias("m")).first()["m"]
            if mx is None:
                return
            real = live.filter(F.col("op") != "FAKE")
            dml = real.filter(F.col("op") != "DDL")
            ddl = (real.filter(F.col("op") == "DDL")
                   .select("commit_ts", "db",
                           F.col("row_json").alias("ddl_sql"))
                   if "row_json" in real.columns else None)
            write_pb_dump(kafka.with_row_image(dml), self.path,
                          suffix=f"-b{batch_id}", ddls=ddl)
            self.resume_ts = int(mx)
            save_dump_checkpoint(self.path, self.resume_ts,
                                 STATUS_RUNNING)
        finally:
            batch_df.unpersist()

    def mark_graceful(self) -> None:
        """Graceful-shutdown marker: call after awaitTermination. The
        cursor keeps its value; only the status flips, so the next
        start skips the recovery scan (checkpoint Save(...,
        consistent=true))."""
        ck, _status = load_dump_checkpoint(self.path)
        save_dump_checkpoint(self.path, ck, STATUS_NORMAL)


def run_file_dump_stream(spark: SparkSession, source_dir: str,
                         dump_dir: str, checkpoint_dir: str,
                         available_now: bool = True,
                         max_files_per_trigger: int | None = None):
    """The file-archive replication path as one streaming query
    (drainer/sync/pb.go as a Structured Streaming sink). Returns
    (StreamingQuery, FileDumpApplier) — the caller awaits termination
    then calls ``applier.mark_graceful()``; a crashed run recovers on
    the next construction (orphan truncation + resume filter)."""
    applier = FileDumpApplier(dump_dir)
    return start_change_stream(spark, source_dir, applier.apply,
                               checkpoint_dir, available_now,
                               max_files_per_trigger), applier
