"""Kill-and-resume campaign for the 100M-event SQL-apply stream
(VERDICT r11 item 2): crash recovery was proven only at fixture scale
(test_sql_apply_stream_chaos_crash_ddl_uk_relay) and the r11 1000x
campaign showed threshold-gated defects are real. This harness
hard-kills (os._exit(137), the SIGKILL analog that skips every
finally/atexit) the streaming DRIVER at two points and proves the
resumed state equals the batch recompute:

  phase 1  BETWEEN micro-batches (kill ``before:k``): the
           previous batch is fully committed (rows + downstream
           checkpoint, sinks/jdbc.CKPT_TABLE), the next one touched
           nothing, not even the relay WAL;
  phase 2  INSIDE a micro-batch (kill ``after:k``): the
           batch is in the relay WAL but nothing is applied and no
           checkpoint moved (the drainer's crash-with-WAL window,
           drainer/relay.go); phase 2's own start first REPLAYS
           phase 1's lost window from the relay feed
           (feed_sql_by_relay_if_needed, relay.go feedByRelayLogIfNeed);
  phase 3  clean restart -> runs to completion, graceful
           mark_consistent.

The child process installs each kill itself (``_install_kill``) by
wrapping engine methods before its stream starts; the engine has no
crash hooks of its own.

Every restart uses a FRESH Spark checkpoint dir: recovery must come
from the DOWNSTREAM checkpoint table + relay feed alone (reference
semantics: drainer/checkpoint/mysql.go:100-165 + drainer/relay.go),
never from Spark's offset log. Safe mode runs CONFIGURED
(drainer.toml safe-mode = true) like every sf100 stream run since
r11 — the derived stream carries ~15% redelivery-shaped traffic, so
the idempotent rewrite is required in steady state; the auto-window
branch (status=crash -> 5-min window) is therefore bypassed by
config, and each phase records the status byte it found instead.

Usage: python tools/stream_kill_resume.py [SF_DIR] [N_SEGMENTS] [STREAM]
(default .scale/sf10 = 10M events for a rehearsal; the campaign run
is .scale/sf100). Prints one JSON line.

STREAM selects which streaming twin takes the kills (VERDICT r12
item 5 extends the campaign beyond sql):
  sql   (default) executed-SQL replication — recovery from the
        DOWNSTREAM checkpoint table + relay feed alone; every restart
        gets a FRESH Spark checkpoint dir (reference semantics,
        drainer/checkpoint/mysql.go + drainer/relay.go).
  ivm   MaterializedAggregate; scd2  MaterializedSCD2. These views'
        recovery contract is different by design: Spark's offset log
        re-delivers the in-flight batch with the SAME batch_id and
        the view absorbs it via overwrite-idempotent versioned dirs +
        one atomic JSON checkpoint (last_batch_id guard), so restarts
        REUSE the stream's checkpoint dir — that contract is what the
        kills prove, with phase 2 dying in the torn-version window
        (every v+1 dir written, checkpoint still at v).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

STREAM_COLS = ["arrival_seq", "source_id", "commit_ts", "start_ts",
               "op", "db", "tbl", "pk", "seq", "schema_version",
               "val", "row_json"]


def _install_kill(stream: str, kill: str) -> None:
    """Hard-kill this driver with os._exit(137) at batch call k of
    this process. ``kill`` is ``before:k`` (on entering the call) or
    ``after:k`` (inside it: sql right after its relay WAL write, which
    every downstream write waits for; ivm/scd2 once every v+1 dir is
    written, before the view checkpoint leaves v). Calls are counted,
    not commit_ts thresholds: multi-source interleave puts high
    commit_ts into early batches, so a ts threshold can fire before
    anything committed."""
    from tidb_binlog_spark.sinks.relay import RelayLog
    from tidb_binlog_spark.streaming.ivm import _StreamView
    from tidb_binlog_spark.streaming.pipeline import SqlBatchApplier

    when, k = kill.split(":")
    k = int(k)
    calls = 0
    cls, name = ((SqlBatchApplier, "apply") if stream == "sql"
                 else (_StreamView, "apply_batch"))
    batch = getattr(cls, name)

    def counted(*args, **kwargs):
        nonlocal calls
        calls += 1
        if when == "before" and calls >= k:
            os._exit(137)
        return batch(*args, **kwargs)

    setattr(cls, name, counted)
    if when != "after":
        return
    if stream == "sql":
        append = RelayLog.append

        def append_then_die(self, df):
            append(self, df)
            if calls >= k:
                os._exit(137)

        RelayLog.append = append_then_die
    else:
        save = _StreamView._commit

        def die_before_save(self, ck):
            if calls >= k:
                os._exit(137)
            save(self, ck)

        _StreamView._commit = die_before_save


def _child(work: str, phase: int, kill: str | None) -> int:
    """one stream attempt in THIS process (invoked as a subprocess so
    the kill can take the whole driver down)."""
    from pyspark.sql import functions as F

    from tidb_binlog_spark.operators import safe_mode as sm
    from tidb_binlog_spark.session import get_spark
    from tidb_binlog_spark.sinks.relay import RelayLog
    from tidb_binlog_spark.streaming import pipeline
    from tidb_binlog_spark.streaming.ivm import (run_ivm_stream,
                                                 run_scd2_stream)
    from tools.common import shuffle_partitions_for

    with open(os.path.join(work, "meta.json")) as fh:
        meta = json.load(fh)
    stream = meta.get("stream", "sql")
    spark = get_spark(f"kill_resume_p{phase}",
                      extra_conf={
                          "spark.cleaner.periodicGC.interval": "45s"})
    spark.conf.set("spark.sql.shuffle.partitions",
                   str(shuffle_partitions_for(meta["n_events"])))
    if kill:
        _install_kill(stream, kill)
    if stream == "ivm":
        q = run_ivm_stream(
            spark, os.path.join(work, "src"),
            os.path.join(work, "view_state"),
            os.path.join(work, "ck_view"),     # REUSED across phases
            sources=tuple(meta["sources"]),
            max_files_per_trigger=meta["files_per_segment"])
        q.awaitTermination(7200)
        return 0
    if stream == "scd2":
        q = run_scd2_stream(
            spark, os.path.join(work, "src"),
            os.path.join(work, "view_state"),
            os.path.join(work, "ck_view"),     # REUSED across phases
            sources=tuple(meta["sources"]),
            max_files_per_trigger=meta["files_per_segment"])
        q.awaitTermination(7200)
        return 0
    setup = tuple(
        f"CREATE TABLE IF NOT EXISTS `{t}` "
        f"(pk INTEGER PRIMARY KEY, val REAL)" for t in meta["tables"])
    q = pipeline.run_sql_apply_stream(
        spark, os.path.join(work, "src"), os.path.join(work, "db"),
        os.path.join(work, f"ck_{phase}"),
        num_workers=4, setup_sql=setup,
        safe_window=sm.SafeModeWindow(configured=True),
        relay_dir=os.path.join(work, "relay"),
        max_files_per_trigger=meta["files_per_segment"])
    q.awaitTermination(7200)
    RelayLog(os.path.join(work, "relay")).mark_consistent()
    return 0


def main() -> None:
    if len(sys.argv) > 1 and sys.argv[1].startswith("--child"):
        sys.exit(_child(sys.argv[2], int(sys.argv[3]),
                        sys.argv[4] if len(sys.argv) > 4 else None))

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        repo, ".scale", "sf10")
    n_segments = int(sys.argv[2]) if len(sys.argv) > 2 else 16
    stream = sys.argv[3] if len(sys.argv) > 3 else "sql"
    if stream not in ("sql", "ivm", "scd2"):
        raise SystemExit(f"unknown stream {stream!r} (sql|ivm|scd2)")

    from pyspark.sql import functions as F

    from tidb_binlog_spark.operators import ordering
    from tidb_binlog_spark.operators.compaction import apply_snapshot
    from tidb_binlog_spark.session import get_spark
    from tidb_binlog_spark.sinks import jdbc
    from tidb_binlog_spark.sources.changestream import change_stream

    spark = get_spark("kill_resume_parent")
    work = tempfile.mkdtemp(prefix="kill_resume_")
    out: dict = {"metric": "stream_kill_resume", "sf_dir": sf_dir,
                 "n_segments": n_segments, "stream": stream}
    try:
        # -- land segments (same shape as tools/stream_scale_check).
        # row_json is blanked: with no sink catalog wired the apply
        # path never reads it, and carrying the full image through
        # landing + relay WAL at 100M events costs ~25 GB of the
        # 58 GB free disk this campaign has to live in.
        ch = (change_stream(spark, sf_dir)
              .withColumn("tbl", F.concat_ws("_", "db", "tbl"))
              .withColumn("row_json", F.lit("{}"))
              .select(*STREAM_COLS)).persist()
        n = ch.count()
        # size the PARENT's shuffles too: the equality exceptAll at
        # 100M events under the default 32 partitions built 6144-task
        # plans (~25 min of scheduling, r12) — data-sized partitions
        # before any equality frame is constructed
        from tools.common import shuffle_partitions_for
        spark.conf.set("spark.sql.shuffle.partitions",
                       str(shuffle_partitions_for(int(n))))
        tables = sorted(r["tbl"] for r in
                        ch.select("tbl").distinct().collect())
        sources = sorted(r["source_id"] for r in
                         ch.select("source_id").distinct().collect())
        hi = ch.agg(F.max("arrival_seq")).first()[0] + 1
        src = os.path.join(work, "src")
        os.makedirs(src)
        cut = hi // n_segments + 1
        files_per_segment = 4
        for i in range(n_segments):
            # repartition, not coalesce: a single-partition source
            # (small sf dirs) would otherwise land 1 file/segment and
            # halve the micro-batch count under maxFilesPerTrigger
            (ch.filter((F.col("arrival_seq") >= i * cut)
                       & (F.col("arrival_seq") < (i + 1) * cut))
             .repartition(files_per_segment)
             .write.mode("append").parquet(src))
        out["n_events"] = int(n)
        ch.unpersist()

        with open(os.path.join(work, "meta.json"), "w") as fh:
            json.dump({"n_events": int(n), "tables": tables,
                       "sources": sources, "stream": stream,
                       "files_per_segment": files_per_segment}, fh)

        def run_phase(phase: int, kill: str | None = None) -> dict:
            env = dict(os.environ)
            env["SPARK_DRIVER_MEM"] = os.environ.get(
                "SPARK_DRIVER_MEM", "24g")
            t0 = time.time()
            rc = subprocess.call(
                [sys.executable, os.path.abspath(__file__),
                 "--child", work, str(phase), *([kill] if kill else [])],
                env=env, cwd=repo)
            rec = {"rc": rc, "sec": round(time.time() - t0, 2)}
            if stream == "sql":
                ck, status = jdbc.load_checkpoint(os.path.join(work, "db"))
                rec.update({"checkpoint_ts": int(ck), "status": status})
            else:
                ckp = os.path.join(work, "view_state",
                                   "view_checkpoint.json")
                if os.path.exists(ckp):
                    with open(ckp) as fh:
                        vck = json.load(fh)
                    rec.update({
                        "view_version": vck.get("version"),
                        "last_batch_id": vck.get("last_batch_id"),
                        "watermark": vck.get("watermark")})
            return rec

        if os.environ.get("KILL_RESUME_CLEAN"):
            # headline mode (r13): ONE clean child over this
            # harness's proven landing — the rate convention of the
            # r11 1000x table on a host where stream_scale_check's
            # own sf100 landing OOMs.
            # No kills; equality still gates below.
            out["phase3_clean"] = run_phase(3)
            out["events_per_s_clean"] = round(
                n / max(out["phase3_clean"]["sec"], 1e-6))
            out["kills_effective"] = out["phase3_clean"]["rc"] == 0
        else:
            # kill thresholds are batch-call indices: phase 1 dies
            # entering its (~30%)th batch with the previous ones fully
            # committed; phase 2 replays the crashed window (call #1)
            # then dies inside a later batch — after the relay WAL
            # write (sql) / after every v+1 state dir is written but
            # before the atomic view checkpoint (ivm/scd2: the
            # torn-version window).
            k1 = max(2, n_segments * 3 // 10)
            k2 = max(3, n_segments * 4 // 10)
            out["kill_batch_indices"] = {"phase1": k1, "phase2": k2}
            out["phase1_kill_between"] = run_phase(1, f"before:{k1}")
            out["phase2_kill_inside"] = run_phase(2, f"after:{k2}")
            out["phase3_clean"] = run_phase(3)
            out["kills_effective"] = (
                out["phase1_kill_between"]["rc"] == 137
                and out["phase2_kill_inside"]["rc"] == 137
                and out["phase3_clean"]["rc"] == 0)

        # -- equality: resumed state == batch recompute
        ch2 = (change_stream(spark, sf_dir)
               .withColumn("tbl", F.concat_ws("_", "db", "tbl"))
               .select(*STREAM_COLS))
        if stream == "sql":
            got = None
            for t in tables:
                part = jdbc.read_applied(spark, os.path.join(work, "db"),
                                         f"`{t}`", ["pk", "val"]) \
                    .withColumn("tbl", F.lit(t))
                got = part if got is None else got.unionByName(part)
            want = (apply_snapshot(ordering.ordered_stream(ch2))
                    .select("tbl", "pk", "val"))
            out["final_checkpoint_ts"] = \
                out["phase3_clean"]["checkpoint_ts"]
        elif stream == "ivm":
            from tidb_binlog_spark.operators.incremental_agg import (
                coherent_changelog, maintain_group_aggregates)
            from tidb_binlog_spark.streaming.ivm import MaterializedAggregate
            view = MaterializedAggregate(
                spark, os.path.join(work, "view_state"),
                sources=tuple(sources))
            view.flush()        # sources complete: drain the parked tail
            got = view.read().select("db", "tbl", "n_rows", "sum_val")
            want = maintain_group_aggregates(
                coherent_changelog(ordering.ordered_stream(ch2)),
                ["db", "tbl"]).select("db", "tbl", "n_rows", "sum_val")
        else:
            from tidb_binlog_spark.operators.scd2 import scd2_history
            from tidb_binlog_spark.streaming.ivm import MaterializedSCD2
            view = MaterializedSCD2(spark,
                                    os.path.join(work, "view_state"),
                                    sources=tuple(sources))
            view.flush()
            cols_scd2 = ["db", "tbl", "pk", "val", "valid_from",
                         "valid_to", "is_current"]
            got = view.read().select(*cols_scd2)
            want = scd2_history(
                ordering.ordered_stream(ch2)).select(*cols_scd2)
        cols = sorted(want.columns)
        a, b = got.select(*cols), want.select(*cols)
        out["state_match"] = (a.exceptAll(b).isEmpty()
                              and b.exceptAll(a).isEmpty())
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))
    if not (out.get("state_match") and out.get("kills_effective")):
        raise SystemExit("kill-resume FAILED: " + json.dumps(out))


if __name__ == "__main__":
    main()
