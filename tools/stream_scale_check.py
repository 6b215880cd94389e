"""End-to-end STREAMING apply at a derived scale (default .scale/sf1
= 10x sf0.1, ~1M change events): drive the three streaming twins over
a real multi-segment change landing zone and assert each maintained
state equals its batch recompute over the same stream —

  1. run_sql_apply_stream  (executed-SQL replication, SQLite shared
     sink, causality-routed workers, auto safe-mode window)
  2. run_ivm_stream        (maintained per-(db,tbl) aggregate)
  3. run_scd2_stream       (maintained SCD Type-2 history)

The streaming twins' evidence was fixture-scale only before r9
(VERDICT r8 item 7); this measures them at 10x and records wall time
per stream — the SCALING.md streaming row is produced by this tool.

The change stream's (db, tbl) is pre-routed to a single-namespace
``db_tbl`` sink table name before landing: the SQLite dialect is
table-name-only (no schemas), so cross-db key collisions must be
resolved by routing — exactly the table router's job in a real
topology (drainer route-rules; operators/router.py).

Equality checks run in Spark (two-sided exceptAll), never by
collecting the 10x state to the driver.

Usage: python tools/stream_scale_check.py [SF_DIR] [N_SEGMENTS]
Prints one JSON line {"metric": "stream_scale_check", ...}.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from tidb_binlog_spark.cache import release_all
from tidb_binlog_spark.operators import ordering
from tidb_binlog_spark.operators.compaction import apply_snapshot
from tidb_binlog_spark.operators.incremental_agg import (
    coherent_changelog, maintain_group_aggregates)
from tidb_binlog_spark.operators.scd2 import scd2_history
from tidb_binlog_spark.session import get_spark
from tidb_binlog_spark.sinks import jdbc
from tidb_binlog_spark.sources.changestream import change_stream
from tidb_binlog_spark.streaming import pipeline
from tidb_binlog_spark.streaming.ivm import (MaterializedAggregate,
                                             MaterializedSCD2,
                                             run_ivm_stream,
                                             run_scd2_stream)

STREAM_COLS = ["arrival_seq", "source_id", "commit_ts", "start_ts",
               "op", "db", "tbl", "pk", "seq", "schema_version",
               "val", "row_json"]


def _frames_equal(a, b) -> bool:
    cols = sorted(a.columns)
    a, b = a.select(*cols), b.select(*cols)
    return a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        ".scale", "sf1")
    n_segments = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    # "sql" runs only stream 1, the SQL-apply leg
    only = sys.argv[3] if len(sys.argv) > 3 else "all"
    # Aggressive periodic ContextCleaner GC: with a 48g driver heap,
    # driver GC almost never fires on its own, so shuffle files and
    # superseded localCheckpoint blocks from dozens of micro-batches
    # accumulate on disk until the default 30-min periodic GC — at
    # 100M events that filled the disk mid-run (r11). 45s keeps the
    # local dirs bounded by ~one batch's working set.
    spark = get_spark("stream_scale_check",
                      extra_conf={
                          "spark.cleaner.periodicGC.interval": "45s"})
    work = tempfile.mkdtemp(prefix="stream_scale_")
    out: dict = {"metric": "stream_scale_check", "sf_dir": sf_dir,
                 "n_segments": n_segments}
    try:
        # -- land the scaled change stream as contiguous arrival-seq
        #    segments (pump segment files); tbl pre-routed to db_tbl
        ch = (change_stream(spark, sf_dir)
              .withColumn("tbl", F.concat_ws("_", "db", "tbl"))
              .select(*STREAM_COLS))
        # profile-mode relief valve: with no sink catalog wired the
        # SQL-apply path never reads row_json, and carrying the full
        # image through a 100M-event landing put this host's 24g heap
        # over the edge (r12 OOM during the segment writes). Blanked
        # images change no apply semantics; absolute ev/s is recorded
        # as profile-mode, not compared against image-carrying runs.
        if os.environ.get("STREAM_SCALE_BLANK_ROWJSON"):
            ch = ch.withColumn("row_json", F.lit("{}"))
            out["row_json_blanked"] = True
            # bound the cached partition size too: the parquet-split
            # partitioning leaves ~40 partitions at 100M events, and
            # a deserialized cache read of 2.5M-row partitions x 32
            # concurrent tasks OOM'd the 24g heap (r12, stage-256
            # trio) — 512 cached partitions keep each task ~200k rows
            ch = ch.repartition(512)
        ch = ch.persist()
        n = ch.count()
        # the '_' join is ambiguous in general ((a, b_c) and (a_b, c)
        # collide, silently merging keyspaces on BOTH sides of the
        # equality check) — assert routed names are bijective with
        # (db, tbl) on THIS corpus before landing anything
        n_routed = ch.select("tbl").distinct().count()
        n_pairs = (change_stream(spark, sf_dir)
                   .select("db", "tbl").distinct().count())
        if n_routed != n_pairs:
            raise SystemExit(
                f"routed table names not bijective with (db, tbl): "
                f"{n_routed} routed vs {n_pairs} pairs — pick a "
                f"collision-free join character for this corpus")
        out["n_events"] = int(n)
        # deployment shuffle sizing (tools/common, shared with
        # scale_proof) — at 100M events the fixed 32-partition
        # default gave per-task footprints that OOM'd a 48g heap
        # mid-stream (r11)
        from tools.common import shuffle_partitions_for
        parts = shuffle_partitions_for(int(n))
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        out["shuffle_partitions"] = parts
        hi = ch.agg(F.max("arrival_seq")).first()[0] + 1
        src = os.path.join(work, "src")
        os.makedirs(src)
        cut = hi // n_segments + 1
        for i in range(n_segments):
            # repartition, not coalesce: coalesce(4) drains the whole
            # cached segment through 4 tasks whose parquet read-ahead
            # buffers OOM'd a 24g heap at 100M events (r12, twice);
            # the shuffle keeps the read side at full parallelism
            (ch.filter((F.col("arrival_seq") >= i * cut)
                       & (F.col("arrival_seq") < (i + 1) * cut))
             .repartition(4).write.mode("append").parquet(src))
        sources = tuple(sorted(
            r["source_id"] for r in ch.select("source_id")
            .distinct().collect()))
        tables = sorted(r["tbl"] for r in ch.select("tbl")
                        .distinct().collect())
        # landing + audits above were the multi-scan phase the persist
        # amortizes; drop the cache BEFORE the streams run. At 100M
        # events the cached (row_json-carrying) frame plus streaming
        # internals plus 32 Arrow workers exceeded HOST memory (kernel
        # OOM-killed the 48g JVM, r11); the later batch-equality
        # frames recompute from the memoized parquet lineage in one
        # scan each instead.
        ch.unpersist()

        # -- 1. executed-SQL replication ------------------------------
        db_dir = os.path.join(work, "db")
        setup = tuple(
            f"CREATE TABLE IF NOT EXISTS `{t}` "
            f"(pk INTEGER PRIMARY KEY, val REAL)" for t in tables)
        # CONFIGURED safe mode (drainer.toml `safe-mode = true`,
        # drainer/config.go + syncer.go), not just the 5-min auto
        # window: the derived change stream deliberately carries
        # redelivery-shaped traffic (I onto live rows, U onto missing
        # rows — ~15% each, see SCALING.md r11), so only the
        # idempotent REPLACE / DELETE+REPLACE rewrite applies it
        # coherently. Every pre-r11 run was green only because its
        # wall-clock fit inside the auto window; at 1000x (100M
        # events) the window expired mid-stream and strict INSERT
        # correctly failed on a duplicate key — recorded in ROUNDLOG
        # r11. Making the flag explicit pins the semantics (and the
        # measured ev/s) independent of run length.
        from tidb_binlog_spark.operators import safe_mode as sm
        t0 = time.time()
        q = pipeline.run_sql_apply_stream(
            spark, src, db_dir, os.path.join(work, "ck_sql"),
            num_workers=4, setup_sql=setup,
            safe_window=sm.SafeModeWindow(configured=True))
        q.awaitTermination(3600)
        sql_apply_raw = time.time() - t0
        out["sql_apply_sec"] = round(sql_apply_raw, 2)
        got_sql = None
        for t in tables:
            part = jdbc.read_applied(spark, db_dir, f"`{t}`",
                                     ["pk", "val"]) \
                .withColumn("tbl", F.lit(t))
            got_sql = part if got_sql is None else got_sql.unionByName(part)
        want_sql = (apply_snapshot(ordering.ordered_stream(ch))
                    .select("tbl", "pk", "val"))
        out["sql_match"] = _frames_equal(got_sql, want_sql)

        if only == "sql":
            out["events_per_s_sql_apply"] = round(n / max(sql_apply_raw,
                                                          1e-6))
            release_all()
            print(json.dumps(out))
            if not out.get("sql_match"):
                raise SystemExit("stream/batch mismatch: "
                                 + json.dumps(out))
            return

        # -- 2. maintained aggregate (IVM) ----------------------------
        t0 = time.time()
        q = run_ivm_stream(spark, src, os.path.join(work, "ivm_state"),
                           os.path.join(work, "ck_ivm"),
                           sources=sources)
        q.awaitTermination(3600)
        view = MaterializedAggregate(spark, os.path.join(work, "ivm_state"),
                                     sources=sources)
        view.flush()            # sources complete: drain the parked tail
        out["ivm_sec"] = round(time.time() - t0, 2)
        got_ivm = view.read().select("db", "tbl", "n_rows", "sum_val")
        want_ivm = maintain_group_aggregates(
            coherent_changelog(ordering.ordered_stream(ch)),
            ["db", "tbl"]).select("db", "tbl", "n_rows", "sum_val")
        out["ivm_match"] = _frames_equal(got_ivm, want_ivm)

        # -- 3. maintained SCD2 history -------------------------------
        t0 = time.time()
        q = run_scd2_stream(spark, src, os.path.join(work, "scd2_state"),
                            os.path.join(work, "ck_scd2"),
                            sources=sources)
        q.awaitTermination(3600)
        view2 = MaterializedSCD2(spark, os.path.join(work, "scd2_state"),
                                 sources=sources)
        view2.flush()
        out["scd2_sec"] = round(time.time() - t0, 2)
        cols = ["db", "tbl", "pk", "val", "valid_from", "valid_to",
                "is_current"]
        got_scd2 = view2.read().select(*cols)
        want_scd2 = scd2_history(ordering.ordered_stream(ch)).select(*cols)
        out["scd2_match"] = _frames_equal(got_scd2, want_scd2)

        # -- state-size audit: the twins' cross-batch state must be
        # O(sources + live PKs + groups), never O(events) — events are
        # many VERSIONS of the same PKs, so these counts staying put
        # while n_events grows 10x/100x is the bounded-state proof
        def _state_sizes(root: str) -> dict:
            ckp = os.path.join(root, "view_checkpoint.json")
            if not os.path.exists(ckp):
                return {}
            with open(ckp) as fh:
                ck = json.load(fh)
            sizes = {"n_source_cursors": len(ck.get("seen_max", {})),
                     "state_version": ck.get("version")}
            for prefix in ("agg", "hist", "pkstate", "pending"):
                p = os.path.join(root, f"{prefix}_v{ck['version']}")
                if os.path.exists(p):
                    sizes[f"{prefix}_rows"] = spark.read.parquet(p).count()
            return sizes

        out["ivm_state"] = _state_sizes(os.path.join(work, "ivm_state"))
        out["scd2_state"] = _state_sizes(os.path.join(work, "scd2_state"))
        # distinct live PKs in the stream, the pkstate bound
        out["n_live_pks"] = ch.select("db", "tbl", "pk").distinct().count()

        # rate from the UNROUNDED duration (a sub-5ms apply on a tiny
        # fixture rounds sql_apply_sec to 0.0)
        out["events_per_s_sql_apply"] = round(n / max(sql_apply_raw, 1e-6))
        release_all()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(out))
    if not (out.get("sql_match") and out.get("ivm_match")
            and out.get("scd2_match")):
        raise SystemExit("stream/batch mismatch: " + json.dumps(out))


if __name__ == "__main__":
    main()
