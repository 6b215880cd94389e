"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

Implementation lives in ``tidb_binlog_spark/``; every query here maps
to an operator row in SURVEY.md §2.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tidb_binlog_spark.session import load_tables
from tidb_binlog_spark.sources.changestream import (CHANGES_CTE, change_stream,
                                                    wide_stream)
from tidb_binlog_spark.operators import compaction, ordering, filters, router
from tidb_binlog_spark.operators import pc_match, safe_mode, schema_evolution
from tidb_binlog_spark.functions import text as textfn
from tidb_binlog_spark.functions import dedup as dedupfn
from tidb_binlog_spark.functions import similarity as simfn
from tidb_binlog_spark.functions import oracle_sql as osql
from tidb_binlog_spark.functions import scoring
from tidb_binlog_spark.functions import checksum as cksum
from tidb_binlog_spark.functions import multimodal as mm
from tidb_binlog_spark.functions import kvcodec
from tidb_binlog_spark.operators import causality, ddl, batching, scd2
from tidb_binlog_spark.operators import telemetry
from tidb_binlog_spark.operators import incremental_agg
from tidb_binlog_spark.plans.pipeline import ReplicationConfig, build_pipeline
from tidb_binlog_spark.sinks import kafka, pbcodec, sqlgen, payload
from tidb_binlog_spark.functions import bpe

SF0001 = "/root/testdata/sf0.001"


# docs whose text is pure ASCII (1 byte per char): queries whose
# DuckDB oracle mirrors byte-level Spark work via char codes apply
# this predicate on BOTH sides so the equivalence holds by
# construction on any corpus (escape-free char-code test — regex
# escape handling differs between the engines' string literals)
ASCII_ONLY_PRED = "NOT exists(split(text, ''), ch -> ascii(ch) > 127)"


def _scratch_dir(name: str) -> str:
    """Per-process scratch directory for queries that write an
    intermediate dump (pb files) before reading it back. Wiped and
    recreated on every call (repeated bench/correctness runs reuse
    one path instead of accumulating mkdtemp directories); the pid
    suffix keeps concurrent sessions from wiping each other's
    in-flight dumps, and an atexit hook removes the tree on clean
    process exit."""
    import atexit
    import shutil
    import tempfile
    path = os.path.join(tempfile.gettempdir(),
                        f"spark_graft_scratch_{name}_{os.getpid()}")
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    return path

# ---------------------------------------------------------------------------
# shared oracle SQL building blocks (DuckDB side of the shared semantics)
# ---------------------------------------------------------------------------

def _ok_cte(rel: str = "changes", suffix: str = "") -> str:
    """``flagged{suffix}``: the rows of ``rel`` with classify_disorder's
    ``order_status`` (operators/ordering.py: the order rule, by
    transaction); ``ok{suffix}``: the appliable ones, with ``rel``'s
    columns."""
    return f"""
flagged{suffix} AS (
  SELECT * EXCLUDE (first_src, first_start, copy_rank, prev_max_ts),
    CASE WHEN first_src IS DISTINCT FROM source_id
              OR first_start IS DISTINCT FROM start_ts
              OR copy_rank > 1 THEN 'duplicate'
         WHEN commit_ts < prev_max_ts THEN 'disorder'
         ELSE 'ok' END AS order_status
  FROM (
    SELECT c.*,
      MAX(commit_ts) OVER (PARTITION BY source_id ORDER BY arrival_seq
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        AS prev_max_ts,
      FIRST_VALUE(source_id) OVER w_ts AS first_src,
      FIRST_VALUE(start_ts) OVER w_ts AS first_start,
      ROW_NUMBER() OVER (PARTITION BY source_id, start_ts, commit_ts, seq
                         ORDER BY arrival_seq) AS copy_rank
    FROM {rel} c
    WINDOW w_ts AS (PARTITION BY commit_ts ORDER BY arrival_seq, source_id))
),
ok{suffix} AS (
  SELECT * EXCLUDE (order_status) FROM flagged{suffix}
  WHERE order_status = 'ok'
)
"""


_OK_CTE = _ok_cte()


def _spark_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    return change_stream(spark, sf_dir)


def _assert_single_partition_plan(df: DataFrame) -> None:
    """Assert the frame's analyzed plan pins it to ONE partition: the
    nearest repartition-class node is Repartition(1), reached through
    narrow nodes only (Project, Filter, SubqueryAlias, and a Sort
    within partitions) — the precondition for treating
    monotonically_increasing_id as an append-order rank. Anything else
    above it (an Aggregate, Window, global Sort, Join, ...) may shuffle
    the frame back out to N partitions. Plan walk only: no job, no AQE
    finalization."""
    node = df._jdf.queryExecution().analyzed()
    while True:
        name = node.getClass().getSimpleName()
        if name in ("Repartition", "RepartitionByExpression"):
            n = node.numPartitions()
            if n != 1:
                raise AssertionError(
                    f"append-order offsets need a single-partition "
                    f"frame; plan pins {n} partitions via {name}")
            return
        # Sort.global is a Python keyword: reach the accessor by name
        narrow = (name in ("Project", "Filter", "SubqueryAlias")
                  or (name == "Sort" and not getattr(node, "global")()))
        if not narrow:
            raise AssertionError(
                "append-order offsets need a single-partition frame; "
                f"no Repartition(1) below narrow nodes (stopped at {name})")
        node = node.children().apply(0)


# ---------------------------------------------------------------------------
# query implementations (Spark side)
# ---------------------------------------------------------------------------

def q_cdc_snapshot_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full spine: source -> order gate (dup/disorder) -> compact -> apply."""
    ok = ordering.ordered_stream(_spark_changes(spark, sf_dir))
    return compaction.apply_snapshot(ok)


def q_cdc_order_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    tagged = ordering.classify_disorder(_spark_changes(spark, sf_dir))
    return tagged.groupBy("source_id").agg(
        F.count(F.when(F.col("order_status") == "ok", 1)).alias("n_ok"),
        F.count(F.when(F.col("order_status") == "disorder", 1)).alias("n_disorder"),
        F.count(F.when(F.col("order_status") == "duplicate", 1)).alias("n_duplicate"),
        F.max("commit_ts").alias("source_max_ts"),
    )


def q_cdc_kway_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    merged = ordering.kway_merge(_spark_changes(spark, sf_dir))
    return merged.select("arrival_seq", "source_id", "commit_ts", "op")


def q_cdc_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD Type-2 version table from the ordered stream: each change
    opens [valid_from, valid_to); a DELETE closes without opening.
    One lead window per key — single PK-keyed shuffle."""
    ok = ordering.ordered_stream(_spark_changes(spark, sf_dir))
    return scd2.scd2_history(ok).select(
        "db", "tbl", "pk", "val", "valid_from", "valid_to", "is_current")


def q_cdc_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-travel read at T = max(commit_ts)/2 — a pure filter over
    the SCD2 history (reparo PITR: replay to stop-tso). The oracle
    derives the same state INDEPENDENTLY, by last-image-wins apply of
    only the changes with commit_ts <= T."""
    ch = _spark_changes(spark, sf_dir)
    ok = ordering.ordered_stream(ch)
    hist = scd2.scd2_history(ok)
    t = ch.agg(F.floor(F.max("commit_ts") / 2)
               .cast("long").alias("t_as_of"))
    return (scd2.snapshot_as_of(hist.crossJoin(F.broadcast(t)),
                                F.col("t_as_of"))
            .select("db", "tbl", "pk", "val",
                    "valid_from", "t_as_of"))


# Retired r3 (driver 50-slot correctness window; VERDICT r2 item 1).
# Each retired query's operator keeps live driver evidence elsewhere:
#   cdc_filter_allow_block / cdc_event_filter / cdc_ignore_ts /
#   cdc_route_tables  -> composed verbatim inside cdc_full_pipeline
#                        (same rules wired through ReplicationConfig)
#   cdc_truncated_drop -> cdc_partition_route labels the same retired
#                        physical ids 'orphan' (id 101 truncated away)
#   cdc_merged_ops    -> cdc_wide_row_apply applies the identical
#                        merge.go rules over the richer map model
#   cdc_pc_unmatched  -> folded into cdc_pc_match (pc_status column)
#   cdc_checkpoint_ts + cdc_heartbeat_progress -> cdc_progress
#   cdc_timezone_format -> folded into cdc_type_format (tz columns)
#   cdc_arbiter_dedup -> folded into sink_payload_roundtrip
#   sink_obinlog_payload -> exercised inside sink_payload_roundtrip;
#                        full message shape in sink_obinlog_wide
#   sink_sql_oracle_dialect -> folded into sink_sql_generation
#   text_{token_count,quality,lang_id,repetition,normalize} -> text_profile
#   mm_decode_meta + mm_frame_sample -> mm_assets
#   events_value_by_type -> warm-up-only aggregate; snapshot_* cover
#                        the snapshot-analytics shape
#
# Rotation r4 (VERDICT r3 item 10: indirect surfaces re-earn a driver
# row at least every other round): cdc_truncated_drop /
# dedup_minhash_clusters / dedup_simhash rotate BACK IN; retired to
# make room (each r2+r3+r4-green, operator re-verified elsewhere):
#   cdc_update_images -> old/new image handling verified by
#                        cdc_wide_row_apply + sink_sql_wide (NULL-safe
#                        WHERE in the wide statement builder)
#   cdc_event_counters -> the counter aggregate shape inside
#                        cdc_order_audit + cdc_txn_batches
#   snapshot_top_customers -> TakeOrderedAndProject top-k; plan
#                        contract kept in tests (test_scale_contracts)


def _pc_frames(spark: SparkSession, sf_dir: str):
    ch = _spark_changes(spark, sf_dir)
    prewrites = ch.select("start_ts", "arrival_seq", "pk", "val")
    commits = (ch.filter(F.col("arrival_seq") % 20 != 19)
               .select("start_ts",
                       F.col("commit_ts").alias("commit_ts"),
                       (F.col("arrival_seq") % 20 == 18).alias("is_rollback")))
    return prewrites, commits


def q_cdc_pc_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full sorter outcome per prewrite (pump/storage/sorter.go:89-239):
    matched (C arrived, payload flows on) vs pending (parked, pins the
    checkpoint). Rolled-back txns are dropped entirely — absent here.
    Merged r3: subsumes the former cdc_pc_unmatched query."""
    p, c = _pc_frames(spark, sf_dir)
    matched = pc_match.match_pc(p, c).select(
        "start_ts", "arrival_seq", "pk", "val", "commit_ts",
        F.lit("matched").alias("pc_status"))
    pending = pc_match.unmatched_prewrites(p, c).select(
        "start_ts", "arrival_seq", "pk", "val",
        F.lit(None).cast("long").alias("commit_ts"),
        F.lit("pending").alias("pc_status"))
    return matched.unionByName(pending)


def q_cdc_progress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Progress surface in one view (merged r3: former cdc_checkpoint_ts
    + cdc_heartbeat_progress): per-source heartbeat/apply accounting
    (pump/server.go:467-526) plus the global savepoint, which cannot
    pass the earliest unresolved prewrite (drainer/syncer.go:199-286)."""
    ch = _spark_changes(spark, sf_dir)
    hb = ch.withColumn(
        "op", F.when(F.col("arrival_seq") % 25 == 0, F.lit("FAKE"))
               .otherwise(F.col("op")))
    per_source = batching.heartbeat_progress(hb).select(
        F.lit("source").alias("scope"), "source_id", "n_applied",
        "n_heartbeats", F.col("checkpoint_ts").alias("progress_ts"),
        "last_applied_ts")
    p, c = _pc_frames(spark, sf_dir)
    pending = pc_match.unmatched_prewrites(p, c)
    global_row = ordering.checkpoint_ts(ch, pending).select(
        F.lit("global").alias("scope"),
        F.lit(None).cast("string").alias("source_id"),
        F.lit(None).cast("long").alias("n_applied"),
        F.lit(None).cast("long").alias("n_heartbeats"),
        F.col("checkpoint_ts").alias("progress_ts"),
        F.lit(None).cast("long").alias("last_applied_ts"))
    return per_source.unionByName(global_row)


_TSO = 1 << 18  # ts -> TSO with physical_ms == ts (oracle.ExtractPhysical)


def q_cdc_txn_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parked prewrites classified by the txn-status resolver
    (pump/storage/storage.go:431-558): the MVCC/lock-resolver answer
    set is derived deterministically from the stream (pk arithmetic),
    timestamps are lifted to TSO scale so the young-txn timeout uses
    the reference's physical-time extraction (ts >> 18)."""
    from tidb_binlog_spark.operators import txn_resolver
    ch = _spark_changes(spark, sf_dir)
    p, c = _pc_frames(spark, sf_dir)
    pending = (pc_match.unmatched_prewrites(p, c)
               .select((F.col("start_ts") * _TSO).alias("start_ts"),
                       "arrival_seq", "pk"))
    status = (ch.filter((F.col("arrival_seq") % 20 == 19)
                        & (F.col("pk") % 4 != 3))
              .select(
                  (F.col("start_ts") * _TSO).alias("start_ts"),
                  F.when(F.col("pk") % 4 == 0, F.lit("committed"))
                   .when(F.col("pk") % 4 == 1, F.lit("rollback"))
                   .otherwise(F.lit("lock")).alias("status"),
                  F.when(F.col("pk") % 8 == 0,
                         F.col("start_ts") * _TSO - 1)      # sanity-fail case
                   .when(F.col("pk") % 4 == 0,
                         F.col("start_ts") * _TSO + 5)
                   .alias("commit_ts")))
    latest = ch.agg(F.max("commit_ts")).first()[0] * _TSO
    out = txn_resolver.resolve_txn_status(pending, status, latest,
                                          max_txn_timeout_s=30)
    return out.select("start_ts", "arrival_seq", "pk", "action",
                      "resolved_commit_ts")


def q_cdc_update_pk_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    ch = _spark_changes(spark, sf_dir).withColumn(
        "old_pk",
        F.when((F.col("op") == "U") & (F.col("arrival_seq") % 7 == 0),
               F.col("pk") + 1))
    out = safe_mode.split_pk_change(ch)
    return out.select("arrival_seq", "commit_ts", "seq", "sub_seq", "op", "pk")


def q_cdc_safe_mode(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = safe_mode.safe_mode_rewrite(_spark_changes(spark, sf_dir))
    return out.select("arrival_seq", "commit_ts", "seq", "sub_seq", "op", "pk")


def _evo_registry() -> schema_evolution.SchemaRegistry:
    reg = schema_evolution.SchemaRegistry()
    reg.add_version("ptest", 1, {"note": "x"})
    reg.add_version("ptest", 2, {"note": "x", "k": "42"})
    return reg


def q_cdc_schema_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    ch = _spark_changes(spark, sf_dir).filter(F.col("tbl") == "ptest")
    out = schema_evolution.backfill_defaults(ch, _evo_registry(), "ptest")
    return out.select("arrival_seq", "schema_version", "note", "k")


# the ordered DDL job stream the catalog is REPLAYED from
# (drainer/schema.go:360-561): create -> truncate -> add col -> add col
# -> drop col -> rename, at fixed commit timestamps.
SCHEMA_REPLAY_DDL = [
    (5,     "CREATE TABLE ptest (k VARCHAR DEFAULT '0')"),
    (8000,  "TRUNCATE TABLE ptest"),
    (20000, "ALTER TABLE ptest ADD COLUMN tag VARCHAR DEFAULT 'none'"),
    (40000, "ALTER TABLE ptest ADD COLUMN note VARCHAR DEFAULT 'x'"),
    (60000, "ALTER TABLE ptest DROP COLUMN note"),
    (70000, "ALTER TABLE ptest RENAME COLUMN tag TO label"),
    (80000, "RENAME TABLE ptest TO qtest"),
]


def q_cdc_schema_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Catalog built FROM the DDL stream (not hand-fed), then used to
    decode the DML stream: version stamping by commit_ts interval,
    truncated-incarnation drop, add/drop-column back-fill, rename."""
    reg = schema_evolution.SchemaRegistry()
    reg.apply_ddl_events(SCHEMA_REPLAY_DDL)
    ch = _spark_changes(spark, sf_dir).filter(F.col("tbl") == "ptest")
    out = schema_evolution.decode_with_replay(ch, reg, "ptest", spark)
    return out.select("arrival_seq", "commit_ts", "active_version",
                      "target_tbl", "k", "label")


# switched on floor(arrival_seq / 50) % 14 because cdc_ddl_stream
# gates on arrival_seq % 50 == 0: under that gate EVERY branch below
# is reachable (the old `arrival_seq % 250` switch silently dead-ended
# five of its ten WHENs — multiples of 50 mod 250 only hit 0/50/.../200)
DDL_CASE = """
CASE CAST(floor(arrival_seq / 50) AS BIGINT) % 14
  WHEN 0   THEN 'ALTER TABLE t ADD COLUMN c INT'
  WHEN 1   THEN 'ALTER TABLE t TRUNCATE PARTITION p0'
  WHEN 2   THEN 'DROP TABLE old_t'
  WHEN 3   THEN 'CREATE SEQUENCE seq START WITH 1'
  WHEN 4   THEN 'CREATE PLACEMENT POLICY p FOLLOWERS=4'
  WHEN 5   THEN 'DROP DATABASE legacy'
  WHEN 6   THEN 'TRUNCATE TABLE t'
  WHEN 7   THEN 'LOCK TABLES t WRITE'
  WHEN 8   THEN 'ALTER TABLE t ADD PARTITION (PARTITION p2 VALUES LESS THAN (10))'
  WHEN 9   THEN 'ALTER TABLE t ATTRIBUTES=''merge_option=deny'''
  WHEN 10  THEN 'ALTER TABLE `my t` ADD COLUMN (a INT, b VARCHAR(10) DEFAULT ''x'')'
  WHEN 11  THEN 'ALTER TABLE t ADD COLUMN a INT, ADD COLUMN b INT AFTER a'
  WHEN 12  THEN 'ALTER TABLE t CHANGE COLUMN a b BIGINT NOT NULL'
  ELSE 'CREATE INDEX idx ON t(c)'
END
"""


def q_cdc_full_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole drainer dataflow from one declarative config — order
    gate, ignore-ts, allow/block, event rules, routing, compaction as a
    single Catalyst plan."""
    cfg = ReplicationConfig(
        do_tables=[("db0", ""), ("db1", ""), ("~^db[23]$", "")],
        ignore_tables=[("db2", "ntest")],
        event_rules=[("~.*", "ptest", ["D"])],
        ignore_commit_ts=[500],
        route_rules=[("db?", "ptest", "dwh", "t_p"), ("*", "?test", "dwh", "t_other")],
        compact=True,
    )
    out = build_pipeline(_spark_changes(spark, sf_dir), cfg)
    return out.select("db", "tbl", "target_db", "target_tbl", "pk",
                      "commit_ts", "op", "val")


def q_cdc_ddl_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    ch = (_spark_changes(spark, sf_dir)
          .filter(F.col("arrival_seq") % 50 == 0)
          .withColumn("ddl_sql", F.expr(DDL_CASE)))
    out = ddl.prep_for_apply(ch)
    return out.select("arrival_seq", "db", "ddl_sql", "ddl_kind",
                      "should_skip", "apply_sql")


def _partition_catalog():
    """Bindings after a replayed partition-DDL history: ptest/itest/ntest
    hash-partitioned 4/4/3 ways; ptest p1 was TRUNCATEd (old id 101
    retired, new id 110 bound); ntest never had a p3 (ids 303 orphan)."""
    from tidb_binlog_spark.operators import partitions
    cat = partitions.PartitionCatalog()
    for base, tbl, n in ((100, "ptest", 4), (200, "itest", 4), (300, "ntest", 3)):
        for i in range(n):
            cat.bind(tbl, f"p{i}", base + i)
    cat.truncate_partition("ptest", "p1", 110, commit_ts=0)
    return cat


def q_cdc_partition_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Physical-partition-id resolution: mutations tagged with the
    physical id of their hash partition; TRUNCATE PARTITION retired one
    id (late binlogs become orphans), one partition never existed."""
    from tidb_binlog_spark.operators import partitions
    ch = _spark_changes(spark, sf_dir).withColumn(
        "physical_id",
        F.when(F.col("tbl") == "ptest", 100)
         .when(F.col("tbl") == "itest", 200)
         .otherwise(300) + F.col("pk") % 4)
    dim = _partition_catalog().dimension(spark)
    out = partitions.resolve_partitions(ch, dim)
    return out.select("arrival_seq", "physical_id", "db", "logical_tbl",
                      "partition_name", "partition_status")


def q_cdc_truncated_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutations under pre-truncate physical table ids are dropped
    (drainer/syncer.go:744-762): ids derived as tbl-base + pk%4, with
    the ptest/p1 incarnation (id 101) truncated away."""
    ch = _spark_changes(spark, sf_dir).withColumn(
        "table_id",
        F.when(F.col("tbl") == "ptest", 100)
         .when(F.col("tbl") == "itest", 200)
         .otherwise(300) + F.col("pk") % 4)
    kept = filters.drop_truncated_tables(ch, [101, 203])
    return kept.select("arrival_seq", "table_id", "tbl", "pk")


def q_cdc_loopback_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    ch = _spark_changes(spark, sf_dir)
    marked = (ch
              .withColumn("db", F.when(F.col("arrival_seq") % 31 == 0,
                                       F.lit("retl")).otherwise(F.col("db")))
              .withColumn("tbl", F.when(F.col("arrival_seq") % 31 == 0,
                                        F.lit("_drainer_repl_mark"))
                          .otherwise(F.col("tbl"))))
    kept = batching.loopback_filter(marked)
    return kept.select("arrival_seq", "commit_ts", "db", "tbl")


def q_cdc_txn_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    ch = _spark_changes(spark, sf_dir)
    batched = batching.assign_txn_batches(ch, max_dmls=60)
    return batched.groupBy("batch_no").agg(
        F.countDistinct("commit_ts").alias("n_txns"),
        F.count(F.lit(1)).alias("n_dmls"),
        F.min("commit_ts").alias("min_ts"),
        F.max("commit_ts").alias("max_ts"))


def q_cdc_event_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    return batching.event_counters(_spark_changes(spark, sf_dir))


def q_cdc_type_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sink-side type formatting (translator/mysql.go:252-294
    formatData, kafka.go:227-294 DatumToColumn): temporal -> string
    through the sink TZ, decimal stringified, json extracted, double ->
    integer via explicit floor, unsigned bigint re-interpreted from its
    signed storage (DECIMAL(20,0)), BIT payload -> integer, enum/set
    numeric <-> name round trips (functions/typemap.py)."""
    from tidb_binlog_spark.functions import typemap
    load_tables(spark, sf_dir, "events")
    ev = spark.table("events").selectExpr(
        "*",
        # signed storage of an unsigned bigint: odd event_ids carry a
        # top-bit-set (negative int64) payload — fixType territory.
        "CASE WHEN event_id % 2 = 1 THEN -1 - event_id * 1000 "
        "ELSE event_id * 1000 END AS ubig_signed",
        # BIT(16) payload as a 2-byte binary column
        "unhex(lpad(hex(user_id % 65536), 4, '0')) AS bit_bin",
        "array('red','green','blue') AS enum_elems",
        "CAST(event_id % 4 AS INT) AS enum_idx",
        "CAST(user_id % 8 AS BIGINT) AS set_mask")
    ev = (ev.withColumn("enum_name",
                        typemap.enum_name("enum_elems", "enum_idx"))
            .withColumn("set_names_col",
                        typemap.set_names("enum_elems", "set_mask")))
    return ev.select(
        "event_id",
        F.expr("CAST(timestamp_micros(ts div 1000) AS STRING)").alias("ts_str"),
        F.expr("CAST(CAST(value AS DECIMAL(20,4)) AS STRING)").alias("value_decimal_str"),
        F.expr("get_json_object(props, '$.k')").alias("json_k"),
        F.expr("CAST(floor(value) AS BIGINT)").alias("value_floor_int"),
        F.expr("""CASE event_type WHEN 'click' THEN 1 WHEN 'view' THEN 2
           WHEN 'purchase' THEN 3 WHEN 'signup' THEN 4 ELSE 5 END""")
        .alias("event_type_enum"),
        typemap.unsigned_bigint("ubig_signed").cast("string").alias("ubig_str"),
        typemap.bit_to_decimal("bit_bin").cast("string").alias("bit_int_str"),
        "enum_name",
        typemap.enum_value("enum_elems", "enum_name").alias("enum_back"),
        F.col("set_names_col").alias("set_names"),
        typemap.set_value("enum_elems", "set_names_col").alias("set_back"),
        # sink time_zone rendering (merged r3: former cdc_timezone_format;
        # drainer/sync/mysql.go:184-233 str2TimezoneOrFromDB + formatData
        # temporal-as-string): the same instant under MySQL offset strings
        # (validated/normalized) and a named IANA zone.
        typemap.format_timestamp_tz(F.col("ts"), "+00:00").alias("utc_ts"),
        typemap.format_timestamp_tz(F.col("ts"), "+05:30").alias("ist_ts"),
        typemap.format_timestamp_tz(F.col("ts"), "-6:00").alias("cst_ts"),
        typemap.format_timestamp_tz(F.col("ts"), "Asia/Kolkata")
            .alias("kolkata_ts"))


# the drainer-side column info the KV decode runs against
# (model.TableInfo slice; pk is the int handle, k has a default,
# u is unsigned -> fixType territory)
KV_INFO = kvcodec.KVTableInfo(
    columns=(kvcodec.ColInfo(1, "pk", "long"),
             kvcodec.ColInfo(2, "val", "double"),
             kvcodec.ColInfo(3, "k", "string", default="dk"),
             kvcodec.ColInfo(4, "u", "ulong"),
             kvcodec.ColInfo(5, "d10", "decimal"),
             kvcodec.ColInfo(6, "dur", "duration")),
    pk_handle_id=1)

KV_INFO_UPD = kvcodec.KVTableInfo(
    columns=KV_INFO.columns[:3], pk_handle_id=1)


def _kv_src(spark: SparkSession, sf_dir: str) -> DataFrame:
    from tidb_binlog_spark.functions.text import spread
    ch = _spark_changes(spark, sf_dir)
    k = F.coalesce(F.get_json_object("row_json", "$.k"), F.lit("nk"))
    # fan the narrow 4-column frame across cores before the Python
    # encode/decode roundtrip: the single-file fixture otherwise runs
    # the whole mapInPandas chain in ONE task (spread() no-ops on
    # well-split real inputs)
    return spread(ch.select("arrival_seq", "pk", "val", k.alias("k")))


def q_cdc_kv_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TiDB KV insert-row decode over REAL pump-format bytes: the
    change stream is encoded into `[handle][row body]` values — every
    third row in ROW FORMAT V2 (rowcodec, version byte 128; TiDB >=
    4.0's default), the rest in the old `[colID, datum]...` pairs —
    then decoded back against the column info with per-row format
    dispatch (tablecodec.DecodeRowToDatumMap semantics): pk-is-handle
    back-fill, NULL datums, missing-col default back-fill, unsigned
    fixType (translator.go:40-123). The oracle states the expected
    decode output directly from the stream; equality proves
    encode∘decode == the declared row semantics for BOTH formats."""
    raw = kvcodec.encode_insert_stream(_kv_src(spark, sf_dir), KV_INFO)
    out = kvcodec.decode_insert_stream(raw, KV_INFO)
    # DECIMAL(20,0) -> STRING for the compare surface only: DuckDB's
    # pandas bridge degrades DECIMAL to float64 (precision loss at
    # uint64 range); the operator itself keeps the decimal type.
    return out.withColumn("u", F.col("u").cast("string"))


def q_cdc_kv_decode_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DecodeOldAndNewRow over real bytes: flat [colID, value] pairs,
    first occurrence = old image, second = new, missing columns
    default-filled in BOTH images (translator.go:229-350)."""
    raw = kvcodec.encode_update_stream(_kv_src(spark, sf_dir), KV_INFO_UPD)
    return kvcodec.decode_update_stream(raw, KV_INFO_UPD)


# delete rows carry no handle prefix, so the pk is an ordinary column
KV_INFO_DEL = kvcodec.KVTableInfo(columns=KV_INFO.columns[:3])


def q_cdc_kv_decode_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    """deleteRowToRow over real bytes (kafka.go:171-196,
    mysql.go:88-105): a delete mutation's value is the FULL OLD ROW
    with no handle prefix, decoded via DecodeRowToDatumMap — mixed
    old-format/v2 stream like the insert path, with NULL datums and
    missing-column default back-fill."""
    raw = kvcodec.encode_delete_stream(_kv_src(spark, sf_dir), KV_INFO_DEL)
    return kvcodec.decode_delete_stream(raw, KV_INFO_DEL)


def q_cdc_update_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Update events carrying old+new images with NULL-safe WHERE
    generation (pkg/loader/model.go:247-261)."""
    ch = (_spark_changes(spark, sf_dir)
          .filter(F.col("op") == "U")
          .withColumn("old_val",
                      F.when(F.col("arrival_seq") % 13 == 0, F.lit(None))
                       .otherwise(F.col("val") - 1.0)))
    where = (F.when(F.col("old_val").isNull(), F.lit("`val` IS NULL"))
              .otherwise(F.concat(F.lit("`val` = "),
                                  F.col("old_val").cast("string"))))
    return ch.select("arrival_seq", "pk", "old_val", "val",
                     where.alias("where_clause"))


def q_cdc_gc_safepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GC/retention: the pump may only GC binlog <= min over consumers'
    checkpoints, never past maxCommitTS (pump/storage/storage.go:663-798,
    pump/server.go:572-645). Consumers here = the 3 sources' own
    watermarks; output the safe ts and which retention buckets
    (commit_ts div 100000, the file-dump partitioning) may drop."""
    ch = _spark_changes(spark, sf_dir)
    per_source = ch.groupBy("source_id").agg(F.max("commit_ts").alias("ck"))
    safe = per_source.agg(F.min("ck").alias("gc_safe_ts"))
    buckets = (ch.crossJoin(F.broadcast(safe))
               .withColumn("ts_bucket", F.floor(F.col("commit_ts") / 100000))
               .groupBy("ts_bucket", "gc_safe_ts")
               .agg(F.max("commit_ts").alias("bucket_max_ts"),
                    F.count(F.lit(1)).alias("n_events")))
    return buckets.select(
        "ts_bucket", "n_events",
        (F.col("bucket_max_ts") <= F.col("gc_safe_ts")).alias("droppable"))


def q_cdc_causality_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Causality grouping over synthetic multi-statement txns (7 events
    per txn, keys = (tbl, pk) strings)."""
    ch = _spark_changes(spark, sf_dir)
    txn_keys = ch.select(
        (F.col("arrival_seq") - F.col("arrival_seq") % 7).alias("txn_id"),
        F.concat_ws("|", F.col("tbl"), F.col("pk").cast("string")).alias("key"))
    return causality.causality_groups(txn_keys)


def q_cdc_wide_row_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-model compaction over the full row images: first-old /
    last-new whole-map stitching per PK (merge.go:84-118), emitted
    exploded per column."""
    ws = wide_stream(spark, sf_dir)
    ok = ordering.ordered_stream(ws)
    return compaction.compact_wide(ok)


# downstream table metadata for the wide statement builder: PRIMARY
# first (util.go:97-101), then a secondary unique key on k.
WIDE_INFO = sqlgen.TableInfo(
    columns=("pk", "val", "k"),
    unique_keys=(("PRIMARY", ("pk",)), ("uk_k", ("k",))))


def q_sink_sql_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UK-preferring NULL-safe statement build over the map model:
    updates whose old PK value is unavailable fall back to the next
    unique key, then to the all-columns WHERE (model.go:303-330)."""
    ws = wide_stream(spark, sf_dir)
    # deterministically knock out key values to exercise the fallback
    # chain: %13 -> no old pk (use uk_k), %221 -> neither (all-columns)
    ws = ws.withColumn(
        "old_values",
        F.when(F.col("op") != "U", F.col("old_values"))
         .when(F.col("arrival_seq") % 221 == 0,
               F.expr("map_filter(old_values, (c, v) -> c = 'val')"))
         .when(F.col("arrival_seq") % 13 == 0,
               F.expr("map_filter(old_values, (c, v) -> c <> 'pk')"))
         .otherwise(F.col("old_values")))
    out = sqlgen.generate_sql_wide(ws, WIDE_INFO)
    return out.select("arrival_seq", "op", "exec_mode", "sql_text")


def q_sink_obinlog_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-shape secondary-binlog message (column_info + row +
    change_row + unique_keys) over the wide row model."""
    ws = wide_stream(spark, sf_dir)
    return payload.obinlog_payload_wide(ws, WIDE_INFO)


def q_sink_sql_generation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statement generation in BOTH sink dialects side by side (merged
    r3: former sink_sql_oracle_dialect; pkg/loader/model.go:187-445
    MySQL, drainer/sync/oracle.go Oracle `:n`-less variant).

    Both dialects render the SAME change row, so they compose as two
    stacked projections over one stream — no join. The r13 form
    self-joined two copies of the stream on arrival_seq, paying two
    scans plus two exchanges for a row-identical result (arrival_seq
    is the unique event id; the oracle mirror has always been this
    single pass, so the join's 1:1-ness is hash-proven since r3) and
    anti-scaling at bench scale: 32 cores ran it 4x SLOWER than 8
    (driver scaling ratio 0.25, PERF_r13) because the fixed-width
    exchanges fan pure task overhead. Removing the join removes every
    exchange (r14, guide §2.4 "remove shuffles outright")."""
    ch = _spark_changes(spark, sf_dir)
    my = sqlgen.generate_sql(ch) \
        .withColumnRenamed("sql_text", "sql_mysql")
    both = sqlgen.generate_sql(my, dialect="oracle")
    return both.select("arrival_seq", "op", "sql_mysql",
                       F.col("sql_text").alias("sql_oracle"))


def q_sink_payload_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """obinlog encode -> decode roundtrip + arbiter commit-ts dedup
    (merged r3: former cdc_arbiter_dedup; kafka.go out, translate.go in,
    arbiter/server.go:287-317 keeps the first-arrived message per
    commit_ts — arrival_seq/source_id stand in for the Kafka offset)."""
    from pyspark.sql import Window
    ch = _spark_changes(spark, sf_dir)
    msgs = payload.obinlog_payload(ch, carry=("arrival_seq", "source_id"))
    parsed = payload.parse_obinlog(msgs, carry=("arrival_seq", "source_id"))
    w = Window.partitionBy("commit_ts").orderBy("arrival_seq", "source_id")
    return (parsed.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("arrival_seq", "commit_ts", "op", "db", "tbl", "pk", "seq"))


def q_sink_kafka_obinlog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kafka transport over the REAL secondary-binlog protobuf wire:
    change stream -> kafka_frame (one marshalled Binlog per txn, nil
    key, manual partition 0) -> simulated broker echo -> arbiter-side
    decode back to typed mutation rows with old images
    (drainer/translator/kafka.go:38-150 out, drainer/sync/kafka.go
    transport, pkg/loader/translate.go in). Subsampled %7 because the
    frame funnels through the reference's own single-producer
    total-order contract."""
    ch = (_spark_changes(spark, sf_dir)
          .filter(F.col("arrival_seq") % 7 == 0))
    frame = kafka.kafka_frame(ch, cluster_id=42)
    # what the broker hands back: assigned offsets + the value bytes.
    # Offsets are APPEND order — the frame leaves kafka_frame as one
    # producer-ordered partition, so the broker's offset is just the
    # row's position in it. The r12 form re-sorted the single
    # partition by the full payload bytes to rank offsets; that sort
    # ordered a column the query's output drops (the decode carries
    # offsets as arrival_seq, and the final select excludes it), so
    # position-in-partition is output-identical and one single-task
    # binary sort cheaper (r13, guide §1.2 "don't compute things you
    # throw away"; interleaved A/B at sf0.1: 2.40 -> 2.18 s min-of-3).
    # monotonically_increasing_id is append-order ONLY on a single
    # partition (it shifts by partition id in the high bits) — assert
    # that contract on the PLAN (no job) so a frame that ever grows a
    # wider partitioning cannot silently produce partition-shifted,
    # non-contiguous offsets (r14, ADVICE).
    _assert_single_partition_plan(frame)
    echoed = frame.withColumn("offset", F.monotonically_increasing_id())
    # consumers fan the single-partition topic back out: the decode
    # need not inherit the producer's one-task layout
    echoed = echoed.repartition(
        spark.sparkContext.defaultParallelism)
    decoded = kafka.decode_kafka_batch(echoed)
    return decoded.select("commit_ts", "db", "tbl", "op", "pk", "val",
                          "k", "old_val", "old_k")


def q_cdc_reparo_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """pb-dump file sink -> reparo replay with commit-ts range
    pruning, over the REAL wire format: changes marshalled into
    pb_binlog protobuf records (magic + length + CRC32C framing),
    written as .pb files bucketed by ts range, then scanned back with
    the reparo-equivalent reader and a BETWEEN prune
    (drainer/sync/pb.go out, reparo/read.go:28-120 in). Subsampled
    %11 to bound the per-txn Python assembly; the ts range is integer
    arithmetic on MAX(commit_ts) so the oracle mirrors it exactly."""
    from tidb_binlog_spark.cache import managed_persist
    # three actions consume ch (bucket count, dump write, max ts):
    # persist once, released by the harness's release_all()
    ch = managed_persist(kafka.with_row_image(
        _spark_changes(spark, sf_dir)
        .filter(F.col("arrival_seq") % 11 == 0)))
    path = _scratch_dir("reparo_dump")
    pbcodec.write_pb_dump(ch, path)
    mx = int(ch.agg(F.max("commit_ts")).first()[0])
    return pbcodec.read_pb_dump(spark, path,
                                start_ts=mx * 2 // 10,
                                stop_ts=mx * 8 // 10)


def q_cdc_pitr_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time restore, end to end over the real wire: the
    ok-gated change stream is dumped as CRC-framed pb files, replayed
    up to a target ts (reparo's -stop-tso, reparo/read.go:28-120 +
    binlogctl's tso math), and compacted into the as-of snapshot —
    the reference's full PITR story (SURVEY §3.3) as one composition.
    The ok gate makes commit_ts globally unique, so last-image-per-PK
    by commit_ts is exact and the oracle mirrors it clause for
    clause. Subsampled %3 to bound the pb marshal."""
    from pyspark.sql import Window
    from tidb_binlog_spark.cache import managed_persist
    # the ordered_stream gate is windowed and consumed by three
    # actions (bucket count, dump write, max ts): persist once,
    # released by the harness's release_all()
    ch = managed_persist(kafka.with_row_image(
        ordering.ordered_stream(_spark_changes(spark, sf_dir))
        .filter(F.col("arrival_seq") % 3 == 0)))
    path = _scratch_dir("pitr_dump")
    pbcodec.write_pb_dump(ch, path)
    mx = int(ch.agg(F.max("commit_ts")).first()[0])
    replay = pbcodec.read_pb_dump(spark, path, stop_ts=mx * 6 // 10)
    w = Window.partitionBy("db", "tbl", "pk").orderBy(
        F.desc("commit_ts"))
    return (replay.withColumn("rn", F.row_number().over(w))
            .filter((F.col("rn") == 1) & (F.col("op") != "D"))
            .select("db", "tbl", "pk", "val", "k", "commit_ts"))


def q_corpus_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed posting-list build: term -> df + capped ascending
    doc_id postings (rank-window cap BEFORE any collect, so stopword
    terms never materialize unbounded lists)."""
    return scoring.inverted_index(_docs(spark, sf_dir))


def q_snapshot_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Returned-item revenue per customer (TPC-H Q10 flavor): the
    lineitem x orders shuffle join carries only returned rows (filter
    pushed below the join), customer/nation broadcast, top 20 by
    revenue with a deterministic key tie-break
    (TakeOrderedAndProject)."""
    t = load_tables(spark, sf_dir, "lineitem", "orders", "customer",
                    "nation")
    rev = (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
    return (t["lineitem"].filter(F.col("l_returnflag") == "R")
            .join(t["orders"],
                  F.col("l_orderkey") == F.col("o_orderkey"))
            .join(F.broadcast(t["customer"]),
                  F.col("o_custkey") == F.col("c_custkey"))
            .join(F.broadcast(t["nation"]),
                  F.col("c_nationkey") == F.col("n_nationkey"))
            .groupBy("c_custkey", "c_name", "n_name")
            .agg(F.sum(rev.cast("decimal(38,6)")).cast("double")
                  .alias("revenue"),
                 F.count(F.lit(1)).alias("n_items"))
            .orderBy(F.desc("revenue"), F.asc("c_custkey"))
            .limit(20))


def q_snapshot_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nation-pair shipping volume by year (TPC-H Q7 flavor):
    customer nation -> supplier nation revenue matrix; both nation
    sides resolve through broadcast joins, the fact-side shuffle is
    only lineitem x orders on the order key."""
    t = load_tables(spark, sf_dir, "lineitem", "orders", "customer",
                    "supplier", "nation")
    rev = (F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
    cust_n = t["nation"].select(
        F.col("n_nationkey").alias("cn_key"),
        F.col("n_name").alias("cust_nation"))
    supp_n = t["nation"].select(
        F.col("n_nationkey").alias("sn_key"),
        F.col("n_name").alias("supp_nation"))
    return (t["lineitem"]
            .join(t["orders"],
                  F.col("l_orderkey") == F.col("o_orderkey"))
            .join(F.broadcast(t["customer"]),
                  F.col("o_custkey") == F.col("c_custkey"))
            .join(F.broadcast(t["supplier"]),
                  F.col("l_suppkey") == F.col("s_suppkey"))
            .join(F.broadcast(cust_n),
                  F.col("c_nationkey") == F.col("cn_key"))
            .join(F.broadcast(supp_n),
                  F.col("s_nationkey") == F.col("sn_key"))
            .filter(F.col("cust_nation") != F.col("supp_nation"))
            .groupBy("cust_nation", "supp_nation",
                     F.year("l_shipdate").alias("ship_year"))
            .agg(F.sum(rev.cast("decimal(38,6)")).cast("double")
                  .alias("revenue"),
                 F.count(F.lit(1)).alias("n_items")))


def q_snapshot_cust_no_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positive-balance customers with no RECENT orders (>= 2000),
    per nation (TPC-H Q22 flavor): the anti-join plan shape —
    Catalyst compiles NOT EXISTS to an anti join against the filtered
    orders key set (filter pushed to the scan), never a per-row
    subquery."""
    t = load_tables(spark, sf_dir, "customer", "orders", "nation")
    recent = (t["orders"]
              .filter(F.col("o_orderdate")
                      >= F.lit("2000-01-01").cast("timestamp_ntz"))
              .select("o_custkey"))
    return (t["customer"].filter(F.col("c_acctbal") > 0.0)
            .join(recent,
                  F.col("c_custkey") == F.col("o_custkey"),
                  "left_anti")
            .join(F.broadcast(t["nation"]),
                  F.col("c_nationkey") == F.col("n_nationkey"))
            .groupBy("n_name")
            .agg(F.count(F.lit(1)).alias("n_cust"),
                 F.sum(F.col("c_acctbal").cast("decimal(38,6)"))
                  .cast("double").alias("total_bal")))


# NOTE: oracle artifacts live at FIXED paths (not pid-scoped) because
# the driver may evaluate oracle_sql() in a different process than the
# query run; the correctness harness runs one session at a time, and
# content is deterministic per config so a same-config overwrite is
# byte-identical anyway. The directory is REPO-LOCAL (not /tmp): a
# fixed world-writable /tmp name would let another local user
# pre-create or swap the parquet/.meta pair the oracle trusts
# (ADVICE r7); the repo tree is owned by us and gitignored here.
_ORACLE_SCRATCH = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               ".oracle_scratch")
BPE_ORACLE_PATH = os.path.join(_ORACLE_SCRATCH, "bpe_oracle.parquet")
# NOTE: the directory is created lazily by the oracle writers
# (_write_bpe_oracle/_write_pca_oracle) right before they write —
# creating it at import time was a module-import side effect that
# broke importing from a read-only checkout (ADVICE r8).


def _write_bpe_oracle(sf_dir: str, merges: list[tuple[str, str]]) -> None:
    """Independent pure-Python BPE encode of the same corpus with the
    same learned merges, written where the DuckDB oracle reads it
    (read_parquet). The ENCODE algorithm is deliberately different
    from functions/bpe.encode_word: merges apply sequentially in
    learned-rank order (one left-to-right pass each) instead of the
    lowest-rank-present loop — equivalent because a merge can only
    create pairs involving its own (later-ranked) output symbol, so
    earlier pairs never reappear. Deterministic given (sf_dir, merge
    params), so a stale file from a previous same-config run is
    byte-identical; the query function rewrites it every invocation
    before the oracle runs."""
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    import hashlib
    import json

    # content is deterministic given (sf_dir, merges): skip the pure-
    # Python pass when the sidecar fingerprint matches (bench runs the
    # query 3x; only the first pays for the oracle build)
    key = hashlib.sha256(
        json.dumps([sf_dir, merges]).encode()).hexdigest()
    meta_path = BPE_ORACLE_PATH + ".meta"
    try:
        if (open(meta_path).read() == key
                and os.path.exists(BPE_ORACLE_PATH)):
            return
    except OSError:
        pass

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT doc_id, text FROM '{sf_dir}/documents.parquet'").fetchall()
    con.close()
    end = bpe.END
    out_ids, out_nw, out_nt = [], [], []
    # memo per distinct word (word -> token count): the encode is a
    # pure function of the word, and corpus occurrences are Zipf —
    # without this the single-threaded oracle pass goes from seconds
    # to hours on the 100x scaled corpus. The memo stores ints only.
    word_ntok: dict[str, int] = {}
    for doc_id, text in rows:
        words = [w for w in (text or "").split(" ") if w]
        n_tok = 0
        for w in words:
            cached = word_ntok.get(w)
            if cached is not None:
                n_tok += cached
                continue
            sym = list(w) + [end]
            for a, b in merges:
                i, nxt = 0, []
                while i < len(sym):
                    if i < len(sym) - 1 and sym[i] == a and sym[i + 1] == b:
                        nxt.append(a + b)
                        i += 2
                    else:
                        nxt.append(sym[i])
                        i += 1
                sym = nxt
            word_ntok[w] = len(sym)
            n_tok += len(sym)
        out_ids.append(doc_id)
        out_nw.append(len(words))
        out_nt.append(n_tok)
    table = pa.table({"doc_id": pa.array(out_ids, pa.int64()),
                      "n_words": pa.array(out_nw, pa.int64()),
                      "n_bpe_tokens": pa.array(out_nt, pa.int64())})
    os.makedirs(_ORACLE_SCRATCH, exist_ok=True)
    tmp = BPE_ORACLE_PATH + ".tmp"
    pq.write_table(table, tmp)
    os.replace(tmp, BPE_ORACLE_PATH)
    with open(meta_path, "w") as f:
        f.write(key)


def q_text_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenization: merges learned driver-side from
    the BOUNDED word-frequency head (min_count=2 + capped top-K pushed
    into Spark before the collect), then applied corpus-wide through
    an Arrow-batched mapInPandas. The iterative merge application is
    not SQL-expressible, so the oracle is a from-scratch pure-Python
    encode (different algorithm, see _write_bpe_oracle) over the same
    parquet, handed to DuckDB via read_parquet — hash-exact, not
    rows-only."""
    docs = _docs(spark, sf_dir)
    merges = bpe.learn_bpe(docs, n_merges=40, min_count=2)
    _write_bpe_oracle(sf_dir, merges)
    return (bpe.bpe_encode(docs, merges)
            .select("doc_id", "n_words", "n_bpe_tokens"))


def q_sink_bulk_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    ok = ordering.ordered_stream(_spark_changes(spark, sf_dir))
    compacted = compaction.compact_last_image(ok)
    return sqlgen.bulk_delete_replace(compacted)


def q_mm_assets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing in one view (merged r3: former mm_decode_meta
    + mm_frame_sample): per-asset decoded metadata joined with the
    frame-sampling digest (n_frames + md5 over offset-ordered frame
    hexes) — both mapInPandas Arrow paths exercised."""
    meta = mm.decode_stub(_docs(spark, sf_dir))
    frames = mm.frame_sample_stub(_docs(spark, sf_dir))
    fr = frames.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_frames"),
        F.md5(F.concat_ws("", F.expr(
            "transform(sort_array(collect_list(struct(frame_offset, frame_hex))),"
            " x -> x.frame_hex)"))).alias("frames_digest"))
    return meta.join(fr, "doc_id")


def q_snapshot_checksum_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    return cksum.bucket_checksum(orders, [
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority"])


def q_snapshot_diff_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level sync-diff between the orders snapshot and a perturbed
    'downstream': dropped rows (%89), changed totals (%97), extra rows
    (key+10^7 for %83) — each lands in its own diff_status class."""
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    src = orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
    kept = (src.filter(F.col("o_orderkey") % 89 != 0)
            .withColumn("o_totalprice",
                        F.when(F.col("o_orderkey") % 97 == 0,
                               F.col("o_totalprice") + 1.0)
                         .otherwise(F.col("o_totalprice"))))
    extra = (src.filter(F.col("o_orderkey") % 83 == 0)
             .withColumn("o_orderkey", F.col("o_orderkey") + 10_000_000))
    dst = kept.unionByName(extra)
    return cksum.snapshot_diff(src, dst, ["o_orderkey"],
                               ["o_orderstatus", "o_totalprice"])


def q_snapshot_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    dec = lambda c: F.col(c).cast("decimal(38,6)")  # noqa: E731
    return (li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("count_order"),
        F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
        F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
        F.sum((F.col("l_extendedprice") * (F.lit(1.0) - F.col("l_discount")))
              .cast("decimal(38,6)")).cast("double").alias("sum_disc_price"),
    ))


def q_snapshot_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, "orders", "customer", "nation")
    return (t["orders"]
            .join(F.broadcast(t["customer"]),
                  F.col("o_custkey") == F.col("c_custkey"))
            .join(F.broadcast(t["nation"]),
                  F.col("c_nationkey") == F.col("n_nationkey"))
            .groupBy("n_name")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
                  .cast("double").alias("revenue")))


def q_snapshot_rollup_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-sets analytics: revenue by (nation, order-year) with
    ROLLUP subtotals and a grand total — the OLAP surface the
    reference lacks outright but a replicated warehouse runs daily.
    Catalyst expands the rollup into one Expand + single aggregate
    (one shuffle, no N-pass union); both broadcast joins stay
    map-side. Oracle: DuckDB GROUP BY ROLLUP, identical NULL-subtotal
    semantics."""
    t = load_tables(spark, sf_dir, "orders", "customer", "nation")
    return (t["orders"]
            .join(F.broadcast(t["customer"]),
                  F.col("o_custkey") == F.col("c_custkey"))
            .join(F.broadcast(t["nation"]),
                  F.col("c_nationkey") == F.col("n_nationkey"))
            .withColumn("o_year", F.year("o_orderdate"))
            .rollup("n_name", "o_year")
            .agg(F.count(F.lit(1)).alias("n_orders"),
                 F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
                  .cast("double").alias("revenue"))
            .select("n_name", "o_year", "n_orders", "revenue"))


def q_snapshot_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3-style shipping priority over the replica: unshipped
    BUILDING-segment orders ranked by revenue. The small filtered
    dimension broadcasts; the orders-lineitem join shuffles on the
    order key; top-10 compiles to TakeOrderedAndProject (per-partition
    heap, never a global sort). Exact decimal revenue both engines."""
    t = load_tables(spark, sf_dir, "customer", "orders", "lineitem")
    cut = "TIMESTAMP '1998-06-01 00:00:00'"
    rev_expr = ("CAST(CAST(l_extendedprice AS DECIMAL(18,6)) * "
                "CAST(1 - l_discount AS DECIMAL(18,6)) "
                "AS DECIMAL(38,12))")
    rev = (t["lineitem"].filter(F.expr(f"l_shipdate > {cut}"))
           .join(t["orders"].filter(F.expr(f"o_orderdate < {cut}")),
                 F.col("l_orderkey") == F.col("o_orderkey"))
           .join(F.broadcast(t["customer"]
                             .filter(F.col("c_mktsegment") == "BUILDING")),
                 F.col("o_custkey") == F.col("c_custkey"))
           .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
           .agg(F.sum(F.expr(rev_expr)).cast("double").alias("revenue")))
    return rev.orderBy(F.desc("revenue"), F.asc("l_orderkey")).limit(10)


def q_snapshot_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window
    t = load_tables(spark, sf_dir, "orders", "customer")
    rev = (t["orders"].groupBy("o_custkey")
           .agg(F.sum(F.col("o_totalprice").cast("decimal(38,6)"))
                .cast("double").alias("revenue"),
                F.count(F.lit(1)).alias("n_orders")))
    # scale-safe top-k: orderBy().limit() compiles to
    # TakeOrderedAndProject (per-partition heap + driver merge of k
    # rows), never a single-task global window.
    top = rev.orderBy(F.desc("revenue"), F.asc("o_custkey")).limit(10)
    w = Window.orderBy(F.desc("revenue"), F.asc("o_custkey"))
    return (top.withColumn("rank", F.row_number().over(w))
            .join(F.broadcast(t["customer"]),
                  F.col("o_custkey") == F.col("c_custkey"))
            .select("rank", "o_custkey", "c_name", "revenue", "n_orders"))


def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end corpus curation: language ID -> quality gates ->
    exact-dedup canonical filter, composed as one Catalyst plan — the
    standard pretraining data-prep chain over the documents table."""
    docs = _docs(spark, sf_dir)
    lang = textfn.lang_id(docs).select("doc_id", "pred_lang")
    qual = textfn.quality_score(docs)
    dedup = dedupfn.exact_dedup(docs)
    kept = (docs.select("doc_id", "source", "n_chars")
            .join(lang, "doc_id")
            .join(qual, "doc_id")
            .join(dedup, "doc_id")
            .filter((F.col("pred_lang") == "en")
                    & (F.col("n_tokens") >= 30)
                    & (F.col("non_alpha_ratio") < 0.05)
                    & (F.col("doc_id") == F.col("canonical_id"))))
    return kept.select("doc_id", "source", "pred_lang", "n_tokens",
                       "stopword_ratio")


def q_events_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: per-user event sessions split at 30-minute
    inactivity gaps (gap detection over nanosecond timestamps) —
    the standard event-analytics windowing shape."""
    from pyspark.sql import Window
    load_tables(spark, sf_dir, "events")
    ev = spark.table("events")   # ts is BIGINT nanos (nanosAsLong)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_ns = 30 * 60 * 1_000_000_000
    flagged = ev.withColumn(
        "new_session",
        F.when(F.lag("ts").over(w).isNull()
               | ((F.col("ts") - F.lag("ts").over(w)) > gap_ns), 1)
         .otherwise(0))
    return flagged.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.count(F.when(F.col("new_session") == 1, 1)).alias("n_sessions"))


# ---------------------------------------------------------------------------
# training-data pipeline operators (dedup / similarity / text analysis)
# ---------------------------------------------------------------------------

def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_tables(spark, sf_dir, "documents")["documents"]


# Deterministic PII/URL seeding of the (digit- and @-free) documents
# fixture — the SAME SQL text runs under Spark and DuckDB (the
# CDC-ification pattern), so both engines scrub identical inputs and
# every PII/URL match in the corpus is a seeded, known quantity.
PII_DOCS_SELECT = """
SELECT doc_id,
  text
  || CASE WHEN doc_id % 5 = 0 THEN ' contact user' || CAST(doc_id AS STRING)
          || '@mail' || CAST(doc_id % 7 AS STRING) || '.example.com now'
     ELSE '' END
  || CASE WHEN doc_id % 7 = 0 THEN ' call +1 555 '
          || CAST(100 + doc_id % 900 AS STRING) || '-1234' ELSE '' END
  || CASE WHEN doc_id % 11 = 0 THEN ' host 10.0.'
          || CAST(doc_id % 256 AS STRING) || '.1 up' ELSE '' END
  || CASE WHEN doc_id % 13 = 0 THEN ' id 123-45-'
          || CAST(1000 + doc_id % 9000 AS STRING) || ' ok' ELSE '' END
  || CASE WHEN doc_id % 3 = 0 THEN ' see https://sub'
          || CAST(doc_id % 9 AS STRING) || '.example.org/p/'
          || CAST(doc_id AS STRING) || ' and http://ex'
          || CAST(doc_id % 4 AS STRING) || '.net/q?x=1' ELSE '' END
  AS text
FROM documents
"""


def _seeded_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_tables(spark, sf_dir, "documents")
    return spark.sql(PII_DOCS_SELECT)


def q_text_pii_scrub(spark, sf_dir):
    """PII redaction over the seeded corpus: emails/phones/IPv4/SSN-
    shaped ids masked with typed placeholders, per-class counts on the
    original text. Zero-shuffle regex projection (curation.pii_scrub);
    the oracle re-implements the same sequential scrub in DuckDB."""
    from tidb_binlog_spark.functions import curation
    return curation.pii_scrub(_seeded_docs(spark, sf_dir))


def q_dedup_url_canonical(spark, sf_dir):
    """Crawl-frontier URL dedup: canonicalize every extracted URL
    (lowercase host+path, query/fragment/trailing-slash stripped) and
    roll up occurrence/variant/doc counts per canonical key — the
    pre-fetch dedup that precedes all content-level dedup."""
    from tidb_binlog_spark.functions import curation
    return curation.url_canonical_dedup(_seeded_docs(spark, sf_dir))


def q_corpus_url_domains(spark, sf_dir):
    """URL extraction + per-domain rollup over the seeded corpus (the
    input to domain allow/block-list curation). Extraction is a
    projection; the rollup one map-side-combinable groupBy."""
    from tidb_binlog_spark.functions import curation
    return curation.url_domains(_seeded_docs(spark, sf_dir))


def _embs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_tables(spark, sf_dir, "embeddings")["embeddings"]


def q_dedup_exact(spark, sf_dir):
    return dedupfn.exact_dedup(_docs(spark, sf_dir))


def q_text_contamination(spark, sf_dir):
    """Benchmark decontamination: docs sharing word-3-gram shingles
    with the held-out set (doc_id % 50 == 0 stands in for an eval
    benchmark)."""
    from tidb_binlog_spark.functions import curation
    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    corpus = docs.filter(F.col("doc_id") % 50 != 0)
    return curation.contamination(corpus, bench)


def q_text_stratified_sample(spark, sf_dir):
    """Deterministic language-mixing downsample: en 50%, es 25%,
    everything else dropped — replay-stable md5-ticket draw."""
    from tidb_binlog_spark.functions import curation
    return curation.stratified_sample(
        _docs(spark, sf_dir),
        rates={"en": "80000000", "es": "40000000"}) \
        .select("doc_id", "lang", "n_chars")


def q_text_pack_sequences(spark, sf_dir):
    """Token-budget packing of docs into fixed-size training bins,
    per language, deterministic across replays."""
    from tidb_binlog_spark.functions import curation
    return curation.pack_sequences(_docs(spark, sf_dir), budget=2048)


def q_dedup_minhash_lsh(spark, sf_dir):
    return dedupfn.minhash_lsh_pairs(_docs(spark, sf_dir))


def q_dedup_minhash_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters: connected components over the LSH candidate
    graph — the same distributed CC operator that powers causality
    grouping, reused for dedup cluster assignment."""
    pairs = dedupfn.minhash_lsh_pairs(_docs(spark, sf_dir))
    edges = (pairs.selectExpr("doc_a AS txn_id", "CAST(doc_b AS STRING) AS key")
             .unionByName(pairs.selectExpr("doc_b AS txn_id",
                                           "CAST(doc_b AS STRING) AS key")))
    groups = causality.causality_groups(edges)
    return groups.selectExpr("txn_id AS doc_id", "group_id AS cluster_id")


def q_dedup_quality_canonicals(spark, sf_dir):
    """Near-dup cluster collapse with a QUALITY-preferring survivor:
    the longest member (token count, doc_id tiebreak) represents each
    cluster — the keep-the-best-copy policy real curation runs use
    instead of keep-lowest-id."""
    from pyspark.sql import Window
    from tidb_binlog_spark.functions.text import TOKENS
    clusters = q_dedup_minhash_clusters(spark, sf_dir)
    toks = _docs(spark, sf_dir).select(
        "doc_id", F.expr(f"size({TOKENS})").alias("n_tokens"))
    w = Window.partitionBy("cluster_id").orderBy(F.desc("n_tokens"),
                                                 "doc_id")
    return (clusters.join(toks, "doc_id")
            .withColumn("rk", F.row_number().over(w))
            .select("doc_id", "cluster_id", "n_tokens",
                    (F.col("rk") == 1).alias("is_canonical")))


def q_dedup_simhash(spark, sf_dir):
    return dedupfn.simhash(_docs(spark, sf_dir))


def q_dedup_simhash_pairs(spark, sf_dir):
    return dedupfn.simhash_pairs(_docs(spark, sf_dir))


def q_dedup_ngram_jaccard(spark, sf_dir):
    return dedupfn.ngram_jaccard_pairs(_docs(spark, sf_dir))


def q_ann_cosine_topk(spark, sf_dir):
    """Exact brute-force cosine top-k — the baseline the ANN family
    is audited against. r9: query set is a DERIVED fixed-size sample
    (~64 queries via sampled_query_mod, oracle-mirrored as
    GREATEST(1, COUNT(*) // 64)) so the exact Q x N scan stays
    Theta(N) at any corpus — the r8 sweep measured the old
    corpus-proportional query set at 621x time at 100x rows."""
    return simfn.brute_force_topk(_embs(spark, sf_dir), query_mod=None)


def q_ann_lsh_topk(spark, sf_dir):
    return simfn.lsh_topk(_embs(spark, sf_dir))


def q_ann_ivf_topk(spark, sf_dir):
    """IVF ANN with sqrt(N)-derived coarse-quantizer sizing (the Faiss
    nlist ~ sqrt(N) convention): centroid count, list size, and
    per-query probe work all grow as sqrt(corpus), so total work is
    N^1.5 — vs the N^2 a fixed centroid_mod hits once the corpus
    outgrows it (measured: the 100x scale proof caught the old mod=37
    in a 1.08B-pair assignment join). The oracle derives the identical
    mod via GREATEST(2, COUNT(*) // FLOOR(SQRT(COUNT(*)))). r10: the
    query set is the same DERIVED fixed-size sample as
    ann_cosine_topk/ann_pq_topk (~64 queries via sampled_query_mod,
    oracle-mirrored as GREATEST(1, COUNT(*) // 64)) — the r9 sweep
    measured the corpus-proportional query set at 87.9x time at 100x
    rows (probe stage Q x sqrt(N) = its own N^1.5 on top of the
    designed index-side N^1.5)."""
    return simfn.ivf_topk(_embs(spark, sf_dir), query_mod=None,
                          centroid_mod=None)


def q_dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-dup pairs, collapse-first default (r9):
    bit-identical vectors group to a min-id representative before the
    LSH-bucket pairwise join; duplicates surface as rep->member star
    edges. Same rows as the all-pairs form on any corpus without
    repeated vectors (all fixtures), but linear — not output-
    quadratic — on mass-duplicate corpora (the r8 100x sweep measured
    the uncapped all-pairs form at 820x time on verbatim-replicated
    embeddings; this is the semantic_dedup_exact fix applied here,
    oracle-mirrored)."""
    return simfn.embedding_near_dups(_embs(spark, sf_dir))


def q_ann_pq_topk(spark, sf_dir):
    """Product-quantization ANN: sampled per-subspace codebooks,
    zero-shuffle argmin encode, asymmetric-distance search over the
    reconstructions (Jegou et al., PAMI'11). r9: derived fixed-size
    query sample (~64 queries, oracle-mirrored) bounds the flat ADC
    scan at Theta(N) — the corpus-proportional form was killed
    (>15 min) by the r8 100x sweep; ivfpq_topk is the serving path."""
    return simfn.pq_topk(_embs(spark, sf_dir), query_mod=None)


# gate/packing constants shared by q_corpus_full_curation AND its
# oracle builder — pass-through, never restated, so the two sides
# cannot drift (same rule as BOILER_HEADER)
CURATION_MIN_TOKENS = 20
CURATION_MAX_SURPRISAL = 3_450_000
CURATION_BUDGET = 2048


def q_corpus_full_curation(spark, sf_dir):
    """End-to-end corpus curation as ONE composed plan: line-level
    boilerplate removal -> unigram-surprisal scoring on the CLEANED
    text -> token/surprisal gates -> per-language token-budget packing
    — this round's operators chained the way a production pipeline
    runs them, verified as a whole against the composed oracle."""
    from tidb_binlog_spark.functions import curation
    docs = _docs(spark, sf_dir).withColumn(
        "text",
        F.when(F.col("doc_id") % 5 == 0,
               F.concat(F.lit(BOILER_HEADER + " "), F.col("text")))
         .otherwise(F.col("text")))
    from tidb_binlog_spark.cache import managed_persist
    cleaned = curation.line_dedup(docs)
    # the cleaned corpus feeds BOTH the surprisal model and the packing
    # input; without the persist each consumer re-runs the whole
    # line-dedup explode/join chain (measured 5.1s -> 2.2s at sf0.1).
    # Pinned to doc_id-hash partitioning at core count (r13 opt 2):
    # the line-dedup tail exchange AQE-coalesces to ~1 partition at
    # bench scale, and spread() no longer fans shaped frames out (its
    # .rdd probe ran the whole upstream chain as a side job), so the
    # cache itself must carry the parallelism the downstream
    # tokenize passes (surprisal model + packing) run at.
    docs2 = managed_persist(
        cleaned.filter(F.col("n_lines") > F.col("n_removed"))
        .select("doc_id", F.col("clean_text").alias("text"))
        .repartition(spark.sparkContext.defaultParallelism, "doc_id"))
    surp = scoring.unigram_surprisal(docs2)
    lang = _docs(spark, sf_dir).select("doc_id", "lang")
    # kept feeds the packing input AND the final score join
    kept = managed_persist(
        surp.join(lang, "doc_id")
        .filter((F.col("n_tokens") >= CURATION_MIN_TOKENS)
                & (F.col("mean_surprisal_micro")
                   <= CURATION_MAX_SURPRISAL)))
    packin = kept.select("doc_id", "lang").join(docs2, "doc_id")
    bins = curation.pack_sequences(packin, budget=CURATION_BUDGET)
    return (bins.join(kept.select("doc_id", "mean_surprisal_micro"),
                      "doc_id")
            .select("doc_id", "lang", "n_tokens", "bin_id",
                    "mean_surprisal_micro"))


def q_dedup_chunk_minhash(spark, sf_dir):
    """Paragraph-granularity NEAR dedup: 32-token non-overlapping
    chunks become MinHash units (composite id doc*1000+chunk), so
    repeated passages surface even when whole documents differ —
    line_dedup's exact counterpart at the near-dup level."""
    from tidb_binlog_spark.functions import curation
    chunks = curation.chunk_documents(_docs(spark, sf_dir),
                                      chunk_tokens=32, stride=32)
    units = chunks.select(
        (F.col("doc_id") * 1000 + F.col("chunk_seq")).alias("doc_id"),
        F.col("chunk_text").alias("text"))
    pairs = dedupfn.minhash_lsh_pairs(units)
    return pairs.select(
        F.expr("doc_a DIV 1000").alias("doc_a"),
        F.expr("CAST(doc_a % 1000 AS INT)").alias("chunk_a"),
        F.expr("doc_b DIV 1000").alias("doc_b"),
        F.expr("CAST(doc_b % 1000 AS INT)").alias("chunk_b"),
        "est_jaccard")


def q_dedup_containment(spark, sf_dir):
    """Asymmetric containment over LSH candidates: flags partial
    copies (doc quoted inside another) that symmetric Jaccard
    dedup misses."""
    return dedupfn.containment_pairs(_docs(spark, sf_dir))


def q_dedup_substring_spans(spark, sf_dir):
    """Exact duplicated-substring spans (the suffix-array dedup of Lee
    et al. 2022, arXiv:2107.06499, at 16-token window granularity):
    the globally-first occurrence of each >=16-token passage survives;
    every other copy becomes a maximal (span_start, span_end) row
    ready for strip_spans removal."""
    return dedupfn.duplicate_spans(_docs(spark, sf_dir), w=16)


# target mixture for the domain-mixing query (relative weights;
# zh intentionally absent — unlisted strata contribute nothing)
MIX_WEIGHTS = {"en": 0.5, "es": 0.2, "de": 0.2, "fr": 0.1}


def q_text_mix_weights(spark, sf_dir):
    """Domain mixing: down-sample language strata to the target
    mixture with exact integer caps pinned by the scarcest stratum
    and a deterministic md5-ticket draw."""
    from tidb_binlog_spark.functions import curation
    return curation.mix_to_weights(_docs(spark, sf_dir), MIX_WEIGHTS)


def q_text_decontaminate_spans(spark, sf_dir):
    """Surgical decontamination: only the >=16-token passages shared
    with the held-out set (doc_id % 50 == 0) become removable spans —
    the quote goes, the document stays (contrast text_contamination,
    which flags whole documents). Every 7th corpus doc gets a 24-token
    quote of the first bench doc appended (the line_dedup
    header-injection pattern), so the span detector has corpus-wide
    work to do, not just the fixture's accidental overlaps."""
    docs = _docs(spark, sf_dir)
    bench = docs.filter(F.col("doc_id") % 50 == 0)
    quote = (bench.orderBy("doc_id").limit(1)
             .select(F.expr(
                 "concat_ws(' ', slice(filter(split(text, ' '), "
                 "x -> x <> ''), 1, 24))").alias("q")))
    corpus = (docs.filter(F.col("doc_id") % 50 != 0)
              .crossJoin(F.broadcast(quote))
              .withColumn("text",
                          F.when(F.col("doc_id") % 7 == 3,
                                 F.concat_ws(" ", "text", "q"))
                           .otherwise(F.col("text")))
              .drop("q"))
    return dedupfn.decontaminate_spans(corpus, bench, w=16)


def q_corpus_source_report(spark, sf_dir):
    """Per-source corpus audit: doc/token/short/dup counts and
    language diversity — the mix report behind sampling weights."""
    return scoring.corpus_source_report(_docs(spark, sf_dir))


def q_events_asof_attribution(spark, sf_dir):
    """Purchase->view attribution: for each purchase, the user's
    latest view at-or-before it (generic as-of join — union +
    carry-forward window, one shuffle, no range explosion). Checked
    against DuckDB's NATIVE ASOF LEFT JOIN, an independent
    implementation of the same semantics."""
    from tidb_binlog_spark.operators.asof import asof_join
    load_tables(spark, sf_dir, "events")
    ev = spark.table("events")   # ts is BIGINT nanos (load contract)
    purchases = (ev.filter(F.col("event_type") == "purchase")
                 .select("user_id", F.col("event_id").alias("purchase_id"),
                         "ts"))
    views = (ev.filter(F.col("event_type") == "view")
             .groupBy("user_id", "ts")
             .agg(F.max("event_id").alias("view_id")))
    out = asof_join(purchases, views, ["user_id"],
                    value_cols=["view_id"])
    return out.select("user_id", "purchase_id", "ts", "asof_ts",
                      "view_id",
                      (F.col("ts") - F.col("asof_ts")).alias("gap_ns"))


def q_events_session_stitch(spark, sf_dir):
    """Range join: every error event assigned to the user's session
    interval containing it (sessions built from NON-error events, so
    errors between sessions stay unmatched). The bucketed
    point-in-interval join replaces the quadratic inequality join."""
    from pyspark.sql import Window
    from tidb_binlog_spark.operators.rangejoin import point_in_interval_join
    load_tables(spark, sf_dir, "events")
    ev = spark.table("events")   # ts is BIGINT nanos
    core = ev.filter(F.col("event_type") != "error")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_ns = 30 * 60 * 1_000_000_000
    flagged = core.withColumn(
        "new_session",
        F.when(F.lag("ts").over(w).isNull()
               | ((F.col("ts") - F.lag("ts").over(w)) > gap_ns), 1)
         .otherwise(0))
    sess = (flagged.withColumn("session_no", F.sum("new_session").over(w))
            .groupBy("user_id", "session_no")
            .agg(F.min("ts").alias("session_start"),
                 F.max("ts").alias("session_end"),
                 F.count(F.lit(1)).alias("n_core_events")))
    errors = (ev.filter(F.col("event_type") == "error")
              .select("user_id", F.col("event_id").alias("error_id"), "ts"))
    out = point_in_interval_join(errors, sess, ["user_id"], "ts",
                                 "session_start", "session_end",
                                 bucket_width=3_600_000_000_000,
                                 how="left")
    return out.select("user_id", "error_id", "ts", "session_no",
                      "session_start", "session_end", "n_core_events")


def _gap_sessions(ev, pred, gap_ns: int, prefix: str):
    """Gap-based sessions over the events subset ``pred``: one row per
    (user, session) with [start, end] and the event count, columns
    named ``{prefix}_no/{prefix}_start/{prefix}_end/n_{prefix}``."""
    from pyspark.sql import Window
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.filter(pred).withColumn(
        "new_s",
        F.when(F.lag("ts").over(w).isNull()
               | ((F.col("ts") - F.lag("ts").over(w)) > gap_ns), 1)
         .otherwise(0))
    return (flagged.withColumn(f"{prefix}_no", F.sum("new_s").over(w))
            .groupBy("user_id", f"{prefix}_no")
            .agg(F.min("ts").alias(f"{prefix}_start"),
                 F.max("ts").alias(f"{prefix}_end"),
                 F.count(F.lit(1)).alias(f"n_{prefix}")))


def q_cdc_scd2_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SCD2 maintenance: history built to T =
    max(commit_ts)/2, then the remainder applied as a new batch
    (close-open-intervals + append — the foreachBatch shape). The
    oracle is the FULL-recompute history SQL, so agreement proves the
    incremental path converges to the batch semantics."""
    ch = _spark_changes(spark, sf_dir)
    ok = ordering.ordered_stream(ch)
    t = ch.agg(F.floor(F.max("commit_ts") / 2)
               .cast("long").alias("_t_split"))
    okt = ok.crossJoin(F.broadcast(t))
    h1 = scd2.scd2_history(okt.filter(F.col("commit_ts") <= F.col("_t_split")))
    h2 = scd2.scd2_apply_increment(
        h1, okt.filter(F.col("commit_ts") > F.col("_t_split")))
    return h2.select("db", "tbl", "pk", "val", "valid_from",
                     "valid_to", "is_current")


def q_cdc_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance of per-(db, tbl) COUNT/SUM purely
    from change deltas — never materializing the snapshot (the Spark-
    first answer to 'query the replicated table', scale:
    one group-keyed partial agg instead of a per-PK apply). The oracle
    derives the same numbers the OPPOSITE way: last-image-wins snapshot
    apply, then GROUP BY — so agreement proves the delta algebra."""
    ok = ordering.ordered_stream(_spark_changes(spark, sf_dir))
    cl = incremental_agg.coherent_changelog(ok)
    out = incremental_agg.maintain_group_aggregates(cl, ["db", "tbl"])
    return out.select("db", "tbl", "n_rows", "sum_val")


def q_cdc_incremental_extrema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIN/MAX per (db, tbl) maintained from change deltas — the
    non-self-maintainable aggregate, solved with a delta-maintained
    auxiliary multiset (per-(group, value) live reference counts).
    The oracle derives the same numbers from the applied snapshot, so
    agreement proves a delete retiring the current extremum is
    handled (pure +/- maintenance cannot see it)."""
    ok = ordering.ordered_stream(_spark_changes(spark, sf_dir))
    cl = incremental_agg.coherent_changelog(ok)
    return (incremental_agg.maintain_group_extrema(cl, ["db", "tbl"])
            .select("db", "tbl", "min_val", "max_val",
                    "n_distinct_live"))


def q_cdc_incremental_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact nearest-rank p50/p90/p99 per (db, tbl) read off the SAME
    delta-maintained value multiset that serves MIN/MAX — quantiles
    without a snapshot and without sorting raw rows (cumulative
    refcounts rank every live row implicitly). Oracle ranks the
    applied snapshot's values directly."""
    ok = ordering.ordered_stream(_spark_changes(spark, sf_dir))
    cl = incremental_agg.coherent_changelog(ok)
    aux = incremental_agg.value_multiset(cl, ["db", "tbl"])
    return (incremental_agg.quantiles_from_multiset(aux, ["db", "tbl"])
            .select("db", "tbl", "n_live", "p50_val", "p90_val",
                    "p99_val"))


def q_cdc_incremental_topvals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(db, tbl) heavy hitters — the 3 most frequent live value
    buckets (floor(val)) — read off a delta-maintained multiset over
    the DERIVED value domain (old/new images pass through the same
    quantization, so refcounts stay exact). Oracle ranks the applied
    snapshot's bucket frequencies with the same total order."""
    ok = ordering.ordered_stream(_spark_changes(spark, sf_dir))
    cl = (incremental_agg.coherent_changelog(ok)
          .withColumn("val_b", F.floor("val").cast("long"))
          .withColumn("old_val_b", F.floor("old_val").cast("long")))
    aux = incremental_agg.value_multiset(
        cl, ["db", "tbl"], val_col="val_b", old_col="old_val_b")
    return (incremental_agg.top_values_from_multiset(aux, ["db", "tbl"], 3)
            .select("db", "tbl", "rank",
                    F.col("v").alias("val_bucket"), "live_count"))


def q_cdc_incremental_agg_wide(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The map-model twin of cdc_incremental_agg: deltas extracted
    from full row images (values/old_values string maps — the DML
    shape a real binlog feed arrives in, pkg/loader/model.go:50-64).
    Same independent snapshot oracle, so the element_at/cast
    extraction path is verified end to end."""
    ok = ordering.ordered_stream(_spark_changes(spark, sf_dir))
    cl = incremental_agg.coherent_changelog(ok)
    val_s = F.col("val").cast("string")
    old_s = F.col("old_val").cast("string")
    wide = (cl.withColumn(
                "values", F.create_map(F.lit("pk"),
                                       F.col("pk").cast("string"),
                                       F.lit("val"), val_s))
              .withColumn(
                "old_values",
                F.when(old_s.isNotNull(),
                       F.create_map(F.lit("pk"),
                                    F.col("pk").cast("string"),
                                    F.lit("val"), old_s))))
    out = incremental_agg.maintain_group_aggregates_wide(
        wide, ["db", "tbl"], field="val")
    return out.select("db", "tbl", "n_rows", "sum_val")


def q_cdc_incremental_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The maintained cube: COUNT/SUM at EVERY granularity of
    (db, tbl) — per-table, per-db subtotal, grand total — from change
    deltas in ONE pass (rollup on the delta aggregation; sums
    telescope per grouping set exactly as per group). Oracle applies
    the snapshot and ROLLUPs it."""
    ok = ordering.ordered_stream(_spark_changes(spark, sf_dir))
    cl = incremental_agg.coherent_changelog(ok)
    out = incremental_agg.maintain_group_aggregates(
        cl, ["db", "tbl"], rollup=True)
    return out.select("db", "tbl", "n_rows", "sum_val")


# deterministic fact sample for the temporal join (shared SQL)
TEMPORAL_FACTS_SELECT = """
SELECT event_id            AS fact_id,
       user_id             AS pk,
       event_id * 10 + 3   AS fact_ts
FROM events WHERE event_id % 7 = 0
"""


def q_cdc_temporal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal (point-in-time) join: each fact row joined to the SCD2
    dimension VERSION valid at the fact's own timestamp — composed
    from scd2_history + the bucketed point-in-interval join (no
    inequality-join explosion; open current intervals capped at the
    max fact ts before bucket-explode so the candidate set stays
    bounded). Oracle is DuckDB's native inequality LEFT join."""
    from tidb_binlog_spark.operators import rangejoin
    ok = ordering.ordered_stream(_spark_changes(spark, sf_dir))
    hist = (scd2.scd2_history(ok)
            .filter((F.col("db") == "db1") & (F.col("tbl") == "ptest"))
            .select("pk", "val", "valid_from", "valid_to"))
    load_tables(spark, sf_dir, "events")
    facts = spark.sql(TEMPORAL_FACTS_SELECT)
    cap = facts.agg(F.max("fact_ts").alias("_cap"))
    hist_b = (hist.crossJoin(F.broadcast(cap))
              .withColumn("valid_end",
                          F.least(F.coalesce(F.col("valid_to") - 1,
                                             F.col("_cap")),
                                  F.col("_cap")))
              .filter(F.col("valid_from") <= F.col("valid_end"))
              .drop("_cap"))
    j = rangejoin.point_in_interval_join(
        facts, hist_b, on=["pk"], point_ts="fact_ts",
        start_col="valid_from", end_col="valid_end",
        bucket_width=4096, how="left")
    return j.select("fact_id", "pk", "fact_ts", "val", "valid_from")


def q_cdc_incremental_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean and population variance per (db, tbl) maintained from
    change deltas — COUNT/SUM/SUM-of-squares are all self-maintainable
    (exact DECIMAL telescoping), so second-moment statistics need zero
    extra state. Oracle computes the identical decimal sums over the
    applied snapshot and the same final double expression."""
    ok = ordering.ordered_stream(_spark_changes(spark, sf_dir))
    cl = incremental_agg.coherent_changelog(ok)
    return (incremental_agg.maintain_group_moments(cl, ["db", "tbl"])
            .select("db", "tbl", "n_rows", "sum_val", "mean_val",
                    "var_val"))


# a slowly-changing dimension DERIVED from events (shared SQL): every
# 20th event re-tiers one account; the current image is the last
# change per account
DIM_CHANGES_SELECT = """
SELECT event_id                          AS d_arrival,
       user_id % 50                      AS account,
       event_id * 10                     AS d_ts,
       CASE CAST(event_id % 3 AS INT) WHEN 0 THEN 'gold'
            WHEN 1 THEN 'silver' ELSE 'bronze' END AS tier
FROM events WHERE event_id % 20 = 7
"""


def q_cdc_incremental_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate-over-join IVM: revenue per dimension TIER maintained
    from fact deltas alone — per-account partial sums (level 1, from
    the changelog) broadcast-joined to the current dimension image
    (level 2); raw facts never join the dimension, and a re-tiered
    account moves its whole partial at read time. Oracle joins the
    applied fact snapshot to the same dimension image directly."""
    ok = ordering.ordered_stream(_spark_changes(spark, sf_dir))
    cl = (incremental_agg.coherent_changelog(ok)
          .withColumn("account", F.col("pk") % 50))
    load_tables(spark, sf_dir, "events")
    dimch = spark.sql(DIM_CHANGES_SELECT)
    from pyspark.sql import Window as W
    w = W.partitionBy("account").orderBy(F.desc("d_ts"),
                                         F.desc("d_arrival"))
    dim_last = (dimch.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1).select("account", "tier"))
    return (incremental_agg.maintain_join_aggregate(
                cl, dim_last, ["account"], ["tier"])
            .select("tier", "n_rows", "sum_val"))


def q_events_overlap_bursts(spark, sf_dir):
    """Interval x interval overlap join: per-user activity sessions
    (non-error, 30 min gap) overlapped with error bursts (errors,
    10 min gap) — which sessions were degraded, and for how long.
    Bucketed overlap join (canonical-bucket exactly-once), never a
    nested-loop; left mode keeps burst-free sessions."""
    from tidb_binlog_spark.operators.rangejoin import interval_overlap_join
    load_tables(spark, sf_dir, "events")
    ev = spark.table("events")   # ts is BIGINT nanos
    sess = _gap_sessions(ev, F.col("event_type") != "error",
                         30 * 60 * 1_000_000_000, "session")
    burst = _gap_sessions(ev, F.col("event_type") == "error",
                          10 * 60 * 1_000_000_000, "burst") \
        .drop("n_burst")
    out = interval_overlap_join(
        sess, burst, ["user_id"], "session_start", "session_end",
        "burst_start", "burst_end",
        bucket_width=3_600_000_000_000, how="left")
    return out.select(
        "user_id", "session_no", "session_start", "session_end",
        "n_session", "burst_no", "burst_start", "burst_end",
        F.when(F.col("burst_no").isNotNull(),
               F.least("session_end", "burst_end")
               - F.greatest("session_start", "burst_start"))
         .alias("overlap_ns"))


def q_text_weighted_sample(spark, sf_dir):
    """Quality-weighted corpus downsample: deterministic A-ES draw of
    20 docs per language with inclusion odds proportional to
    1 + token count (no RNG — md5 tickets, micro-quantized rank
    keys, replay-stable)."""
    from tidb_binlog_spark.functions import curation
    sized = textfn.with_tokens(_docs(spark, sf_dir)).select(
        "doc_id", "lang",
        (F.size("toks") + 1).cast("long").alias("w"))
    out = curation.weighted_sample(sized, "w", 20, "lang")
    return out.select("doc_id", "lang", "w", "score_micro",
                      "sample_rank")


WEEK_NS = 7 * 86_400 * 1_000_000_000


def q_events_rolling_activity(spark, sf_dir):
    """Per-event 7-day rolling activity: count + exact value sum of
    the user's events in [ts - 7d, ts]. One range-frame window — a
    single user-keyed shuffle, O(rows) frame sweep, no self-join."""
    from tidb_binlog_spark.operators.timeseries import rolling_window
    load_tables(spark, sf_dir, "events")
    ev = spark.table("events")   # ts is BIGINT nanos
    out = rolling_window(ev, ["user_id"], "ts", WEEK_NS, "value")
    return out.select("user_id", "event_id", "ts",
                      F.col("n_window").alias("n_7d"),
                      F.col("sum_window").alias("value_7d"))


def q_events_cohort_retention(spark, sf_dir):
    """Weekly cohort retention: users bucketed by signup week, counted
    once per later active week. Events reduce to distinct (user,
    week) before the cohort join — the aggregate runs on users x
    weeks, not raw events."""
    from tidb_binlog_spark.operators.timeseries import cohort_retention
    load_tables(spark, sf_dir, "events")
    ev = spark.table("events")
    return cohort_retention(ev, "user_id", "ts", WEEK_NS,
                            F.col("event_type") == "signup")


FUNNEL_STEPS = ["signup", "view", "purchase"]
FUNNEL_WINDOW_NS = 72 * 3_600_000_000_000   # 72 h conversion window


def q_events_funnel(spark, sf_dir):
    """Conversion funnel signup->view->purchase: per user the earliest
    greedy completion times, later steps confined to a 72 h window of
    the signup (k-1 user-keyed min-after joins, nothing quadratic —
    at sf0.01 the window caps ~1/3 of users below stage 3)."""
    from tidb_binlog_spark.operators.funnel import funnel
    load_tables(spark, sf_dir, "events")
    ev = spark.table("events")   # ts is BIGINT nanos (load contract)
    return funnel(ev, FUNNEL_STEPS, window=FUNNEL_WINDOW_NS)


def q_text_strip_spans(spark, sf_dir):
    """The strip stage composed with span detection: every document
    rebuilt with its duplicated >=16-token passages removed (first
    occurrence corpus-wide survives), plus the removed-token count."""
    docs = _docs(spark, sf_dir)
    return dedupfn.strip_spans(docs, dedupfn.duplicate_spans(docs, w=16))


def q_corpus_split(spark, sf_dir):
    """Deterministic leak-proof train/val/test assignment by md5
    ticket range — a doc's split never changes as the corpus grows."""
    from tidb_binlog_spark.functions import curation
    return curation.split_corpus(_docs(spark, sf_dir))


def q_corpus_length_quantiles(spark, sf_dir):
    """Exact per-source token-length quantiles (nearest-rank p50/p90/
    p99) — the distribution report behind truncation budgets and
    packing window choices."""
    return scoring.corpus_length_quantiles(_docs(spark, sf_dir))


def q_doc_cdc_chunks(spark, sf_dir):
    """Content-defined chunking (hash-gated breakpoints): byte-level
    dedup-storage chunks whose boundaries survive insertions — the
    chunk-store primitive under near-dup storage systems."""
    from tidb_binlog_spark.functions import curation
    return curation.cdc_chunks(_docs(spark, sf_dir))


def q_dedup_incremental(spark, sf_dir):
    """Incremental-ingest dedup: the doc_id%3==0 slice arrives as the
    'new batch' against the rest of the corpus as the existing index.
    Deterministic injections exercise both paths: every 15th new doc
    carries an exact copy of a seen doc's text; every 21st carries a
    near-copy (seen text + one extra word) that passes the exact gate
    but shares MinHash band buckets."""
    docs = _docs(spark, sf_dir)
    shifted = docs.select((F.col("doc_id") - 1).alias("doc_id"),
                          F.col("text").alias("next_text"))
    new0 = (docs.join(shifted, "doc_id", "left")
            .filter(F.col("doc_id") % 3 == 0)
            .select(
                "doc_id",
                F.when((F.col("doc_id") % 15 == 0)
                       & F.col("next_text").isNotNull(),
                       F.col("next_text"))
                 .when((F.col("doc_id") % 21 == 0)
                       & F.col("next_text").isNotNull(),
                       F.concat(F.col("next_text"), F.lit(" extraword")))
                 .otherwise(F.col("text")).alias("text")))
    seen = docs.filter(F.col("doc_id") % 3 != 0).select("doc_id", "text")
    return dedupfn.incremental_dedup(new0, seen)


def q_ann_doc_lsh(spark, sf_dir):
    """Doc-level ANN without a model: feature-hashing embeddings ->
    LSH buckets -> in-bucket exact cosine top-k — the raw-text
    similarity search path (zero vectors gated; exact integer vectors
    keep every fold engine-exact)."""
    emb = (scoring.hash_embed(_docs(spark, sf_dir))
           .filter(F.expr("exists(embedding, x -> x <> CAST(0.0 AS DOUBLE))"))
           .select(F.col("doc_id").alias("vec_id"), "embedding"))
    return simfn.lsh_topk(emb, query_mod=50, k=5) \
        .select("query_id", "vec_id", "cosine", "rank")


def q_corpus_token_stats(spark, sf_dir):
    """Zipf-curve vocabulary report: top-50 tokens with rank and
    cumulative share, plus vocab/total counts — the corpus-audit
    surface."""
    return scoring.corpus_token_stats(_docs(spark, sf_dir))


def q_text_bigram_lm(spark, sf_dir):
    """Interpolated bigram-LM surprisal per doc — the step up from
    unigram scoring; micro-nat integer quantization per occurrence."""
    return scoring.bigram_surprisal(_docs(spark, sf_dir))


def q_doc_hash_embed(spark, sf_dir):
    """Feature-hashing document embeddings (hashing trick): model-free
    dense vectors for raw text so the ANN/semantic-dedup stack applies
    to the documents table. Components are exact signed counts; the
    compare surface serializes them as integer CSV."""
    emb = scoring.hash_embed(_docs(spark, sf_dir))
    return emb.select(
        "doc_id",
        F.expr("array_join(transform(embedding, "
               "x -> CAST(CAST(x AS BIGINT) AS STRING)), ',')")
         .alias("embed_csv"),
        F.expr("size(filter(embedding, x -> x <> CAST(0.0 AS DOUBLE)))")
         .alias("nnz"),
        F.expr("CAST(aggregate(transform(embedding, x -> x * x), "
               "CAST(0.0 AS DOUBLE), (a, v) -> a + v) AS BIGINT)")
         .alias("l2_sq"))


def q_dedup_embedding_clusters(spark, sf_dir):
    """Embedding near-dup CLUSTERS: connected components over the
    cosine near-dup graph — the canonical-representative assignment a
    dedup pipeline actually consumes (same CC operator as causality
    grouping and minhash clusters). Consumes the collapse-first pair
    graph (r9): identical-vector groups arrive as rep->member star
    edges plus rep-level LSH pairs — the components (and min-id
    cluster labels) are identical to the all-pairs graph's, with
    linearly many edges on mass-duplicate corpora instead of
    quadratically many (r8 sweep: 613x at 100x before this fix)."""
    pairs = simfn.embedding_near_dups(_embs(spark, sf_dir))
    edges = (pairs.selectExpr("vec_a AS txn_id", "CAST(vec_b AS STRING) AS key")
             .unionByName(pairs.selectExpr("vec_b AS txn_id",
                                           "CAST(vec_b AS STRING) AS key")))
    groups = causality.causality_groups(edges)
    return groups.selectExpr("txn_id AS vec_id", "group_id AS cluster_id")


def _dirtied_docs(spark, sf_dir):
    """Deterministically dirtied corpus (every 7th doc gets injected
    control bytes + double spaces) so the strip/collapse paths are
    actually exercised, not no-ops."""
    return _docs(spark, sf_dir).withColumn(
        "text",
        F.when(F.col("doc_id") % 7 == 0,
               F.concat(F.lit("\x01"), F.regexp_replace("text", " ", "  "),
                        F.lit("\x02")))
         .otherwise(F.col("text")))


def q_text_profile(spark, sf_dir):
    """Per-document text-analysis profile in one projection-joined view
    (merged r3: former text_token_count / text_quality / text_lang_id /
    text_repetition / text_normalize). Each metric family stays its own
    zero-shuffle Catalyst projection; doc_id equi-joins stitch them —
    at corpus scale these co-partition on the same key, one shuffle
    total, and a single pass materializes every per-doc gate the
    curation pipeline consumes."""
    docs = _docs(spark, sf_dir)
    tok = textfn.token_count(docs)
    qual = textfn.quality_score(docs)
    lang = textfn.lang_id(docs)
    rep = textfn.repetition_metrics(docs)
    nrm = textfn.normalize_text(_dirtied_docs(spark, sf_dir))
    return (tok.join(qual, "doc_id").join(lang, "doc_id")
            .join(rep, "doc_id").join(nrm, "doc_id"))


def q_doc_fingerprint(spark, sf_dir):
    return textfn.fingerprints(_docs(spark, sf_dir))


def q_doc_chunks(spark, sf_dir):
    """Fixed-size token-window chunking with overlap (64-token
    windows, stride 48): the unit a training pipeline tokenizes.
    Zero-shuffle per-doc array expressions."""
    from tidb_binlog_spark.functions import curation
    return curation.chunk_documents(_docs(spark, sf_dir))


def q_doc_shuffle(spark, sf_dir):
    """Seeded, replay-stable global shuffle order (md5 rank) — fixed
    hex-prefix buckets + broadcast offsets, no global sort."""
    from tidb_binlog_spark.functions import curation
    return curation.deterministic_shuffle(_docs(spark, sf_dir))


# 8 tokens = exactly one line_dedup window, so every 5th doc shares
# line 0 — deterministic boilerplate the corpus itself lacks
BOILER_HEADER = "sign up for our newsletter today click here"


def q_text_line_dedup(spark, sf_dir):
    """Line-level boilerplate removal (CCNet/RefinedWeb stage): lines
    (8-token windows) present in >= 3 distinct docs are stripped;
    every 5th doc gets a known boilerplate header injected so the
    removal path is exercised, not a no-op."""
    from tidb_binlog_spark.functions import curation
    docs = _docs(spark, sf_dir).withColumn(
        "text",
        F.when(F.col("doc_id") % 5 == 0,
               F.concat(F.lit(BOILER_HEADER + " "), F.col("text")))
         .otherwise(F.col("text")))
    return curation.line_dedup(docs)


def q_text_bm25(spark, sf_dir):
    """BM25 keyword relevance against a fixed query — corpus stats
    (N, avgdl, df) broadcast, per-term scores micro-quantized before
    the integer sum so the DuckDB oracle matches bit-for-bit."""
    return scoring.bm25_scores(_docs(spark, sf_dir))


def q_text_unigram_lm(spark, sf_dir):
    """Unigram-LM surprisal per doc (perplexity-style quality score):
    corpus-ML token probabilities, micro-nat quantization per
    occurrence, exact integer aggregation."""
    return scoring.unigram_surprisal(_docs(spark, sf_dir))


# DuckDB mirror of textfn.normalize_text over _dirtied_docs (the
# text_profile normalize leg).
TEXT_NORMALIZE_DIRTIED_SQL = r"""
    WITH d AS (SELECT doc_id,
        CASE WHEN doc_id % 7 = 0
             THEN chr(1) || regexp_replace(text, ' ', '  ', 'g')
                  || chr(2)
             ELSE text END AS text
      FROM documents),
    s AS (SELECT doc_id, text,
            regexp_replace(text, '[\x00-\x1f\x7f]', '', 'g')
              AS stripped
          FROM d),
    c AS (SELECT *,
            trim(regexp_replace(stripped, ' {2,}', ' ', 'g'))
              AS collapsed
          FROM s)
    SELECT doc_id, collapsed AS clean_text,
      length(text) - length(stripped) AS n_ctrl_removed,
      length(stripped) - length(collapsed) AS n_ws_collapsed,
      length(text) > length(collapsed) AS was_dirty
    FROM c
"""


def _ddl_stream_oracle() -> str:
    """DuckDB mirror of q_cdc_ddl_stream, generated from the same
    pattern lists operators/ddl.py uses."""
    skip = " OR ".join(
        f"regexp_matches(upper(ddl_sql), '{p}')"
        for p in ddl.UNSUPPORTED_DDL_PATTERNS)
    kind_case = "CASE " + " ".join(
        f"WHEN regexp_matches(upper(ddl_sql), '{pat}') THEN '{k}'"
        for pat, k in ddl.KIND_PATTERNS) + " ELSE 'other' END"
    return f"""
        {CHANGES_CTE},
        d AS (SELECT arrival_seq, db, {DDL_CASE} AS ddl_sql
              FROM changes WHERE arrival_seq % 50 = 0)
        SELECT arrival_seq, db, ddl_sql,
          {kind_case} AS ddl_kind,
          ({skip}) AS should_skip,
          CASE WHEN ({skip}) THEN NULL
               ELSE 'USE `' || db || '`; ' || ddl_sql END AS apply_sql
        FROM d
    """


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------


def q_corpus_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse lexical top-k document similarity over an inverted-index
    join (scoring.tfidf_topk): df-capped postings, milli-quantized idf,
    exact integer dot products — the lexical complement of the dense
    ANN family."""
    return scoring.tfidf_topk(_docs(spark, sf_dir))


def q_snapshot_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Large-volume orders (TPC-H Q18 flavor): the lineitem aggregate
    shuffles on the order key once; the HAVING filter reduces it to a
    sliver before the orders join; customer broadcasts; deterministic
    top-50 via TakeOrderedAndProject."""
    t = load_tables(spark, sf_dir, "lineitem", "orders", "customer")
    big = (t["lineitem"].groupBy("l_orderkey")
           .agg(F.sum(F.col("l_quantity").cast("decimal(38,6)"))
                 .alias("qty_d"))
           .filter(F.col("qty_d") > 300))
    return (big.join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
            .join(F.broadcast(t["customer"]),
                  F.col("o_custkey") == F.col("c_custkey"))
            .select("c_name", "c_custkey", "o_orderkey", "o_orderdate",
                    "o_totalprice",
                    F.col("qty_d").cast("double").alias("total_qty"))
            .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
            .limit(50))


def q_snapshot_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top supplier(s) by 1997 revenue (TPC-H Q15 flavor): revenue per
    supplier is one map-side-combinable aggregate (~#suppliers rows);
    the max threshold broadcasts back as a 1-row frame (the scalar
    subquery of the reference query) and the comparison stays DECIMAL
    so ties are exact, never float-fuzzy."""
    t = load_tables(spark, sf_dir, "lineitem", "supplier")
    # range predicate, not year(): a function over the column would
    # block parquet predicate pushdown (asserted in
    # test_scale_contracts.test_r6_snapshot_pushdown)
    rev = (t["lineitem"]
           .filter((F.col("l_shipdate") >= "1997-01-01")
                   & (F.col("l_shipdate") < "1998-01-01"))
           .groupBy("l_suppkey")
           .agg(F.sum((F.col("l_extendedprice")
                       * (F.lit(1.0) - F.col("l_discount")))
                      .cast("decimal(38,6)")).alias("rev_d")))
    mx = rev.agg(F.max("rev_d").alias("mx_d"))
    return (rev.crossJoin(F.broadcast(mx))
            .filter(F.col("rev_d") == F.col("mx_d"))
            .join(F.broadcast(t["supplier"]),
                  F.col("l_suppkey") == F.col("s_suppkey"))
            .select(F.col("s_suppkey"), F.col("s_name"),
                    F.col("rev_d").cast("double").alias("total_revenue")))


def q_snapshot_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue-change forecast (TPC-H Q6 flavor): a pure
    filter-aggregate whose predicates all push to the parquet scan —
    the canonical pushdown showcase (one row out, zero joins)."""
    t = load_tables(spark, sf_dir, "lineitem")
    return (t["lineitem"]
            .filter((F.col("l_shipdate") >= "1997-01-01")
                    & (F.col("l_shipdate") < "1998-01-01")
                    & (F.col("l_discount") >= 0.05)
                    & (F.col("l_discount") <= 0.07)
                    & (F.col("l_quantity") < 24))
            .agg(F.sum((F.col("l_extendedprice") * F.col("l_discount"))
                       .cast("decimal(38,6)")).cast("double")
                  .alias("revenue_effect"),
                 F.count(F.lit(1)).alias("n_items")))



def q_cdc_disorder_displacement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operational disorder audit: per source, how far events arrive
    from their commit-ts order (|arrival rank - ts rank| per event,
    aggregated). The monitoring-surface complement of the order gate
    — the reference alerts on disorder counts (merge.go quarantine
    metrics); this quantifies the displacement distribution so
    watermark delay can be SIZED from data. Windows partition by
    source (never global); outputs are exact integers (mean scaled
    x100 via integer division)."""
    from pyspark.sql import Window
    ch = _spark_changes(spark, sf_dir)
    wa = Window.partitionBy("source_id").orderBy("arrival_seq")
    wt = Window.partitionBy("source_id").orderBy("commit_ts",
                                                 "arrival_seq")
    d = (ch.withColumn("arr_rank", F.row_number().over(wa))
         .withColumn("ts_rank", F.row_number().over(wt))
         .withColumn("disp", F.abs(F.col("arr_rank") - F.col("ts_rank"))))
    agg = d.groupBy("source_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(F.col("disp") > 0, 1).otherwise(0))
         .alias("n_displaced"),
        F.max("disp").cast("long").alias("max_disp"),
        F.sum("disp").alias("_sum_disp"))
    return agg.select(
        "source_id", "n_events", "n_displaced", "max_disp",
        F.expr("(_sum_disp * 100) DIV n_events").alias("mean_disp_x100"))


def q_corpus_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source near-duplicate overlap matrix: MinHash-LSH
    candidate links labeled with each endpoint's source, rolled up per
    unordered source pair — the audit that tells a corpus curator
    WHICH feeds duplicate each other (e.g. a crawl mirroring another).
    The pair set is tiny next to the corpus; the source labels join on
    the doc key (no broadcast of the corpus-sized dimension)."""
    docs = _docs(spark, sf_dir)
    pairs = dedupfn.minhash_lsh_pairs(docs)
    lab = docs.select("doc_id", "source")
    j = (pairs
         .join(lab.select(F.col("doc_id").alias("doc_a"),
                          F.col("source").alias("src_a")), "doc_a")
         .join(lab.select(F.col("doc_id").alias("doc_b"),
                          F.col("source").alias("src_b")), "doc_b"))
    return (j.select(F.least("src_a", "src_b").alias("source_a"),
                     F.greatest("src_a", "src_b").alias("source_b"))
            .groupBy("source_a", "source_b")
            .agg(F.count(F.lit(1)).alias("n_links")))



def q_corpus_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature (alpha=0.7) mixture sampling over the language
    strata with a 300-doc budget — small strata upweighted relative
    to their natural share, exact integer caps, md5-ticket draw."""
    from tidb_binlog_spark.functions import curation
    return curation.temperature_mix(_docs(spark, sf_dir), budget=300)



def q_events_type_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type transition matrix (first-order Markov counts): for
    each user-consecutive (from_type -> to_type) pair, global counts
    and the micro-quantized row-conditional probability — the
    behavioral-analytics companion of the funnel/sessionize family.
    One per-user lag window (partitioned, never global) + one tiny
    (from, to) aggregate; probabilities divide exact integers."""
    from pyspark.sql import Window
    load_tables(spark, sf_dir, "events")
    ev = spark.table("events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    trans = (ev.withColumn("to_type", F.lead("event_type").over(w))
             .filter(F.col("to_type").isNotNull())
             .groupBy(F.col("event_type").alias("from_type"), "to_type")
             .agg(F.count(F.lit(1)).alias("n")))
    tot = Window.partitionBy("from_type")
    return (trans
            .withColumn("n_from", F.sum("n").over(tot))
            .withColumn("p_micro",
                        F.expr("(n * 1000000) DIV n_from"))
            .select("from_type", "to_type", "n", "n_from", "p_micro"))



def q_mm_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio framing plumbing (mm.audio_frame_features_stub): fixed
    256-byte sample windows -> integer features per window through
    the Arrow mapInPandas path; exact-integer features make the full
    multimodal framing path oracle-checkable. ASCII-only docs: the
    byte/char-window equivalence the DuckDB oracle relies on holds
    only for 1-byte chars, so multi-byte docs are excluded
    identically on both sides."""
    return mm.audio_frame_features_stub(
        _docs(spark, sf_dir).filter(F.expr(ASCII_ONLY_PRED)))



def q_snapshot_diff_drilldown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase sync-diff (cksum.diff_drilldown): key-bucketed digest
    compare, then row-level diff restricted to mismatched buckets —
    the sync_diff_inspector chunk-then-recheck loop as one plan, over
    the same perturbed downstream as snapshot_diff_orders."""
    orders = load_tables(spark, sf_dir, "orders")["orders"]
    src = orders.select("o_orderkey", "o_orderstatus", "o_totalprice")
    kept = (src.filter(F.col("o_orderkey") % 89 != 0)
            .withColumn("o_totalprice",
                        F.when(F.col("o_orderkey") % 97 == 0,
                               F.col("o_totalprice") + 1.0)
                         .otherwise(F.col("o_totalprice"))))
    extra = (src.filter(F.col("o_orderkey") % 83 == 0)
             .withColumn("o_orderkey", F.col("o_orderkey") + 10_000_000))
    dst = kept.unionByName(extra)
    return cksum.diff_drilldown(src, dst, ["o_orderkey"],
                                ["o_orderstatus", "o_totalprice"])



def q_dedup_lsh_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH band-tuning telemetry (dedup.lsh_calibration): per
    signature-agreement level, candidate count, exact-Jaccard true
    positives and integer-quantized precision/mean — the report that
    sizes bands vs rows-per-band without re-running dedup."""
    return dedupfn.lsh_calibration(_docs(spark, sf_dir))



def q_corpus_gate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explainable filtering audit (curation.gate_report): every doc
    with its verdict and fixed-order fail reasons (length, stopword,
    non-alpha, language gates)."""
    from tidb_binlog_spark.functions import curation
    return curation.gate_report(_docs(spark, sf_dir))



def q_cdc_incremental_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact incremental COUNT(DISTINCT val) per (db, tbl) off the
    delta-maintained value multiset (no snapshot, no HLL
    approximation) — the oracle counts distinct values over the
    applied snapshot directly."""
    ok = ordering.ordered_stream(_spark_changes(spark, sf_dir))
    cl = incremental_agg.coherent_changelog(ok)
    aux = incremental_agg.value_multiset(cl, ["db", "tbl"])
    return incremental_agg.distinct_count_from_multiset(aux, ["db", "tbl"])



def q_events_session_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path analysis: the top 20 session-opening event-type paths
    (first 3 events of each 30-min-gap session, '>'-joined) with
    session counts — the funnel-discovery complement of the fixed
    funnel query. All windows partition per user; paths aggregate
    map-side; top-k via TakeOrderedAndProject."""
    from pyspark.sql import Window
    load_tables(spark, sf_dir, "events")
    ev = spark.table("events")   # ts is BIGINT nanos
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_ns = 30 * 60 * 1_000_000_000
    flagged = ev.withColumn(
        "new_s",
        F.when(F.lag("ts").over(w).isNull()
               | ((F.col("ts") - F.lag("ts").over(w)) > gap_ns), 1)
         .otherwise(0))
    numbered = flagged.withColumn(
        "session_no",
        F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0)))
    ws = Window.partitionBy("user_id", "session_no").orderBy("ts", "event_id")
    first3 = (numbered.withColumn("rn", F.row_number().over(ws))
              .filter(F.col("rn") <= 3))
    paths = (first3.groupBy("user_id", "session_no")
             .agg(F.expr("concat_ws('>', transform("
                         "array_sort(collect_list(struct(rn, event_type))),"
                         " s -> s.event_type))").alias("path")))
    return (paths.groupBy("path")
            .agg(F.count(F.lit(1)).alias("n_sessions"))
            .orderBy(F.desc("n_sessions"), F.asc("path"))
            .limit(20))



def q_dedup_savings_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup savings report: near-dup cluster-size histogram + the
    chars a keep-one-per-cluster policy would remove — the
    before/after accounting a curation run publishes. Builds on the
    same LSH clusters (CC over banded candidates); all aggregates are
    cluster-count-sized."""
    docs = _docs(spark, sf_dir).select("doc_id", "n_chars")
    clusters = q_dedup_minhash_clusters(spark, sf_dir)
    sized = (clusters.join(docs, "doc_id")
             .groupBy("cluster_id")
             .agg(F.count(F.lit(1)).alias("cluster_size"),
                  F.sum("n_chars").alias("chars_total"),
                  F.min("n_chars").alias("_keep_chars")))
    return (sized.groupBy("cluster_size")
            .agg(F.count(F.lit(1)).alias("n_clusters"),
                 F.sum(F.col("cluster_size") - 1).alias("n_removable"),
                 F.sum(F.col("chars_total") - F.col("_keep_chars"))
                  .alias("chars_removable")))



def q_cdc_hot_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-key detector: the top-20 most-written primary keys with
    per-op counts and each key's share of its table's writes
    (micro-quantized integer division) — the observable that tells an
    operator WHERE to point the skew toolkit (salting, causality
    group splits) before a straggler shows up. One map-side-combinable
    key aggregate + a tiny table-total broadcast;
    TakeOrderedAndProject caps the report."""
    ch = _spark_changes(spark, sf_dir)
    per_key = (ch.filter(F.col("op").isin("I", "U", "D"))
               .groupBy("db", "tbl", "pk")
               .agg(F.count(F.lit(1)).alias("n_writes"),
                    F.sum(F.when(F.col("op") == "U", 1).otherwise(0))
                     .alias("n_updates")))
    totals = per_key.groupBy("db", "tbl").agg(
        F.sum("n_writes").alias("tbl_writes"))
    return (per_key.join(F.broadcast(totals), ["db", "tbl"])
            .withColumn("share_micro",
                        F.expr("(n_writes * 1000000) DIV tbl_writes"))
            .orderBy(F.desc("n_writes"), F.asc("db"), F.asc("tbl"),
                     F.asc("pk"))
            .limit(20))



def q_snapshot_bracket_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discount-bracket revenue (TPC-H Q19 flavor, sans part): an
    OR-of-ANDs predicate over quantity/discount brackets, aggregated
    per bracket — the disjunctive-pushdown shape (each disjunct is
    scan-friendly; Catalyst pushes the OR of range predicates)."""
    t = load_tables(spark, sf_dir, "lineitem")
    li = t["lineitem"]
    bracket = (F.when((F.col("l_quantity") <= 15)
                      & (F.col("l_discount") >= 0.07), "small_deep")
               .when((F.col("l_quantity") > 15) & (F.col("l_quantity") <= 35)
                     & (F.col("l_discount").between(0.03, 0.07)),
                     "mid_standard")
               .when((F.col("l_quantity") > 35)
                     & (F.col("l_discount") <= 0.03), "large_thin"))
    return (li.withColumn("bracket", bracket)
            .filter(F.col("bracket").isNotNull())
            .groupBy("bracket")
            .agg(F.count(F.lit(1)).alias("n_items"),
                 F.sum((F.col("l_extendedprice")
                        * (F.lit(1.0) - F.col("l_discount")))
                       .cast("decimal(38,6)")).cast("double")
                  .alias("revenue")))


def _pca_oracle_path() -> str:
    """Fixed repo-local path for the PCA oracle artifact — the same
    contract as BPE_ORACLE_PATH (see the NOTE there): cross-process
    stable because the driver may evaluate oracle_sql() in a
    different process than the query run, and repo-local (not a
    world-writable /tmp name) so the parquet/.meta pair the oracle
    trusts cannot be pre-created or swapped by another local user
    (ADVICE r7). Content is deterministic per (sf_dir, dims, k,
    scale); the sidecar skips redundant rebuilds."""
    return os.path.join(_ORACLE_SCRATCH, "pca_oracle.parquet")


def _write_pca_oracle(sf_dir: str, dims: int = 64, k: int = 8,
                      scale: int = 1_000_000) -> None:
    """Independent numpy derivation of the PCA projection over the
    same embeddings parquet: quantize -> int64 matmul moments ->
    shared deterministic basis (pca_basis_from_moments — a pure
    function of the EXACT integer moments both routes compute
    independently) -> per-row pure-Python integer projection. Written
    where the DuckDB oracle reads it (BPE-oracle pattern), with a
    fingerprint sidecar so repeated same-config runs skip the
    rebuild."""
    import hashlib
    import json

    import duckdb
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    key = hashlib.sha256(
        json.dumps([sf_dir, dims, k, scale]).encode()).hexdigest()
    path = _pca_oracle_path()
    meta_path = path + ".meta"
    try:
        if open(meta_path).read() == key and os.path.exists(path):
            return
    except OSError:
        pass

    con = duckdb.connect()
    rows = con.execute(
        f"SELECT vec_id, embedding FROM '{sf_dir}/embeddings.parquet' "
        f"ORDER BY vec_id").fetchall()
    con.close()
    X = np.array([r[1] for r in rows], dtype=np.float64)
    Q = np.floor(X * scale).astype(np.int64)
    n = Q.shape[0]
    s = Q.sum(axis=0)
    G = Q.T @ Q
    basis = simfn.pca_basis_from_moments(
        n, [int(x) for x in s], [[int(x) for x in row] for row in G],
        k, scale)
    out: dict = {"vec_id": [int(r[0]) for r in rows]}
    for j, v in enumerate(basis):
        va = np.array(v, dtype=np.int64)
        off = int(s @ va)
        out[f"pc{j}"] = [int(n) * int(Q[i] @ va) - off for i in range(n)]
    os.makedirs(_ORACLE_SCRATCH, exist_ok=True)
    pq.write_table(pa.table(out), path)
    with open(meta_path, "w") as f:
        f.write(key)


def q_ann_pca_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-integer PCA projection of the embeddings corpus to its
    top-8 principal components (dimensionality reduction ahead of
    clustering / IVF): distributed integer moment pass + driver eigh
    + broadcast integer basis. The oracle is an independent numpy
    route over the same parquet (moments by int64 matmul, projection
    by per-row integer dots) — hash-exact because every cross-row
    fold is integer arithmetic."""
    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    _write_pca_oracle(sf_dir)
    return simfn.pca_project(emb, dims=64, k=8)


def q_rag_retrieve_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG context assembly end to end: lexical tf-idf retrieval
    (inverted-index top-5 per query doc) -> exact content dedup of
    the hits -> greedy rank-order packing into a 192-token context
    budget. The retrieval->prompt composition a retrieval-augmented
    pipeline runs per request, expressed as one Catalyst plan."""
    from tidb_binlog_spark.functions import curation
    docs = _docs(spark, sf_dir)
    topk = scoring.tfidf_topk(docs)
    return curation.retrieve_pack(docs, topk, budget_tokens=192)


def q_corpus_source_divergence(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Per-source total-variation distance vs the rest of the corpus:
    the distribution-shift report behind mixture reweighting, exact
    in integer arithmetic (no engine-variant transcendentals)."""
    return scoring.source_divergence(_docs(spark, sf_dir))


def q_text_quality_classifier(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """fastText-shaped hashed-feature linear classifier with
    deterministic weights — the model-free stand-in that keeps the
    learned-classifier plan shape (explode -> weight lookup -> doc
    sum) oracle-checkable."""
    return scoring.hashed_linear_score(_docs(spark, sf_dir))


def q_cdc_write_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Writes-per-key distribution per table (doubling buckets + max):
    the salting/AQE-skew sizing report — full histogram shape where
    cdc_hot_keys gives only the top-N offenders."""
    return telemetry.write_skew_profile(_spark_changes(spark, sf_dir))


def q_cdc_source_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source commit-ts gap quantiles (nearest-rank, exact
    integer ranks): the staleness report behind heartbeat-interval
    and watermark-delay sizing."""
    return telemetry.source_gap_quantiles(_spark_changes(spark, sf_dir))


def q_cdc_conflict_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Causality-conflict rate per commit-ts bucket: the fraction of
    txns sharing a key with another txn in the bucket — intrinsic
    serialization pressure on the causality-routed apply workers."""
    return telemetry.conflict_rate(_spark_changes(spark, sf_dir))


def q_snapshot_late_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-priority late-shipment check (TPC-H Q4 flavor, adapted:
    no l_commitdate column, so "late" = any lineitem shipped >30 days
    after the order date). The EXISTS becomes a LEFT SEMI join —
    Catalyst keeps only the order keys, no row multiplication from
    multi-lineitem orders; the date-range filter on orders pushes to
    the parquet scan before the shuffle."""
    t = load_tables(spark, sf_dir, "orders", "lineitem")
    o = (t["orders"]
         .filter((F.col("o_orderdate") >= "1996-07-01")
                 & (F.col("o_orderdate") < "1996-10-01")))
    li = t["lineitem"].select("l_orderkey", "l_shipdate")
    late = o.join(
        li,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate")
           > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")),
        "left_semi")
    return (late.groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("order_count"))
            .orderBy("o_orderpriority"))


def q_snapshot_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """National market share (TPC-H Q8 flavor): NATION_5's share of
    AMERICA-region PROMO-part revenue per year. The widest star join
    in the snapshot family — lineitem shuffles once on l_orderkey for
    the orders join; part, customer, supplier, nation, region all
    broadcast (each <= a few thousand rows at any SF — dims don't
    scale with fact volume). Share numerator/denominator are exact
    DECIMAL sums; the division happens once per year row in DOUBLE."""
    t = load_tables(spark, sf_dir, "lineitem", "orders", "customer",
                    "supplier", "part", "nation", "region")
    amer_nations = (t["nation"]
                    .join(t["region"],
                          F.col("n_regionkey") == F.col("r_regionkey"))
                    .filter(F.col("r_name") == "AMERICA")
                    .select(F.col("n_nationkey").alias("cust_natkey")))
    promo = (t["part"].filter(F.col("p_type") == "PROMO")
             .select("p_partkey"))
    supp_nat = (t["supplier"]
                .join(t["nation"],
                      F.col("s_nationkey") == F.col("n_nationkey"))
                .select("s_suppkey", F.col("n_name").alias("supp_nation")))
    o = (t["orders"]
         .filter((F.col("o_orderdate") >= "1996-01-01")
                 & (F.col("o_orderdate") < "1998-01-01")))
    vol = (t["lineitem"]
           .join(F.broadcast(promo),
                 F.col("l_partkey") == F.col("p_partkey"))
           .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
           .join(F.broadcast(t["customer"]),
                 F.col("o_custkey") == F.col("c_custkey"))
           .join(F.broadcast(amer_nations),
                 F.col("c_nationkey") == F.col("cust_natkey"), "left_semi")
           .join(F.broadcast(supp_nat),
                 F.col("l_suppkey") == F.col("s_suppkey"))
           .select(F.year("o_orderdate").alias("o_year"),
                   (F.col("l_extendedprice")
                    * (F.lit(1.0) - F.col("l_discount")))
                   .cast("decimal(38,6)").alias("vol_d"),
                   F.col("supp_nation")))
    return (vol.groupBy("o_year")
            .agg(F.sum(F.when(F.col("supp_nation") == "NATION_5",
                              F.col("vol_d"))
                        .otherwise(F.lit(0).cast("decimal(38,6)")))
                  .cast("double").alias("nation_volume"),
                 F.sum("vol_d").cast("double").alias("total_volume"))
            .withColumn("mkt_share",
                        F.col("nation_volume") / F.col("total_volume"))
            .orderBy("o_year"))


def q_snapshot_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-line profit by supplier nation and year (TPC-H Q9
    flavor, adapted: no partsupp table, so unit cost is modeled as
    0.6 * p_retailprice). lineitem shuffles once on l_orderkey; part
    (LIKE-filtered), supplier, nation broadcast. Profit terms stay
    DECIMAL until the final cast so the nation/year sums are exact."""
    t = load_tables(spark, sf_dir, "lineitem", "orders", "supplier",
                    "part", "nation")
    widgets = (t["part"].filter(F.col("p_name").like("%widget%"))
               .select("p_partkey", "p_retailprice"))
    supp_nat = (t["supplier"]
                .join(t["nation"],
                      F.col("s_nationkey") == F.col("n_nationkey"))
                .select("s_suppkey", F.col("n_name").alias("nation")))
    profit = (t["lineitem"]
              .join(F.broadcast(widgets),
                    F.col("l_partkey") == F.col("p_partkey"))
              .join(F.broadcast(supp_nat),
                    F.col("l_suppkey") == F.col("s_suppkey"))
              .join(t["orders"],
                    F.col("l_orderkey") == F.col("o_orderkey"))
              .select(F.col("nation"),
                      F.year("o_orderdate").alias("o_year"),
                      (F.col("l_extendedprice")
                       * (F.lit(1.0) - F.col("l_discount"))
                       - F.lit(0.6) * F.col("p_retailprice")
                       * F.col("l_quantity"))
                      .cast("decimal(38,6)").alias("amount_d")))
    return (profit.groupBy("nation", "o_year")
            .agg(F.sum("amount_d").cast("double").alias("sum_profit"))
            .orderBy(F.asc("nation"), F.desc("o_year")))


def q_snapshot_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer order-count distribution (TPC-H Q13 flavor): LEFT
    OUTER join so zero-order customers survive with count 0, then a
    second aggregation histograms the counts. Two shuffles by
    construction (per-customer count, then per-count count) — the
    second input is only #customers rows and the histogram is ~tens
    of rows; both aggregates are map-side combinable."""
    t = load_tables(spark, sf_dir, "customer", "orders")
    o = (t["orders"].filter(F.col("o_orderpriority") != "1-URGENT")
         .select("o_custkey", "o_orderkey"))
    per_cust = (t["customer"]
                .join(o, F.col("c_custkey") == F.col("o_custkey"), "left")
                .groupBy("c_custkey")
                .agg(F.count("o_orderkey").alias("c_count")))
    return (per_cust.groupBy("c_count")
            .agg(F.count(F.lit(1)).alias("custdist"))
            .orderBy(F.desc("custdist"), F.desc("c_count")))


def q_snapshot_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Promotion revenue share for one month (TPC-H Q14 flavor):
    conditional aggregate over a broadcast part join; the month range
    pushes to the lineitem scan. Numerator and denominator are exact
    DECIMAL sums; one DOUBLE division at the end (single output
    row)."""
    t = load_tables(spark, sf_dir, "lineitem", "part")
    li = (t["lineitem"]
          .filter((F.col("l_shipdate") >= "1997-09-01")
                  & (F.col("l_shipdate") < "1997-10-01")))
    j = (li.join(F.broadcast(t["part"].select("p_partkey", "p_type")),
                 F.col("l_partkey") == F.col("p_partkey"))
         .select(F.col("p_type"),
                 (F.col("l_extendedprice")
                  * (F.lit(1.0) - F.col("l_discount")))
                 .cast("decimal(38,6)").alias("rev_d")))
    return (j.agg(
        F.sum(F.when(F.col("p_type") == "PROMO", F.col("rev_d"))
               .otherwise(F.lit(0).cast("decimal(38,6)")))
         .cast("double").alias("promo_revenue"),
        F.sum("rev_d").cast("double").alias("total_revenue"))
        .withColumn("promo_pct",
                    F.lit(100.0) * F.col("promo_revenue")
                    / F.col("total_revenue")))


def q_snapshot_small_qty_revenue(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Small-quantity order revenue (TPC-H Q17 flavor): the
    correlated per-part AVG subquery becomes a part-keyed aggregate
    joined back — lineitem shuffles on l_partkey once for the
    threshold build and the filtered brand slice broadcasts against
    it (per-part averages are only #parts rows). Output is yearly
    average revenue = SUM/7 (the fixture spans ~7 ship years)."""
    t = load_tables(spark, sf_dir, "lineitem", "part")
    brand_parts = (t["part"].filter(F.col("p_brand") == "Brand#5")
                   .select("p_partkey"))
    li = t["lineitem"].select("l_partkey", "l_quantity", "l_extendedprice")
    # decimal-sum/count instead of AVG: double summation order differs
    # between engines; the exact-DECIMAL fold is order-insensitive
    thresholds = (li.groupBy("l_partkey")
                  .agg((F.lit(0.2)
                        * (F.sum(F.col("l_quantity").cast("decimal(38,6)"))
                            .cast("double") / F.count(F.lit(1))))
                        .alias("qty_threshold"))
                  .withColumnRenamed("l_partkey", "t_partkey"))
    small = (li.join(F.broadcast(brand_parts),
                     F.col("l_partkey") == F.col("p_partkey"), "left_semi")
             .join(thresholds,
                   F.col("l_partkey") == F.col("t_partkey"))
             .filter(F.col("l_quantity") < F.col("qty_threshold")))
    return small.agg(
        (F.sum(F.col("l_extendedprice").cast("decimal(38,6)"))
          .cast("double") / F.lit(7.0)).alias("avg_yearly"),
        F.count(F.lit(1)).alias("n_items"))


def q_snapshot_waiting_suppliers(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Suppliers who kept orders waiting (TPC-H Q21 flavor, adapted:
    "late" = shipped >60 days after order date; no receipt dates in
    the fixture). The classic EXISTS/NOT-EXISTS pair becomes a LEFT
    SEMI (another supplier on the order) followed by a LEFT ANTI
    (no OTHER supplier was also late) — three scans of lineitem all
    shuffling on l_orderkey, so AQE coalesces them into one exchange
    reuse; supplier broadcast at the end; top 25 via
    TakeOrderedAndProject."""
    t = load_tables(spark, sf_dir, "lineitem", "orders", "supplier")
    li = t["lineitem"].select("l_orderkey", "l_suppkey", "l_shipdate")
    fo = (t["orders"].filter(F.col("o_orderstatus") == "F")
          .select("o_orderkey", "o_orderdate"))
    l1 = (li.join(fo, F.col("l_orderkey") == F.col("o_orderkey"))
          .filter(F.col("l_shipdate")
                  > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
          .select("l_orderkey", "l_suppkey", "o_orderdate"))
    l2 = li.select(F.col("l_orderkey").alias("k2"),
                   F.col("l_suppkey").alias("s2"))
    l3 = (li.join(fo, F.col("l_orderkey") == F.col("o_orderkey"))
          .filter(F.col("l_shipdate")
                  > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
          .select(F.col("l_orderkey").alias("k3"),
                  F.col("l_suppkey").alias("s3")))
    waiting = (l1
               .join(l2, (F.col("l_orderkey") == F.col("k2"))
                     & (F.col("l_suppkey") != F.col("s2")), "left_semi")
               .join(l3, (F.col("l_orderkey") == F.col("k3"))
                     & (F.col("l_suppkey") != F.col("s3")), "left_anti"))
    return (waiting
            .join(F.broadcast(t["supplier"]),
                  F.col("l_suppkey") == F.col("s_suppkey"))
            .groupBy("s_name")
            .agg(F.count(F.lit(1)).alias("numwait"))
            .orderBy(F.desc("numwait"), F.asc("s_name"))
            .limit(25))


def q_snapshot_idle_customers(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Idle high-balance customers by nation (TPC-H Q22 flavor): the
    scalar AVG subquery broadcasts as a 1-row frame; "no recent
    orders" (nothing since 2000-01-01 — every customer in the fixture
    has SOME order, mirroring Q22's 7-year recency clause) is a LEFT
    ANTI join on the date-filtered orders key set, where the date
    predicate pushes to the orders scan before the anti-join
    shuffles. Balance sums stay DECIMAL until the final cast."""
    t = load_tables(spark, sf_dir, "customer", "orders")
    c = t["customer"]
    # exact decimal fold, not AVG: see q_snapshot_small_qty_revenue
    avg_bal = (c.filter(F.col("c_acctbal") > 0.0)
               .agg((F.sum(F.col("c_acctbal").cast("decimal(38,6)"))
                      .cast("double") / F.count(F.lit(1)))
                    .alias("avg_bal")))
    rich = (c.crossJoin(F.broadcast(avg_bal))
            .filter(F.col("c_acctbal") > F.col("avg_bal")))
    recent = (t["orders"]
              .filter(F.col("o_orderdate") >= "2000-01-01")
              .select("o_custkey"))
    idle = rich.join(recent,
                     F.col("c_custkey") == F.col("o_custkey"), "left_anti")
    return (idle.groupBy("c_nationkey")
            .agg(F.count(F.lit(1)).alias("numcust"),
                 F.sum(F.col("c_acctbal").cast("decimal(38,6)"))
                  .cast("double").alias("totacctbal"))
            .orderBy("c_nationkey"))


def q_snapshot_min_cost_supplier(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Min-cost supplier per part (TPC-H Q2 flavor, adapted: no
    partsupp, so the supply relation is the DISTINCT (part, supplier)
    pairs observed in lineitem and "cost" is the supplier's account
    balance). The correlated MIN subquery becomes a part-keyed
    aggregate self-joined on equality; supplier x nation x region
    broadcast; deterministic top-20 parts by retail price."""
    t = load_tables(spark, sf_dir, "lineitem", "supplier", "part",
                    "nation", "region")
    eu_supp = (t["supplier"]
               .join(t["nation"],
                     F.col("s_nationkey") == F.col("n_nationkey"))
               .join(t["region"],
                     F.col("n_regionkey") == F.col("r_regionkey"))
               .filter(F.col("r_name") == "EUROPE")
               .select("s_suppkey", "s_name", "s_acctbal",
                       F.col("n_name").alias("supp_nation")))
    supplies = (t["lineitem"].select("l_partkey", "l_suppkey").distinct()
                .join(F.broadcast(eu_supp),
                      F.col("l_suppkey") == F.col("s_suppkey")))
    min_cost = (supplies.groupBy("l_partkey")
                .agg(F.min("s_acctbal").alias("min_bal")))
    return (supplies
            .join(min_cost.withColumnRenamed("l_partkey", "m_partkey"),
                  (F.col("l_partkey") == F.col("m_partkey"))
                  & (F.col("s_acctbal") == F.col("min_bal")))
            .join(F.broadcast(t["part"]),
                  F.col("l_partkey") == F.col("p_partkey"))
            .select("p_partkey", "p_name", "p_retailprice", "s_suppkey",
                    "s_name", "supp_nation", "s_acctbal")
            .orderBy(F.desc("p_retailprice"), F.asc("p_partkey"),
                     F.asc("s_suppkey"))
            .limit(20))


def q_snapshot_important_parts(spark: SparkSession,
                               sf_dir: str) -> DataFrame:
    """Important-stock threshold (TPC-H Q11 flavor, adapted: "value"
    of a part is the lineitem revenue shipped by NATION_3 suppliers).
    The HAVING > fraction * SUM(total) scalar subquery becomes a
    1-row broadcast against the per-part aggregate; sums fold in
    exact DECIMAL and the threshold compares via one IEEE-identical
    DOUBLE multiply on both engines."""
    t = load_tables(spark, sf_dir, "lineitem", "supplier", "nation")
    n3_supp = (t["supplier"]
               .join(t["nation"],
                     F.col("s_nationkey") == F.col("n_nationkey"))
               .filter(F.col("n_name") == "NATION_3")
               .select("s_suppkey"))
    vals = (t["lineitem"]
            .join(F.broadcast(n3_supp),
                  F.col("l_suppkey") == F.col("s_suppkey"), "left_semi")
            .groupBy("l_partkey")
            .agg(F.sum((F.col("l_extendedprice")
                        * (F.lit(1.0) - F.col("l_discount")))
                       .cast("decimal(38,6)")).alias("value_d")))
    tot = vals.agg(F.sum("value_d").alias("total_d"))
    # threshold compares in DOUBLE on both engines: decimal x literal
    # promotion rules differ (DuckDB widens past 38 -> DOUBLE anyway),
    # and one IEEE multiply of exact decimal-sourced values is
    # engine-identical
    return (vals.crossJoin(F.broadcast(tot))
            .filter(F.col("value_d").cast("double") * F.lit(500.0)
                    > F.col("total_d").cast("double"))
            .select("l_partkey",
                    F.col("value_d").cast("double").alias("part_value"))
            .orderBy(F.desc("part_value"), F.asc("l_partkey")))


def q_snapshot_ship_priority_mix(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Shipping-delay priority mix (TPC-H Q12 flavor, adapted: no
    l_shipmode, so lineitems bucket by ship delay — <=30d fast,
    <=60d medium, else slow). One order-keyed join + conditional
    counts per bucket; the CASE runs post-join on already-pruned
    columns."""
    t = load_tables(spark, sf_dir, "lineitem", "orders")
    j = (t["lineitem"].select("l_orderkey", "l_shipdate")
         .join(t["orders"].select("o_orderkey", "o_orderdate",
                                  "o_orderpriority"),
               F.col("l_orderkey") == F.col("o_orderkey")))
    delay_bucket = (
        F.when(F.col("l_shipdate")
               <= F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"),
               "fast")
        .when(F.col("l_shipdate")
              <= F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"),
              "medium")
        .otherwise("slow"))
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (j.withColumn("delay_bucket", delay_bucket)
            .groupBy("delay_bucket")
            .agg(F.count(F.when(high, 1)).alias("high_line_count"),
                 F.count(F.when(~high, 1)).alias("low_line_count"))
            .orderBy("delay_bucket"))


def q_snapshot_supplier_part_counts(spark: SparkSession,
                                    sf_dir: str) -> DataFrame:
    """Supplier counts by part attributes (TPC-H Q16 flavor, adapted:
    supply pairs from lineitem; the "customer complaints" exclusion
    is suppliers with negative account balance, as a LEFT ANTI join).
    COUNT(DISTINCT supplier) per (brand, type, size-bucket) after
    excluding one brand — the distinct-aggregate + anti-join shape."""
    t = load_tables(spark, sf_dir, "lineitem", "supplier", "part")
    bad_supp = (t["supplier"].filter(F.col("s_acctbal") < 0.0)
                .select("s_suppkey"))
    pairs = (t["lineitem"].select("l_partkey", "l_suppkey").distinct()
             .join(F.broadcast(bad_supp),
                   F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
             .join(F.broadcast(
                 t["part"].filter(F.col("p_brand") != "Brand#1")),
                 F.col("l_partkey") == F.col("p_partkey")))
    return (pairs
            .withColumn("size_bucket",
                        (F.col("p_size") - 1) - (F.col("p_size") - 1) % 10)
            .groupBy("p_brand", "p_type", "size_bucket")
            .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
            .orderBy(F.desc("supplier_cnt"), F.asc("p_brand"),
                     F.asc("p_type"), F.asc("size_bucket")))


def q_snapshot_dominant_suppliers(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Dominant promo-part suppliers (TPC-H Q20 flavor, adapted: a
    supplier qualifies when it shipped MORE THAN A SIXTH of some
    PROMO part's total quantity, ~3x its fair share on this fixture —
    the excess-availability analog without partsupp). Per-(part,
    supplier) and per-part aggregates share one part-keyed shuffle;
    the threshold compares via one engine-identical DOUBLE multiply
    over exact DECIMAL sums."""
    t = load_tables(spark, sf_dir, "lineitem", "supplier", "part",
                    "nation")
    promo = t["part"].filter(F.col("p_type") == "PROMO") \
        .select("p_partkey")
    li = (t["lineitem"]
          .join(F.broadcast(promo),
                F.col("l_partkey") == F.col("p_partkey"), "left_semi")
          .select("l_partkey", "l_suppkey", "l_quantity"))
    pair = (li.groupBy("l_partkey", "l_suppkey")
            .agg(F.sum(F.col("l_quantity").cast("decimal(38,6)"))
                  .alias("pair_qty")))
    tot = (pair.groupBy("l_partkey")
           .agg(F.sum("pair_qty").alias("total_qty"))
           .withColumnRenamed("l_partkey", "t_partkey"))
    # DOUBLE comparison on both engines (see q_snapshot_important_parts)
    dom = (pair.join(tot, F.col("l_partkey") == F.col("t_partkey"))
           .filter(F.col("pair_qty").cast("double") * F.lit(6.0)
                   > F.col("total_qty").cast("double"))
           .select("l_suppkey").distinct())
    return (dom.join(F.broadcast(t["supplier"]),
                     F.col("l_suppkey") == F.col("s_suppkey"))
            .join(F.broadcast(t["nation"]),
                  F.col("s_nationkey") == F.col("n_nationkey"))
            .select("s_suppkey", "s_name",
                    F.col("n_name").alias("nation"))
            .orderBy("s_suppkey"))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the reference's main 'query' — apply an ordered,
    deduplicated change stream to a table snapshot (SURVEY §3.1)."""
    return q_cdc_snapshot_apply(spark, SF0001)


def q_ann_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-integer k-means over micro-quantized embeddings (k=10,
    2 Lloyd rounds, floor-mean updates), hash-checked. Per iteration
    the corpus is scanned, never reshuffled (broadcast centroids +
    (k x dims) aggregate back)."""
    from pyspark.sql import Window
    q = _embs(spark, sf_dir).select(
        "vec_id",
        F.expr(simfn.quantized_vec_expr("embedding", 1000)).alias("qvec"))
    asg = simfn.kmeans_integer(q, k=10, iters=2)
    w = Window.partitionBy("cluster_id")
    return asg.select("vec_id", "cluster_id", "dist",
                      F.count(F.lit(1)).over(w).alias("cluster_n"))


def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checkable SemDeDup: integer k-means clusters, then
    keep-lowest-id within each cluster under a cross-multiplied BIGINT
    cosine test (cos >= 0.35, no float division anywhere). Upgrades
    the semantic-dedup evidence from pytest-only to hash-checked.
    k is DERIVED as ceil(n / 50) on both sides (the oracle's kv CTE
    re-computes it), so the per-cluster pair join stays bounded at
    any corpus size — the guard refuses quadratic configs."""
    return simfn.semantic_dedup_exact(_embs(spark, sf_dir))


def q_cdc_bootstrap_catchup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-dump bootstrap + incremental catch-up (the reference's
    deployment story: restore a full backup, then start drainer at
    initial-commit-ts — drainer/config.go InitialCommitTS,
    syncer.go:60-108): snapshot the stream at T = 60% of max
    commit_ts (the "backup"), re-feed that snapshot as synthetic
    seed images, apply only the post-T tail over it, and converge.
    The oracle derives the final state INDEPENDENTLY by one
    last-image-wins pass over the whole stream — the equivalence is
    exactly the guarantee a bootstrap + catch-up deployment relies
    on."""
    ok = ordering.ordered_stream(_spark_changes(spark, sf_dir))
    cols = ["db", "tbl", "pk", "commit_ts", "seq", "arrival_seq",
            "op", "val", "row_json"]
    t = ok.agg(F.expr("CAST(max(commit_ts) * 3 DIV 5 AS BIGINT)")
               .alias("t_split"))
    okt = ok.crossJoin(F.broadcast(t))
    base = (compaction.apply_snapshot(okt.filter(F.col("commit_ts")
                                                 <= F.col("t_split")))
            .withColumn("seq", F.lit(-1))
            .withColumn("arrival_seq", F.lit(-1))
            .select(*cols))
    tail = okt.filter(F.col("commit_ts") > F.col("t_split")).select(*cols)
    final = compaction.compact_last_image(base.unionByName(tail))
    return (final.filter(F.col("op") != "D")
            .select("db", "tbl", "pk", "commit_ts", "val"))


def q_cdc_txn_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table transaction fanout histogram per source — the
    dispatch-parallelism decision input (one upstream txn = one
    downstream txn, but mutations dispatch per table)."""
    return telemetry.txn_fanout(
        ordering.ordered_stream(_spark_changes(spark, sf_dir)))


def q_cdc_schema_adoption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-version rollout telemetry: per-table version ranges and
    whether consecutive versions' commit-ts windows interleave — the
    observable that says the schema-version gate / default back-fill
    path is live, not dormant."""
    return telemetry.schema_adoption(_spark_changes(spark, sf_dir))


def q_dedup_consensus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-signal consensus dedup: the MinHash-LSH candidate graph,
    the SimHash hamming<=6 graph, and the exact n-gram-Jaccard>=0.5
    graph UNION into one edge set (per-edge signal count = consensus
    weight), then one connected-components pass labels clusters. The
    production rationale: single-signal dedup over web corpora either
    over-merges (LSH false positives) or under-merges (SimHash misses
    re-orderings); the union graph with signal counts lets a curation
    run require 2-of-3 agreement before dropping. Each signal is
    bucketed/banded (never all-pairs); the union adds one small
    edge-keyed aggregate on top.

    Shingle-sharing note (VERDICT r9 item 7, measured r10): feeding
    minhash AND the jaccard verifier from one PERSISTED
    (doc_id, shingles) frame was A/B-tested at sf0.1 and is ~0.3-1.4s
    SLOWER than recomputing — materializing the shingle arrays costs
    more than the fused whole-stage-codegen shingle pass minhash gets
    inline (the `shingle_frame` parameter remains available for
    corpora where the shingle pass dominates, e.g. very long docs).
    The actual cost center is the CC labeling loop — see
    causality_groups' pointer-jumping acceleration."""
    from tidb_binlog_spark.cache import managed_persist as _mp
    docs = _docs(spark, sf_dir)
    mh_pairs = _mp(dedupfn.minhash_lsh_pairs(docs)
                   .select("doc_a", "doc_b"))
    # Materialize the LSH candidates BEFORE the union consumes them
    # twice (the mh branch and the jaccard verifier): lazily, both
    # branches hit the cold cache in the SAME stage and serialize on
    # per-partition cache-compute locks all the way down the nested
    # persisted signature frames — a profiled run showed 402 s of
    # executor runtime at 1.8 s CPU on exactly that count stage. One
    # eager pass turns every downstream read into a cache hit (r13).
    mh_pairs.count()
    mh = mh_pairs.select("doc_a", "doc_b", F.lit("minhash").alias("sig"))
    sh = (dedupfn.simhash_pairs(docs)
          .select("doc_a", "doc_b", F.lit("simhash").alias("sig")))
    # the Jaccard verifier reuses the materialized LSH candidates —
    # one signature build serves both signals
    nj = (dedupfn.ngram_jaccard_pairs(docs, candidates=mh_pairs)
          .select("doc_a", "doc_b", F.lit("jaccard").alias("sig")))
    ep = (mh.unionByName(sh).unionByName(nj).distinct()
          .groupBy("doc_a", "doc_b")
          .agg(F.countDistinct("sig").alias("n_signals")))
    from tidb_binlog_spark.cache import managed_persist
    ep = managed_persist(ep)             # CC + reports reread the edges
    ek = (ep.selectExpr("doc_a AS txn_id", "CAST(doc_b AS STRING) AS key")
          .unionByName(ep.selectExpr("doc_b AS txn_id",
                                     "CAST(doc_b AS STRING) AS key")))
    members = (causality.causality_groups(ek)
               .selectExpr("txn_id AS doc_id", "group_id AS cluster_id"))
    from pyspark.sql import Window
    w = Window.partitionBy("cluster_id")
    cmax = (ep.join(members.withColumnRenamed("doc_id", "doc_a"), "doc_a")
            .groupBy("cluster_id")
            .agg(F.max("n_signals").alias("max_edge_signals")))
    return (members
            .withColumn("n_members", F.count(F.lit(1)).over(w))
            .join(cmax, "cluster_id")
            .select("doc_id", "cluster_id", "n_members",
                    "max_edge_signals"))


def q_cdc_relay_recovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relay-WAL crash recovery through the REAL file path
    (drainer/relay.go:18-73 feedByRelayLogIfNeed): the ordered stream
    is written to the ts-bucketed relay WAL (the write that precedes
    every downstream apply, relayer.go WriteBinlog), a crash leaves
    the checkpoint at T = 60% of max commit_ts, recovery reads ONLY
    the pending suffix back from the WAL files (partition-pruned
    commit_ts > T, relay.go:131-132) and re-applies it over the
    checkpointed snapshot. The oracle re-derives the final state
    INDEPENDENTLY with one last-image-wins pass over the whole
    stream — recovery must converge to it. Upgrades the relay-reader
    evidence from pytest-only to hash-checked; the driver-side max-ts
    read is a bounded scalar (same class as the watermark collects)."""
    from tidb_binlog_spark.sinks.relay import RelayLog
    ok = ordering.ordered_stream(_spark_changes(spark, sf_dir))
    cols = ["db", "tbl", "pk", "commit_ts", "seq", "arrival_seq",
            "op", "val", "row_json"]
    relay = RelayLog(_scratch_dir("relay_recovery"))
    # ONE pass computes the windowed order gate, at any scale: the WAL
    # append is already a full materialization of ``ok``, so both the
    # checkpointed base snapshot (commit_ts <= T) and the pending
    # suffix (> T) read the ts-bucket-pruned WAL back instead of
    # re-running the gate per consumer (r14, guide §8 "move the heavy
    # bytes once" / §2.4; replaces r13's scale-gated persist, whose
    # OFF side still re-ran the gate 3x at bench scale and whose ON
    # side paid a cache write on top of the WAL write).
    relay.append(ok)
    # max(commit_ts) over ``ok`` EQUALS max over the raw stream: among
    # the rows carrying the global max ts, the first by (arrival_seq,
    # source_id) belongs to the transaction that owns that ts and no
    # earlier row repeats it, so it is no duplicate; no row of its
    # source is larger than the global max, so it is no disorder. The
    # raw-stream aggregate prunes to one narrow column and skips the
    # gate's windows entirely.
    t = _spark_changes(spark, sf_dir) \
        .agg(F.max("commit_ts")).first()[0] * 3 // 5
    pending = relay.read(spark, start_ts=t).select(*cols)
    base = (compaction.apply_snapshot(relay.read(spark, stop_ts=t))
            .withColumn("seq", F.lit(-1))
            .withColumn("arrival_seq", F.lit(-1))
            .select(*cols))
    final = compaction.compact_last_image(base.unionByName(pending))
    return (final.filter(F.col("op") != "D")
            .select("db", "tbl", "pk", "commit_ts", "val"))


def q_corpus_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ranked token-budget selection per source (DCLM-style
    "best docs until the budget fills"): classifier score rank + ONE
    stratum-keyed prefix-sum window."""
    from tidb_binlog_spark.functions import curation
    return curation.budget_select(_docs(spark, sf_dir),
                                  budget_tokens=800, by="source")


def q_corpus_fold_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe k-fold assignment audit: folding by CONTENT hash
    puts every exact duplicate in one fold (cross-fold dup pairs = 0
    by construction); folding by doc_id leaks duplicates across
    folds. The report shows both schemes' per-fold sizes and
    cross-fold duplicate-pair counts — the eval-hygiene argument in
    one query. One content-hash aggregate + two tiny rollups."""
    from tidb_binlog_spark.cache import managed_persist as _mp
    k = 5
    docs = _docs(spark, sf_dir)
    h = _mp(docs.select(
        "doc_id", F.md5("text").alias("content_hash"),
        F.expr(f"CAST(conv(substring(md5(text), 1, 8), 16, 10) "
               f"AS BIGINT) % {k}").alias("fold_by_content"),
        (F.col("doc_id") % k).alias("fold_by_id")))
    # cross-fold duplicate pairs per scheme: for a hash spanning
    # cluster c with fold multiplicities m_i, leaked pairs =
    # (C(c,2) - sum_i C(m_i,2))
    def leaked(col: str) -> DataFrame:
        per = (h.groupBy("content_hash", col)
               .agg(F.count(F.lit(1)).alias("m")))
        return (per.groupBy("content_hash")
                .agg(F.sum("m").alias("c"),
                     F.sum(F.expr("m * (m - 1) DIV 2")).alias("inpairs"))
                .agg(F.sum(F.expr("c * (c - 1) DIV 2 - inpairs"))
                      .alias(f"leaked_{col}")))
    sizes = (h.groupBy(F.col("fold_by_content").alias("fold"))
             .agg(F.count(F.lit(1)).alias("n_by_content")))
    sizes_id = (h.groupBy(F.col("fold_by_id").alias("fold"))
                .agg(F.count(F.lit(1)).alias("n_by_id")))
    return (sizes.join(sizes_id, "fold")
            .crossJoin(F.broadcast(leaked("fold_by_content")))
            .crossJoin(F.broadcast(leaked("fold_by_id")))
            .select("fold", "n_by_content", "n_by_id",
                    "leaked_fold_by_content", "leaked_fold_by_id"))


def q_corpus_effective_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-weighted effective dataset size per source: each doc
    contributes n_tokens / cluster_size (micro-quantized integer) so
    a 5x-duplicated page counts once. Raw-vs-effective token totals
    per source — the honest dataset-size number. One content-hash
    aggregate + one source rollup."""
    docs = _docs(spark, sf_dir)
    toks = textfn.token_count(docs).select(
        "doc_id", F.col("n_ws_tokens").alias("n_tokens"))
    hashed = docs.select("doc_id", "source",
                         F.md5("text").alias("content_hash"))
    clusters = (hashed.groupBy("content_hash")
                .agg(F.count(F.lit(1)).alias("cluster_size")))
    per = (hashed.join(toks, "doc_id").join(clusters, "content_hash"))
    return (per.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").alias("raw_tokens"),
                 F.sum(F.expr("(n_tokens * 1000000) DIV cluster_size"))
                  .alias("effective_tokens_micro"))
            .withColumn("dup_inflation_ppm",
                        F.expr("(raw_tokens * 1000000) "
                               "DIV (effective_tokens_micro DIV 1000000)"
                               " - 1000000")))


def q_events_funnel_dropoff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel drop-off table: users reaching each stage, step-over-
    step and end-to-end conversion (ppm) — the report read off the
    per-user funnel frame with one tiny stage aggregate."""
    from tidb_binlog_spark.operators.funnel import funnel
    ev = load_tables(spark, sf_dir, "events")["events"]
    per_user = funnel(ev, FUNNEL_STEPS, window=FUNNEL_WINDOW_NS)
    stages = spark.range(1, len(FUNNEL_STEPS) + 1).toDF("stage")
    reached = (per_user.crossJoin(F.broadcast(stages))
               .filter(F.col("max_stage") >= F.col("stage"))
               .groupBy("stage")
               .agg(F.count(F.lit(1)).alias("n_users")))
    from pyspark.sql import Window
    w = Window.orderBy("stage")   # k rows only (k = #steps)
    return (reached
            .withColumn("prev_users", F.lag("n_users").over(w))
            .withColumn("step_conv_ppm",
                        F.expr("IF(prev_users IS NULL, 1000000, "
                               "(n_users * 1000000) DIV prev_users)"))
            .withColumn("total_users", F.first("n_users").over(
                w.rowsBetween(Window.unboundedPreceding,
                              Window.unboundedFollowing)))
            .select("stage", "n_users", "step_conv_ppm",
                    F.expr("(n_users * 1000000) DIV total_users")
                     .alias("overall_conv_ppm")))


def q_text_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared-vs-predicted language confusion matrix + per-declared-
    lang agreement rate (ppm): the audit that tells a curation run
    whether to trust the metadata lang column or the detector. One
    (lang, pred_lang) aggregate over zero-shuffle per-doc scores."""
    pred = textfn.lang_id(_docs(spark, sf_dir))
    cell = (pred.groupBy("lang", "pred_lang")
            .agg(F.count(F.lit(1)).alias("n_docs")))
    per = (pred.groupBy("lang")
           .agg(F.count(F.lit(1)).alias("n_lang"),
                F.count(F.when(F.col("pred_lang") == F.col("lang"), 1))
                 .alias("n_agree")))
    return (cell.join(per, "lang")
            .select("lang", "pred_lang", "n_docs", "n_lang",
                    F.expr("(n_agree * 1000000) DIV n_lang")
                     .alias("agree_ppm")))


def q_doc_semantic_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextTiling-style topic-boundary chunking: split where the
    adjacent 8-token windows' vocabulary Jaccard drops below 0.2 —
    semantic long-doc splitting next to the fixed-window
    (doc_chunks) and byte-rolling-hash (doc_cdc_chunks) variants.
    Zero-shuffle array expressions per doc."""
    from tidb_binlog_spark.functions import curation
    return curation.semantic_chunks(_docs(spark, sf_dir))


def q_corpus_kmv_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV mergeability, self-verified: per-part sketches over a
    doc_id%2 split union+re-truncate to EXACTLY the whole-corpus
    sketch (merge_exact flag, oracle-checked) — the daily-fold
    contract that lets cardinality state merge without re-reading
    corpora."""
    return scoring.kmv_merge_check(_docs(spark, sf_dir), k=64)


def q_corpus_chunk_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-store dedup savings per source: content-defined chunks
    (boundary-stable under insertions) rolled up to stored-vs-logical
    bytes — the report that justifies a CDC chunk store. r10 plan:
    ``source`` rides through the chunker (no chunk-frame-to-docs
    join), and both rollups collapse into ONE map-side-combinable
    shuffle keyed (source, chunk_md5) — identical md5 means identical
    content means identical chunk_len, so the per-group (count,
    any(chunk_len)) pair yields total AND distinct stats in the same
    pass (the r9 form's persist + join + DISTINCT measured 64x at the
    100x sweep; the boundary pass itself is the 27x doc_cdc_chunks)."""
    from tidb_binlog_spark.functions import curation
    docs = _docs(spark, sf_dir)
    per_md5 = (curation.cdc_chunks(docs, passthrough=("source",))
               .groupBy("source", "chunk_md5")
               .agg(F.count(F.lit(1)).alias("n_copies"),
                    F.first("chunk_len").alias("chunk_len")))
    return (per_md5.groupBy("source")
            .agg(F.sum("n_copies").alias("n_chunks"),
                 F.count(F.lit(1)).alias("n_unique"),
                 F.sum(F.col("n_copies") * F.col("chunk_len"))
                  .alias("bytes_total"),
                 F.sum("chunk_len").alias("bytes_unique"))
            .select("source", "n_chunks", "n_unique",
                    "bytes_total", "bytes_unique",
                    F.expr("((bytes_total - bytes_unique) * 1000000) "
                           "DIV bytes_total").alias("savings_ppm")))


def q_corpus_gate_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-gate threshold sweep: docs/tokens surviving each
    candidate classifier threshold, from ONE corpus pass (the
    pick-the-gate audit; re-running the pipeline per candidate is the
    anti-pattern). Cumulative window runs over n_bins aggregated rows
    only."""
    from tidb_binlog_spark.functions import curation
    return curation.gate_sweep(_docs(spark, sf_dir))


def q_snapshot_diff_repair(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fix-SQL over the orders sync-diff: DELETE the extra downstream
    rows, REPLACE the missing/changed ones with the upstream image —
    the statement files a diff run hands back to the operator. Values
    render via DECIMAL casts / escaped literals so the statement TEXT
    is engine-stable and hash-checked."""
    from tidb_binlog_spark.sinks.sqlgen import _escape_str_lit
    diff = q_snapshot_diff_orders(spark, sf_dir)
    rendered = diff.select(
        F.col("o_orderkey").cast("string").alias("o_orderkey"),
        "diff_status",
        _escape_str_lit(F.col("src_o_orderstatus"))
            .alias("src_o_orderstatus"),
        F.expr("CAST(CAST(src_o_totalprice AS DECIMAL(18,2)) AS STRING)")
            .alias("src_o_totalprice"))
    out = cksum.repair_sql(rendered, "`orders`", ["o_orderkey"],
                           ["o_orderstatus", "o_totalprice"])
    return out.select(F.col("o_orderkey").cast("long").alias("o_orderkey"),
                      "diff_status", "repair_sql")


def q_events_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-6h-window engagement: events, distinct active users, and
    first-seen (new) users. Two map-side-combinable aggregates — the
    new-user count reuses each user's min-window row, never a second
    scan of the stream."""
    t = load_tables(spark, sf_dir, "events")
    win_ns = 6 * 3_600_000_000_000
    b = t["events"].select(
        (F.col("ts") - F.pmod(F.col("ts"), F.lit(win_ns)))
         .alias("window_start"), "user_id")
    per = (b.groupBy("window_start")
           .agg(F.count(F.lit(1)).alias("n_events"),
                F.countDistinct("user_id").alias("n_users")))
    first = (b.groupBy("user_id")
             .agg(F.min("window_start").alias("window_start"))
             .groupBy("window_start")
             .agg(F.count(F.lit(1)).alias("n_new_users")))
    return (per.join(first, "window_start", "left")
            .select("window_start", "n_events", "n_users",
                    F.coalesce("n_new_users", F.lit(0))
                     .alias("n_new_users")))


def q_events_bot_regularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bot detection by inter-arrival regularity: users whose event
    gaps are near-constant — population CV^2 below 1%, exact integer
    test 100 * (n*sumsq - sum^2) < sum^2 (telemetry.
    interarrival_regularity). One per-user lag window + aggregate."""
    t = load_tables(spark, sf_dir, "events")
    return telemetry.interarrival_regularity(t["events"])


def q_corpus_surprisal_histogram(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Per-source surprisal histogram (fixed 0.5-nat bins, clamped):
    the quality-distribution audit behind surprisal-gate choices —
    map-side combinable, no per-source sort."""
    return scoring.surprisal_histogram(_docs(spark, sf_dir))


def q_ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composed search (FAISS IndexIVFPQ shape): coarse probe
    -> M-byte-code asymmetric shortlist -> exact re-rank of 15 per
    query. The full-vector read is confined to the re-rank join.
    sqrt(N)-derived coarse sizing (see q_ann_ivf_topk) so the
    assignment join stays N^1.5, never quadratic."""
    from tidb_binlog_spark.functions import similarity
    emb = load_tables(spark, sf_dir, "embeddings")["embeddings"]
    return similarity.ivfpq_topk(emb, centroid_mod=None)


def q_events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user rolling anomaly flags over event values: trailing
    8-row window, 3-sigma test in squared BIGINT form (milli-quantized
    values, no sqrt) so the flag itself — not just the inputs — is
    engine-exact. One per-user rows-frame window."""
    from tidb_binlog_spark.operators.timeseries import rolling_anomaly
    t = load_tables(spark, sf_dir, "events")
    return rolling_anomaly(t["events"], ["user_id"],
                           ["ts", "event_id"], "value")


def q_corpus_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distinct-shingle cardinality: KMV sketch estimate
    (k=256 smallest md5 hashes — constant state per stratum at any
    corpus size) next to the exact count, error oracle-checked in
    ppm because the hashing is deterministic on both engines."""
    return scoring.kmv_distinct(_docs(spark, sf_dir), k=256)


def q_cdc_checkpoint_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source checkpoint / merge-watermark lag report over the
    appliable stream — which source holds the k-way merge back, by
    how much, and how many rows are queued above the watermark."""
    ok = ordering.ordered_stream(_spark_changes(spark, sf_dir))
    return telemetry.checkpoint_lag(ok)


def q_events_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling-window top-k: per 6-hour window, the 3 most frequent
    event types with counts — the standard streaming-analytics report
    shape (window + count + per-window rank), batch-expressed. The
    rank window partitions per time bucket over already-count-reduced
    rows; never a global sort."""
    t = load_tables(spark, sf_dir, "events")
    win_ns = 6 * 3_600_000_000_000
    bucketed = (t["events"]
                .select((F.col("ts") - F.pmod(F.col("ts"), F.lit(win_ns)))
                        .alias("window_start"), "event_type"))
    counts = (bucketed.groupBy("window_start", "event_type")
              .agg(F.count(F.lit(1)).alias("cnt")))
    from pyspark.sql import Window
    w = (Window.partitionBy("window_start")
         .orderBy(F.desc("cnt"), F.asc("event_type")))
    return (counts.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= 3)
            .select("window_start", "rank", "event_type", "cnt"))


def q_mm_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual-hash near-dup pairs over the multimodal payload
    column: byte-level dHash through the Arrow mapInPandas decode
    path, banded 16-bit chunks bounding the candidate join. Every 7th
    ASCII doc carries an exact copy of the previous doc's payload
    (guaranteed hamming-0 pairs); naturally similar assets surface
    with small nonzero hamming."""
    docs = (_docs(spark, sf_dir)
            .filter(F.expr(ASCII_ONLY_PRED))
            .filter(F.length("text") >= 1))
    prev = docs.select((F.col("doc_id") + 1).alias("doc_id"),
                       F.col("text").alias("prev_text"))
    corpus = (docs.join(prev, "doc_id", "left")
              .select("doc_id",
                      F.when((F.col("doc_id") % 7 == 0)
                             & F.col("prev_text").isNotNull(),
                             F.col("prev_text"))
                       .otherwise(F.col("text")).alias("text")))
    return mm.phash_pairs(corpus, max_hamming=4)


def q_snapshot_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) layout report over orders, interleaving
    (o_custkey, orderdate-day): per would-be-file row counts and
    BOTH-dimension zone-map spans — the evidence that a z-ordered
    rewrite lets min/max pruning skip files for customer-keyed AND
    date-keyed predicates at 100 TB. Pure unrolled bit arithmetic,
    whole-stage codegen, one small agg."""
    from tidb_binlog_spark.operators import layout
    t = load_tables(spark, sf_dir, "orders")
    df = t["orders"].select(
        (F.col("o_custkey") % 65536).alias("ck"),
        (F.expr("datediff(o_orderdate, DATE '1992-01-01')") % 65536)
         .alias("day"))
    return layout.zorder_layout_report(df, "ck", "day", file_bits=16)


def q_corpus_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source top-10 bigram collocations: the boilerplate /
    tokenizer-merge audit over the documents table (one stratum-keyed
    count + one partitioned rank window, never a global sort)."""
    return scoring.ngram_topk(_docs(spark, sf_dir), n=2, k=10)


def q_dedup_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter membership pre-filter (approximate membership for
    incremental ingest): same new/seen split as dedup_incremental,
    every 15th new doc carrying an exact copy of a seen doc
    (guaranteed true hits). The filter is deliberately undersized
    (m=16384 bits, k=3) so deterministic false positives appear and
    the audit columns quantify them; no-false-negatives is the
    property the pipeline relies on."""
    docs = _docs(spark, sf_dir)
    shifted = docs.select((F.col("doc_id") - 1).alias("doc_id"),
                          F.col("text").alias("next_text"))
    new0 = (docs.join(shifted, "doc_id", "left")
            .filter(F.col("doc_id") % 3 == 0)
            .select(
                "doc_id",
                F.when((F.col("doc_id") % 15 == 0)
                       & F.col("next_text").isNotNull(),
                       F.col("next_text"))
                 .otherwise(F.col("text")).alias("text")))
    seen = docs.filter(F.col("doc_id") % 3 != 0).select("doc_id", "text")
    return dedupfn.bloom_membership(new0, seen, m_bits=16384, k_hashes=3)


def q_events_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(event_type, 6h-bucket) OHLC downsample of the value stream
    — open/high/low/close + count + exact DECIMAL volume. One shuffle
    keyed (type, bucket); open/close windows share that Exchange."""
    from tidb_binlog_spark.operators.timeseries import ohlc_downsample
    t = load_tables(spark, sf_dir, "events")
    return ohlc_downsample(t["events"], ["event_type"], "ts", "value",
                           6 * 3_600_000_000_000, ["event_id"])


def q_cdc_salt_advisor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salting plan for hot keys: every (db,tbl,pk) above the per-task
    row target gets a recommended salt count and the projected
    post-salt task bound — the actionable half of cdc_hot_keys
    (exact-integer ceil arithmetic; output is just the flagged
    tail)."""
    from tidb_binlog_spark.operators.skew import salt_advisor
    return salt_advisor(_spark_changes(spark, sf_dir),
                        target_rows_per_task=8, max_salts=16)


def q_corpus_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source out-of-vocabulary ppm against the global top-64
    token vocabulary — the tokenizer-coverage audit (broadcast vocab,
    two map-side-combinable aggregates)."""
    return scoring.oov_rate(_docs(spark, sf_dir), vocab_size=64)


def q_events_multitouch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: clicks in the 6 h before each
    purchase share its credit equally in exact ppm (last touch absorbs
    the floor remainder, so each conversion's credits sum to exactly
    1e6). User-keyed join + one per-conversion rank window."""
    from tidb_binlog_spark.operators.funnel import multitouch_attribution
    t = load_tables(spark, sf_dir, "events")
    return multitouch_attribution(t["events"])


def q_corpus_hll_registers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog register sketch per source with the mergeability
    proof run in-query (whole-corpus registers == per-register max of
    the two doc_id-parity halves' registers) and the milli-quantized
    harmonic estimate checked against the exact distinct count.
    Constant state (64 registers/stratum) at any corpus size."""
    return scoring.hll_report(_docs(spark, sf_dir))


def q_snapshot_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planner: lineitem modeled as a
    (ship-month partition, orderkey-bucket file) listing with exact
    integer sizes, bin-packed into ~50 KB output files by a window
    prefix sum — the OPTIMIZE task list (one row per planned output
    file), metadata-sized at any corpus scale."""
    from tidb_binlog_spark.operators.layout import compaction_plan
    t = load_tables(spark, sf_dir, "lineitem")
    files = (t["lineitem"]
             .groupBy(F.expr("substring(CAST(l_shipdate AS STRING), 1, 7)")
                       .alias("part_month"),
                      (F.col("l_orderkey") % 64).alias("file_id"))
             .agg(F.expr("CAST(SUM(CAST(l_quantity AS BIGINT) * 100 "
                         "+ l_linenumber) AS BIGINT)").alias("bytes")))
    return compaction_plan(files, ["part_month"], "file_id", "bytes",
                           target_bytes=50_000)


def q_corpus_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the rare-shingle document graph
    (edges = docs sharing a 4-gram with df in [2,3]; df cap bounds
    the fan-out), 3 integer-exact power iterations, top-50 most
    central docs — the canonical-doc-selection signal that prefers
    neighborhood centers over min-id representatives."""
    from tidb_binlog_spark.operators.graph import (pagerank,
                                                   rare_feature_edges)
    edges = rare_feature_edges(_docs(spark, sf_dir), n=4)
    pr = pagerank(edges, iters=3, damping_pct=85)
    return (pr.orderBy(F.desc("rank_micro"), F.asc("node"))
            .limit(50)
            .select(F.col("node").alias("doc_id"), "rank_micro",
                    "outdeg"))


def q_corpus_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance selection: hashed-unigram log-ratio
    weights (target = src0 docs vs the raw corpus, add-1 smoothed,
    micro-nat quantized per bucket before the exact integer per-doc
    sum), top-100 most target-like docs."""
    return scoring.dsir_weights(_docs(spark, sf_dir),
                                target_source="src0",
                                n_buckets=256, top_k=100)


def q_ann_ivf_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental IVF maintenance: coarse quantizer trained on the
    base corpus (vec_id %% 5 != 0), the arriving batch assigned
    against the FROZEN broadcast centroids (base never re-clustered),
    per-list growth ppm + distance drift + retrain flags — the index
    upkeep loop of a 100 TB ANN store."""
    q = _embs(spark, sf_dir).select(
        "vec_id",
        F.expr(simfn.quantized_vec_expr("embedding", 1000)).alias("qvec"))
    base = q.filter("vec_id % 5 != 0")
    new = q.filter("vec_id % 5 = 0")
    return simfn.ivf_incremental_report(base, new, k=10, iters=2)


def q_ann_int8_quant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding-compression audit: per-vector scale,
    code sums, saturation count and exact micro-quantized
    reconstruction-error mass. Zero shuffles — one codegen projection
    with sequential array folds."""
    return simfn.int8_quantize_report(_embs(spark, sf_dir))


def q_events_rep_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Largest-deviation representative point per (event_type, 6h
    bucket) — the parallel LTTB stand-in; spike-preserving downsample
    selected by exact integer |n*v - sum| deviation."""
    from tidb_binlog_spark.operators.timeseries import representative_points
    t = load_tables(spark, sf_dir, "events")
    return representative_points(t["events"], ["event_type"], "ts",
                                 "value", "event_id",
                                 6 * 3_600_000_000_000)


def q_snapshot_stats_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-maintenance contract: per-ship-month stats over
    lineitem (count, quantity-centi min/max, KMV-64 NDV sketch of
    l_orderkey) plus a GLOBAL row proving the global stats fold
    exactly from the per-partition ones (count sum, min/min, max/max,
    k-minimum union + re-truncate)."""
    from tidb_binlog_spark.operators.layout import (
        partition_stats_with_merge_proof)
    t = load_tables(spark, sf_dir, "lineitem")
    return partition_stats_with_merge_proof(
        t["lineitem"],
        part_expr="substring(CAST(l_shipdate AS STRING), 1, 7)",
        value_expr="CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 "
                   "AS BIGINT)",
        ndv_expr="l_orderkey", k=64)


def q_corpus_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source token-length quantiles from the bounded
    bottom-k-by-ticket sample (k=128 rows per stratum at ANY corpus
    size, mergeable by union+re-truncate like KMV) next to the exact
    nearest-rank answer — the sketch swap corpus_length_quantiles
    documents for 100 TB. Deterministic md5 tickets make the error
    columns themselves oracle-checked."""
    return scoring.quantile_sketch(_docs(spark, sf_dir), k=128)


def q_events_decayed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trending-now ranking: per-user activity score where each event
    weighs 2^-(elapsed 3-day half-lives) — quantized integer decay
    (1_000_000 >> age micro-units) so the score is engine-exact. One
    map-side-combinable SUM + TakeOrderedAndProject top-20."""
    from tidb_binlog_spark.operators.timeseries import decayed_topk
    t = load_tables(spark, sf_dir, "events")
    return decayed_topk(t["events"], "user_id", "ts",
                        half_life_ns=3 * 86_400_000_000_000, k=20)


def q_cdc_dml_mix_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-table DML-mix drift: I/U/D composition of each commit-ts
    window in exact ppm plus the L1 distance to the previous window
    and a mass-delete-style alarm flag — the drift complement of the
    reference's per-type event counters (drainer/metrics.go)."""
    return telemetry.dml_mix_drift(_spark_changes(spark, sf_dir))


def q_events_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly new/retained/resurrected/churned user decomposition
    (n_active = new+retained+resurrected by construction; churn rows
    stop at the observed horizon). Raw events reduce to DISTINCT
    (user, week) before any window touches them."""
    from tidb_binlog_spark.operators.timeseries import growth_accounting
    t = load_tables(spark, sf_dir, "events")
    return growth_accounting(t["events"], "user_id", "ts")


def q_corpus_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps-law vocabulary growth per source: distinct-token count
    after the first 25/50/75/100% of docs (doc_id order) — the
    saturation read behind vocab sizing and boilerplate detection.
    One (stratum, token)->min-rank aggregate; the only window ranks
    documents, never tokens."""
    return scoring.vocab_growth(_docs(spark, sf_dir))


def q_ann_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF recall@5 vs nprobe (1/2/4) against brute force — the
    probe-budget tuning curve (ANN sibling of dedup_lsh_calibration).
    One assignment + one probe join at max nprobe; candidates explode
    only into the curve points that include them; recall is
    exact-integer ppm and monotone in nprobe. sqrt(N)-derived coarse
    sizing (see q_ann_ivf_topk; the 100x sweep caught the fixed mod's
    quadratic assignment OOM-ing the JVM here) + fixed-size derived
    query sample (~64 at any corpus) so the exact brute-force audit
    side is linear in N, not Q x N quadratic."""
    return simfn.recall_curve(_embs(spark, sf_dir), query_mod=None,
                              centroid_mod=None)


def timeseries_rfm_label() -> str:
    """The RFM segment CASE, shared verbatim with the Spark side."""
    from tidb_binlog_spark.operators.timeseries import RFM_LABEL_CASE
    return RFM_LABEL_CASE


def q_cdc_ddl_risk_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DDL pre-flight risk rollup: destructive / additive / reshaping
    / operational tiers over the DDL stream with skip counts, db
    fanout and arrival span — the audit an operator reads before
    letting a DDL backlog replicate."""
    ch = (_spark_changes(spark, sf_dir)
          .filter(F.col("arrival_seq") % 50 == 0)
          .withColumn("ddl_sql", F.expr(DDL_CASE)))
    return ddl.risk_audit(ch)


def q_events_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM lifecycle segmentation: recency/frequency/monetary
    quintiles (integer ceil-division over deterministic ranks,
    milli-quantized monetary) rolled into champions / loyal /
    big_spenders / at_risk / dormant / casual segments."""
    from tidb_binlog_spark.operators.timeseries import rfm_segments
    t = load_tables(spark, sf_dir, "events")
    return rfm_segments(t["events"])


def q_corpus_quantile_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeability of the bottom-k quantile sample PROVEN in-query
    (the kmv_merge pattern): per-part samples union + re-truncate to
    exactly the whole-corpus sample — kth tickets, sizes and p50
    estimates equal, flag oracle-checked."""
    return scoring.quantile_sample_merge_check(_docs(spark, sf_dir),
                                               k=64)


def q_dedup_idempotence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup convergence PROVEN in-query: re-running exact dedup over
    the canonical documents is the identity (every second-pass
    cluster has size 1 and canonicalizes to itself). Per-source
    counts + all-true flags, oracle-checked."""
    docs = _docs(spark, sf_dir)
    first = dedupfn.exact_dedup(docs)
    canon = (first.filter(F.col("doc_id") == F.col("canonical_id"))
             .join(docs, "doc_id")
             .select("doc_id", "text", "source"))
    second = dedupfn.exact_dedup(canon.select("doc_id", "text"))
    j = canon.select("doc_id", "source").join(second, "doc_id")
    return (j.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_canonicals"),
                 F.count(F.when(F.col("cluster_size") == 1, 1))
                  .alias("n_singletons"),
                 F.count(F.when(F.col("doc_id")
                                == F.col("canonical_id"), 1))
                  .alias("n_self_canonical"))
            .withColumn("idempotent",
                        F.expr("n_canonicals = n_singletons "
                               "AND n_canonicals = n_self_canonical")))


def q_corpus_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per source: BPE-ish regex tokens per
    whitespace word (floor ppm) plus chars-per-word — the
    tokenizer-efficiency read (high fertility = fragmenting source,
    budget more sequence length). One map-side-combinable aggregate
    over per-doc counts that token_count already defines."""
    from tidb_binlog_spark.functions.text import token_count
    docs = _docs(spark, sf_dir)
    tc = token_count(docs).join(docs.select("doc_id", "source"),
                                "doc_id")
    return (tc.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_ws_tokens").cast("bigint").alias("n_words"),
                 F.sum("n_bpe_tokens").cast("bigint")
                  .alias("n_bpe_tokens"))
            .withColumn("fertility_ppm",
                        F.expr("(n_bpe_tokens * 1000000) "
                               "DIV n_words")))


def q_snapshot_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association: top part-brand pairs by lift within
    orders (support, confidence-free exact-integer lift via
    cross-multiplied floor ppm). The basket self-join is keyed on the
    order and bounded by brands-per-order; the part dim broadcasts;
    the report ranks count-reduced pair rows only."""
    from pyspark.sql import Window
    t = load_tables(spark, sf_dir, "lineitem", "part")
    ob = (t["lineitem"].select("l_orderkey", "l_partkey")
          .join(F.broadcast(t["part"].select("p_partkey", "p_brand")),
                F.col("l_partkey") == F.col("p_partkey"))
          .select(F.col("l_orderkey").alias("o"),
                  F.col("p_brand").alias("brand"))
          .distinct())
    n = ob.agg(F.countDistinct("o").cast("bigint").alias("n_orders"))
    c = ob.groupBy("brand").agg(F.count(F.lit(1)).alias("c"))
    pairs = (ob.alias("a")
             .join(ob.alias("b"),
                   (F.col("a.o") == F.col("b.o"))
                   & (F.col("a.brand") < F.col("b.brand")))
             .groupBy(F.col("a.brand").alias("brand_a"),
                      F.col("b.brand").alias("brand_b"))
             .agg(F.count(F.lit(1)).alias("c_ab")))
    j = (pairs
         .join(c.select(F.col("brand").alias("brand_a"),
                        F.col("c").alias("c_a")), "brand_a")
         .join(c.select(F.col("brand").alias("brand_b"),
                        F.col("c").alias("c_b")), "brand_b")
         .crossJoin(F.broadcast(n))
         .withColumn("support_ppm",
                     F.expr("(c_ab * 1000000) DIV n_orders"))
         .withColumn("lift_ppm",
                     F.expr("(c_ab * n_orders * 1000000) "
                            "DIV (c_a * c_b)")))
    w = Window.orderBy(F.desc("lift_ppm"), F.asc("brand_a"),
                       F.asc("brand_b"))
    return (j.orderBy(F.desc("lift_ppm"), F.asc("brand_a"),
                      F.asc("brand_b"))
            .limit(20)
            .withColumn("rank", F.row_number().over(w))
            .select("rank", "brand_a", "brand_b", "c_ab", "c_a",
                    "c_b", "support_ppm", "lift_ppm"))


def q_mm_frame_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-level dedup accounting through the REAL Arrow frame path
    (mapInPandas 1-to-N sampling, the video-pipeline shape): each
    sampled frame is novel iff its (doc, offset) is the global first
    occurrence of its frame bytes; per-asset novelty ppm is the
    chunk-store savings estimate for frames. One frame-hex-keyed
    aggregate; corpus bytes cross once through the Arrow batch."""
    from tidb_binlog_spark.cache import managed_persist as _mp
    fr = _mp(mm.frame_sample_stub(_docs(spark, sf_dir)))
    first = (fr.groupBy("frame_hex")
             .agg(F.min(F.struct("doc_id", "frame_offset"))
                  .alias("f")))
    j = fr.join(first, "frame_hex")
    novel = ((F.col("doc_id") == F.col("f.doc_id"))
             & (F.col("frame_offset") == F.col("f.frame_offset")))
    return (j.groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_frames"),
                 F.count(F.when(novel, 1)).alias("n_novel"))
            .withColumn("novel_ppm",
                        F.expr("(n_novel * 1000000) DIV n_frames")))


def q_corpus_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source shingle-novelty deciles in doc_id order — the
    crawl-freshness curve (a falling tail says dedup will eat it).
    One doc-rank window + one (stratum,shingle) min-rank aggregate."""
    return scoring.novelty_curve(_docs(spark, sf_dir))


def q_cdc_write_amplification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Safe-mode write amplification per table: statements the
    idempotent rewrite emits (I->R, U->D+R, D->D) counted FROM the
    rewrite output, cross-checked in-query against the closed form
    n_ins + 2*n_upd + n_del (amp_check flag) — the sizing input for
    sink batch budgets while a safe-mode window is open."""
    ch = _spark_changes(spark, sf_dir)
    rows = (ch.groupBy("db", "tbl")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.count(F.when(F.col("op") == "I", 1)).alias("n_ins"),
                 F.count(F.when(F.col("op") == "U", 1)).alias("n_upd"),
                 F.count(F.when(F.col("op") == "D", 1)).alias("n_del")))
    stmts = (safe_mode.safe_mode_rewrite(ch)
             .groupBy("db", "tbl")
             .agg(F.count(F.lit(1)).alias("n_stmts_safe")))
    return (rows.join(stmts, ["db", "tbl"])
            .withColumn("amp_ppm",
                        F.expr("(n_stmts_safe * 1000000) DIV n_rows"))
            .withColumn("amp_check",
                        F.expr("n_stmts_safe = n_ins + 2 * n_upd "
                               "+ n_del")))


def q_cdc_asof_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What changed between two points in time: per-table
    added/removed/changed/unchanged key counts between the as-of
    states at T1 = 40% and T2 = 80% of max commit_ts — both read from
    ONE persisted SCD2 history pass (the audit behind 'diff Monday
    against Friday'). Scalars stay in-plan via broadcast 1-row aggs."""
    from tidb_binlog_spark.cache import managed_persist as _mp
    ch = _spark_changes(spark, sf_dir)
    ok = ordering.ordered_stream(ch)
    hist = _mp(scd2.scd2_history(ok))
    ts = ch.agg(F.expr("(MAX(commit_ts) * 2) DIV 5").alias("t1"),
                F.expr("(MAX(commit_ts) * 4) DIV 5").alias("t2"))
    h = hist.crossJoin(F.broadcast(ts))
    s1 = (scd2.snapshot_as_of(h, F.col("t1"))
          .select("db", "tbl", "pk", F.col("val").alias("val1")))
    s2 = (scd2.snapshot_as_of(h, F.col("t2"))
          .select("db", "tbl", "pk", F.col("val").alias("val2")))
    j = s1.join(s2, ["db", "tbl", "pk"], "full_outer")
    ct = (F.when(F.col("val1").isNull(), F.lit("added"))
          .when(F.col("val2").isNull(), F.lit("removed"))
          .when(F.col("val1") != F.col("val2"), F.lit("changed"))
          .otherwise(F.lit("unchanged")))
    return (j.withColumn("change_type", ct)
            .groupBy("db", "tbl", "change_type")
            .agg(F.count(F.lit(1)).alias("n_keys")))


def q_events_did_uplift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences uplift: synthetic assignment
    (user_id % 2 — documented stand-in for an experiment flag),
    periods split at the time midpoint; per-cell event counts,
    milli-quantized value sums and floor-milli means, with the DiD
    of cell means attached to every row. Exact integers throughout."""
    t = load_tables(spark, sf_dir, "events")
    e = t["events"].select(
        (F.col("user_id") % 2 == 1).alias("treated"),
        F.col("ts").alias("ts"),
        F.expr("CAST(floor(value * 1000) AS BIGINT)").alias("v"))
    mid = e.agg(F.expr("(MIN(ts) + MAX(ts)) DIV 2").alias("mid"))
    e = (e.crossJoin(F.broadcast(mid))
         .withColumn("after", F.col("ts") >= F.col("mid")))
    cells = (e.groupBy("treated", "after")
             .agg(F.count(F.lit(1)).alias("n_events"),
                  F.sum("v").cast("bigint").alias("sum_milli")))
    cells = cells.withColumn("mean_milli",
                             F.expr("sum_milli DIV n_events"))

    def cell_mean(tr: str, af: str) -> str:
        return (f"MAX(CASE WHEN treated = {tr} AND after = {af} "
                f"THEN mean_milli END)")

    did = cells.agg(F.expr(
        f"({cell_mean('true', 'true')} - {cell_mean('true', 'false')})"
        f" - ({cell_mean('false', 'true')}"
        f" - {cell_mean('false', 'false')})").alias("did_milli"))
    return (cells.crossJoin(F.broadcast(did))
            .select("treated", "after", "n_events", "sum_milli",
                    "mean_milli", "did_milli"))


def q_events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM changepoint per event type over 6h window counts:
    mean-centered deviations by cross-multiplication (x*n_windows -
    total, zero-sum by construction), running-sum peak = the level
    shift estimate; completes the anomaly suite (z-score, seasonal
    slot, Holt forecast, CUSUM shift)."""
    from tidb_binlog_spark.operators.timeseries import cusum_changepoint
    t = load_tables(spark, sf_dir, "events")
    return cusum_changepoint(t["events"])


def q_events_dau_wau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU/WAU/MAU per day + floor-ppm stickiness: DISTINCT
    (user, day) reduction first, then ONE range join against the day
    list (<=30-day fan-out) and per-day conditional distinct counts."""
    from tidb_binlog_spark.operators.timeseries import dau_wau_mau
    t = load_tables(spark, sf_dir, "events")
    return dau_wau_mau(t["events"])


def q_events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent 30-min-gap sessions per day via two-phase
    prefix sums (per-day running sums + a tiny cross-midnight carry
    ledger) — never a global boundary sort. Boundary ties count the
    arriving session."""
    from tidb_binlog_spark.operators.timeseries import peak_concurrency
    t = load_tables(spark, sf_dir, "events")
    return peak_concurrency(t["events"])


def q_events_conversion_latency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert per funnel hop (signup->view->purchase, 72h
    window): nearest-rank p50/p90 + min/max of the greedy funnel's
    step latencies, ranked over converted USERS only."""
    from tidb_binlog_spark.operators.funnel import conversion_latency
    load_tables(spark, sf_dir, "events")
    ev = spark.table("events")
    return conversion_latency(ev, FUNNEL_STEPS,
                              window=FUNNEL_WINDOW_NS)


def q_events_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt linear-trend forecast per event type over 6h window
    counts: alpha=beta=1/2 double-exponential smoothing as exact
    integer halvings (sign-split truncating division keeps negative
    trends identical across engines); 1-3 step forecasts clamped at
    zero."""
    from tidb_binlog_spark.operators.timeseries import holt_forecast
    t = load_tables(spark, sf_dir, "events")
    return holt_forecast(t["events"])


def _holt_sql(horizon: int = 3) -> str:
    """DuckDB mirror of timeseries.holt_forecast, as a recursive CTE
    over the per-key window index (the causality-oracle pattern).
    NOT list_reduce: DuckDB 1.0.0 miscomputes multi-field struct
    accumulators there (a 4-element (l,b) fold returns (2750,1625)
    where the hand recursion gives (3000,3000)) — the recursive CTE
    is the reliable sequential-fold form."""
    def tdiv2(v: str) -> str:
        return (f"CASE WHEN {v} >= 0 THEN ({v}) // 2 "
                f"ELSE -((-({v})) // 2) END")
    lp = tdiv2("(idx.x * 1000) + r.l + r.b")
    bp = tdiv2(f"(({lp}) - r.l) + r.b")
    fcasts = ",\n".join(
        f"greatest(CAST(0 AS BIGINT), r.l + {h} * r.b) "
        f"AS f{h}_milli" for h in range(1, horizon + 1))
    return f"""
        WITH RECURSIVE e AS (
          SELECT event_type AS k,
                 epoch_ns(ts) // 21600000000000 AS win
          FROM events),
        cnt AS (SELECT k, win, CAST(COUNT(*) AS BIGINT) AS x
                FROM e GROUP BY k, win),
        idx AS (
          SELECT k, x, ROW_NUMBER() OVER (PARTITION BY k
                                          ORDER BY win) AS i
          FROM cnt),
        n AS (SELECT k, CAST(COUNT(*) AS BIGINT) AS n_windows
              FROM idx GROUP BY k),
        r AS (
          SELECT k, i, x * 1000 AS l, CAST(0 AS BIGINT) AS b
          FROM idx WHERE i = 1
          UNION ALL
          SELECT idx.k, idx.i,
                 CAST({lp} AS BIGINT) AS l,
                 CAST({bp} AS BIGINT) AS b
          FROM r JOIN idx ON idx.k = r.k AND idx.i = r.i + 1)
        SELECT r.k AS event_type, n.n_windows,
               r.l AS level_milli, r.b AS trend_milli,
               {fcasts}
        FROM r JOIN n ON r.k = n.k AND r.i = n.n_windows
    """


def q_events_activity_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Workload-inequality report: Lorenz decile table + Gini ppm of
    per-user event counts (hot_keys names offenders; this measures
    the skew). Only window runs over the count-reduced per-user
    frame; rank-weighted sums in DECIMAL(38,0)."""
    from tidb_binlog_spark.operators.timeseries import activity_gini
    t = load_tables(spark, sf_dir, "events")
    return activity_gini(t["events"])


def q_rag_retrieval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@5 of the lexical retriever's ranking against the
    same-source relevance proxy — log discounts are pre-quantized
    integer constants shared with the oracle, so the metric is exact
    end to end (no engine evaluates a logarithm)."""
    return scoring.retrieval_ndcg(_docs(spark, sf_dir))


def q_cdc_redelivery_proof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """At-least-once made exactly-once, PROVEN in-query: every 3rd
    event is re-delivered after the whole stream (fresh arrival_seq,
    same commit_ts — the pump-retry shape), both streams run through
    the order gate + compaction, and the report carries per-table row
    counts and image checksums from BOTH runs with an equality flag.
    The gate's dup/disorder classification is what absorbs the
    replay (pump at-least-once delivery, drainer dedup —
    drainer/merge.go, pump/storage re-send semantics)."""
    ch = _spark_changes(spark, sf_dir)
    mx = ch.agg(F.max("arrival_seq").alias("mx"))
    copy = (ch.filter(F.col("arrival_seq") % 3 == 0)
            .crossJoin(F.broadcast(mx))
            .withColumn("arrival_seq",
                        F.col("arrival_seq") + F.col("mx") + 1)
            .drop("mx"))
    replayed = ch.unionByName(copy)
    h = ("sum(CAST(conv(substring(md5(concat_ws('|', db, tbl, "
         "CAST(pk AS STRING), CAST(val AS STRING), "
         "CAST(commit_ts AS STRING))), 1, 12), 16, 10) AS BIGINT))")

    def _sum(stream, n_name, h_name):
        snap = compaction.apply_snapshot(ordering.ordered_stream(stream))
        return snap.groupBy("db", "tbl").agg(
            F.count(F.lit(1)).alias(n_name),
            F.expr(h).cast("bigint").alias(h_name))

    once = _sum(ch, "n_once", "h_once")
    twice = _sum(replayed, "n_replayed", "h_replayed")
    return (once.join(twice, ["db", "tbl"])
            .withColumn("identical",
                        (F.col("n_once") == F.col("n_replayed"))
                        & (F.col("h_once") == F.col("h_replayed")))
            .select("db", "tbl", "n_once", "n_replayed", "h_once",
                    "h_replayed", "identical"))


def q_events_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov removal-effect attribution: 4-step conversion
    probability from START on the journey chain, recomputed with each
    channel's outgoing edges removed; credit = the conversion
    probability the channel takes with it. All floor-ppm integers,
    sum-then-divide per iteration, so every reported number is
    engine-exact."""
    from tidb_binlog_spark.operators.funnel import markov_attribution
    t = load_tables(spark, sf_dir, "events")
    return markov_attribution(t["events"])


def _markov_sql(iters: int = 4) -> str:
    """DuckDB mirror of operators/funnel.markov_attribution: the same
    transition ppm table and the same fixed-iteration value recursion,
    unrolled (the PageRank-oracle pattern)."""
    ctes = ["""
    e AS (SELECT user_id AS u, epoch_ns(ts) AS t, event_id AS i,
                 event_type AS typ FROM events),
    r AS (SELECT u, t, i, typ,
                 ROW_NUMBER() OVER (PARTITION BY u ORDER BY t, i)
                   AS rn
          FROM e),
    fc AS (SELECT u, MIN(rn) AS conv_rn FROM r
           WHERE typ = 'purchase' GROUP BY u),
    kept AS (SELECT r.u, r.rn,
                    CASE WHEN typ = 'purchase' THEN 'CONV'
                         ELSE typ END AS state
             FROM r LEFT JOIN fc ON r.u = fc.u
             WHERE fc.conv_rn IS NULL OR r.rn <= fc.conv_rn),
    seq AS (SELECT u, rn, state,
                   lead(state) OVER (PARTITION BY u ORDER BY rn)
                     AS nxt
            FROM kept),
    body AS (SELECT state AS src,
                    COALESCE(nxt, CASE WHEN state <> 'CONV'
                                       THEN 'NULL' END) AS dst
             FROM seq),
    tr0 AS (SELECT src, dst FROM body WHERE dst IS NOT NULL
            UNION ALL
            SELECT 'START' AS src, state AS dst FROM seq
            WHERE rn = 1),
    trans AS (SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS cnt
              FROM tr0 GROUP BY src, dst),
    o AS (SELECT src, CAST(SUM(cnt) AS BIGINT) AS out_total
          FROM trans GROUP BY src),
    p AS (SELECT trans.src, dst,
                 CAST((cnt * 1000000) // out_total AS BIGINT)
                   AS p_ppm
          FROM trans JOIN o ON trans.src = o.src),
    chan AS (SELECT DISTINCT src AS removed FROM p
             WHERE src NOT IN ('START', 'CONV')
             UNION ALL SELECT '(none)'),
    edges AS (SELECT c.removed, p.src, p.dst, p.p_ppm
              FROM p CROSS JOIN chan c WHERE p.src <> c.removed),
    v0 AS (SELECT removed, 'CONV' AS state,
                  CAST(1000000 AS BIGINT) AS v_ppm
           FROM chan)"""]
    for k in range(1, iters + 1):
        ctes.append(f"""
    v{k} AS (
      SELECT removed, state, v_ppm FROM (
        SELECT e.removed, e.src AS state,
               CAST(SUM(p_ppm * v_ppm) // 1000000 AS BIGINT)
                 AS v_ppm
        FROM edges e JOIN v{k - 1} v
          ON e.removed = v.removed AND e.dst = v.state
        GROUP BY e.removed, e.src) t
      WHERE state <> 'CONV'
      UNION ALL
      SELECT removed, 'CONV', CAST(1000000 AS BIGINT) FROM chan)""")
    return f"""
    WITH {','.join(ctes)},
    sv AS (SELECT removed, v_ppm AS conv_ppm FROM v{iters}
           WHERE state = 'START'),
    fullv AS (SELECT conv_ppm AS full_ppm FROM sv
              WHERE removed = '(none)'),
    -- LEFT JOIN from chan, not sv: if removing a channel leaves START
    -- with no reachable dst, the recursion emits no START row for it;
    -- the Spark side materializes an explicit 0 (v.get(START, 0)), so
    -- the oracle must too (ADVICE r7).
    per AS (SELECT c.removed AS channel, full_ppm,
                   COALESCE(sv.conv_ppm, 0) AS removed_ppm,
                   full_ppm - COALESCE(sv.conv_ppm, 0) AS drop_ppm
            FROM chan c LEFT JOIN sv ON c.removed = sv.removed,
                 fullv
            WHERE c.removed <> '(none)'),
    tot AS (SELECT CAST(SUM(drop_ppm) AS BIGINT) AS total_drop
            FROM per)
    SELECT channel, full_ppm, removed_ppm, drop_ppm,
           CASE WHEN total_drop > 0
                THEN CAST((drop_ppm * 1000000) // total_drop
                          AS BIGINT)
           END AS share_ppm
    FROM per, tot
    """


def q_events_seasonal_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive anomaly flags: each (day, hour) cell vs the mean
    of its weekly slot (same weekday+hour) — cross-multiplied integer
    comparisons, no float division, so the flags are engine-exact."""
    from tidb_binlog_spark.operators.timeseries import seasonal_residuals
    t = load_tables(spark, sf_dir, "events")
    return seasonal_residuals(t["events"])


def q_dedup_lsh_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured precision/recall of banded MinHash-LSH against an
    independent rare-shingle exact-Jaccard ground truth — the
    empirical complement of dedup_lsh_calibration's theoretical
    S-curve. Integer-exact memberships make the reported ppm numbers
    themselves oracle-checked."""
    return dedupfn.lsh_accuracy(_docs(spark, sf_dir))


def q_corpus_cms_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch frequency estimates for the top-16 tokens
    with the CMS overestimate guarantee (est >= exact) flagged
    in-query — completes the mergeable-sketch family (KMV distinct,
    HLL registers, bottom-k quantiles, CMS frequencies). Sketch built
    from the map-side-combined (token,count) aggregate; the
    depth x width matrix broadcasts onto the candidate probes."""
    return scoring.cms_heavy_hitters(_docs(spark, sf_dir),
                                     depth=4, width=512, k=16)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    # ORDER MATTERS: the driver's correctness gate checks the FIRST 50
    # keys. Last recorded gate: CORRECTNESS_r13 (50/50 hash-green over
    # the r13 window). This r14 rotation (VERDICT r13 item 2) swaps 14
    # slots onto the queries the r13/r14 optimizer changes touched —
    # details in the window banner below. Prior-window rows rotate
    # into the queue with their freshest evidence.
    return {
        # -- r14 window (optimization round): the 36 r13-window rows
        #    whose code round 14 did not touch stay for continuity;
        #    14 slots rotate to the rows this round's (and r13's)
        #    optimizer changes touched, per VERDICT r13 item 2 —
        #    the driver's independent oracle should cover changed
        #    code first:
        #    * cdc_relay_recovery (WAL-as-materialization restructure)
        #    * sink_kafka_obinlog (numpy lockstep decode)
        #    * corpus_tfidf_topk / rag_retrieve_pack (doc-major numpy
        #      scoring; rag_retrieval_ndcg was already in-window)
        #    * corpus_pagerank (eager sized rounds + one-pass edges)
        #    * ann_pca_project / dedup_semantic / corpus_kmv_merge /
        #      corpus_hll_registers / corpus_full_curation /
        #      dedup_minhash_lsh / cdc_kv_decode (r13 optimizer
        #      changes the r13 window missed)
        #    * events_funnel / snapshot_compaction_plan (r13 localrel
        #      Arrow local-frame change, unwindowed since r9).
        #    The 14 rows yielding slots (all r13-green, code untouched
        #    in r13/r14) head the queue below.
        "ann_ivf_incremental": q_ann_ivf_incremental,
        "corpus_cms_topk": q_corpus_cms_topk,
        "dedup_lsh_accuracy": q_dedup_lsh_accuracy,
        "events_markov_attribution": q_events_markov_attribution,
        "cdc_redelivery_proof": q_cdc_redelivery_proof,
        "rag_retrieval_ndcg": q_rag_retrieval_ndcg,
        "events_activity_gini": q_events_activity_gini,
        "cdc_ddl_risk_audit": q_cdc_ddl_risk_audit,
        "events_rfm_segments": q_events_rfm_segments,
        "events_cusum_changepoint": q_events_cusum_changepoint,
        "cdc_asof_diff": q_cdc_asof_diff,
        "events_did_uplift": q_events_did_uplift,
        "corpus_novelty_curve": q_corpus_novelty_curve,
        "cdc_write_amplification": q_cdc_write_amplification,
        "mm_frame_dedup": q_mm_frame_dedup,
        "snapshot_basket_lift": q_snapshot_basket_lift,
        "corpus_tokenizer_fertility": q_corpus_tokenizer_fertility,
        "corpus_quantile_merge": q_corpus_quantile_merge,
        "dedup_idempotence": q_dedup_idempotence,
        "sink_payload_roundtrip": q_sink_payload_roundtrip,
        "sink_sql_generation": q_sink_sql_generation,
        "cdc_type_format": q_cdc_type_format,
        "text_profile": q_text_profile,
        "mm_assets": q_mm_assets,
        "cdc_progress": q_cdc_progress,
        "ann_doc_lsh": q_ann_doc_lsh,
        "dedup_incremental": q_dedup_incremental,
        "doc_cdc_chunks": q_doc_cdc_chunks,
        "dedup_containment": q_dedup_containment,
        "corpus_source_report": q_corpus_source_report,
        "dedup_chunk_minhash": q_dedup_chunk_minhash,
        "dedup_simhash": q_dedup_simhash,
        "dedup_simhash_pairs": q_dedup_simhash_pairs,
        "dedup_consensus": q_dedup_consensus,
        "cdc_reparo_replay": q_cdc_reparo_replay,
        "cdc_pitr_restore": q_cdc_pitr_restore,
        "ann_pca_project": q_ann_pca_project,
        "corpus_kmv_merge": q_corpus_kmv_merge,
        "corpus_tfidf_topk": q_corpus_tfidf_topk,
        "rag_retrieve_pack": q_rag_retrieve_pack,
        "dedup_semantic": q_dedup_semantic,
        "cdc_relay_recovery": q_cdc_relay_recovery,
        "corpus_hll_registers": q_corpus_hll_registers,
        "sink_kafka_obinlog": q_sink_kafka_obinlog,
        "corpus_full_curation": q_corpus_full_curation,
        "dedup_minhash_lsh": q_dedup_minhash_lsh,
        "cdc_kv_decode": q_cdc_kv_decode,
        "events_funnel": q_events_funnel,
        "snapshot_compaction_plan": q_snapshot_compaction_plan,
        "corpus_pagerank": q_corpus_pagerank,
        # -- end of driver window (first 50 keys above) --
        # ------------------------------------------------------------
        # below the driver 50-row window: the queue (the fourteen
        # rotated-out r13-window rows first, then the remainder in
        # rotation order). Every query below is ledger-checked each
        # round.
        # ------------------------------------------------------------
        "corpus_dsir_select": q_corpus_dsir_select,
        "ann_int8_quant": q_ann_int8_quant,
        "events_rep_points": q_events_rep_points,
        "corpus_quantile_sketch": q_corpus_quantile_sketch,
        "events_decayed_topk": q_events_decayed_topk,
        "cdc_dml_mix_drift": q_cdc_dml_mix_drift,
        "events_growth_accounting": q_events_growth_accounting,
        "corpus_vocab_growth": q_corpus_vocab_growth,
        "ann_recall_curve": q_ann_recall_curve,
        "events_seasonal_residuals": q_events_seasonal_residuals,
        "events_holt_forecast": q_events_holt_forecast,
        "events_peak_concurrency": q_events_peak_concurrency,
        "events_conversion_latency": q_events_conversion_latency,
        "events_dau_wau_mau": q_events_dau_wau_mau,
        "doc_fingerprint": q_doc_fingerprint,
        "cdc_incremental_rollup": q_cdc_incremental_rollup,
        "cdc_temporal_join": q_cdc_temporal_join,
        "cdc_incremental_agg_wide": q_cdc_incremental_agg_wide,
        "corpus_ngram_topk": q_corpus_ngram_topk,
        "snapshot_zorder_layout": q_snapshot_zorder_layout,
        "mm_phash_pairs": q_mm_phash_pairs,
        "cdc_checkpoint_lag": q_cdc_checkpoint_lag,
        "events_windowed_topk": q_events_windowed_topk,
        "corpus_kmv_distinct": q_corpus_kmv_distinct,
        "events_anomaly_zscore": q_events_anomaly_zscore,
        "ann_ivfpq_topk": q_ann_ivfpq_topk,
        "corpus_surprisal_histogram": q_corpus_surprisal_histogram,
        "events_active_users": q_events_active_users,
        "events_bot_regularity": q_events_bot_regularity,
        "snapshot_diff_repair": q_snapshot_diff_repair,
        "corpus_gate_sweep": q_corpus_gate_sweep,
        "doc_semantic_chunks": q_doc_semantic_chunks,
        "text_lang_confusion": q_text_lang_confusion,
        "events_funnel_dropoff": q_events_funnel_dropoff,
        "corpus_fold_leakage": q_corpus_fold_leakage,
        "corpus_effective_tokens": q_corpus_effective_tokens,
        "snapshot_large_orders": q_snapshot_large_orders,
        "snapshot_top_supplier": q_snapshot_top_supplier,
        "snapshot_forecast_revenue": q_snapshot_forecast_revenue,
        "cdc_disorder_displacement": q_cdc_disorder_displacement,
        "corpus_source_overlap": q_corpus_source_overlap,
        "corpus_temperature_mix": q_corpus_temperature_mix,
        "events_type_transitions": q_events_type_transitions,
        "mm_audio_features": q_mm_audio_features,
        "snapshot_diff_drilldown": q_snapshot_diff_drilldown,
        "dedup_lsh_calibration": q_dedup_lsh_calibration,
        "corpus_gate_report": q_corpus_gate_report,
        "cdc_incremental_distinct": q_cdc_incremental_distinct,
        "events_session_paths": q_events_session_paths,
        "dedup_savings_report": q_dedup_savings_report,
        "cdc_hot_keys": q_cdc_hot_keys,
        "snapshot_bracket_revenue": q_snapshot_bracket_revenue,
        "events_ohlc": q_events_ohlc,
        "cdc_salt_advisor": q_cdc_salt_advisor,
        "corpus_oov_rate": q_corpus_oov_rate,
        "events_multitouch": q_events_multitouch,
        "cdc_kv_decode_update": q_cdc_kv_decode_update,
        "cdc_kv_decode_delete": q_cdc_kv_decode_delete,
        "dedup_quality_canonicals": q_dedup_quality_canonicals,
        "events_sessionize": q_events_sessionize,
        "cdc_truncated_drop": q_cdc_truncated_drop,
        "dedup_minhash_clusters": q_dedup_minhash_clusters,
        "dedup_substring_spans": q_dedup_substring_spans,
        "text_decontaminate_spans": q_text_decontaminate_spans,
        "text_mix_weights": q_text_mix_weights,
        "text_line_dedup": q_text_line_dedup,
        "text_bm25": q_text_bm25,
        "text_unigram_lm": q_text_unigram_lm,
        "doc_chunks": q_doc_chunks,
        "doc_shuffle": q_doc_shuffle,
        "doc_hash_embed": q_doc_hash_embed,
        "corpus_token_stats": q_corpus_token_stats,
        "text_bigram_lm": q_text_bigram_lm,
        "dedup_url_canonical": q_dedup_url_canonical,
        "corpus_source_divergence": q_corpus_source_divergence,
        "text_quality_classifier": q_text_quality_classifier,
        "cdc_write_skew": q_cdc_write_skew,
        "cdc_source_gaps": q_cdc_source_gaps,
        "cdc_conflict_rate": q_cdc_conflict_rate,
        "snapshot_late_orders": q_snapshot_late_orders,
        "snapshot_market_share": q_snapshot_market_share,
        "snapshot_product_profit": q_snapshot_product_profit,
        "snapshot_order_counts": q_snapshot_order_counts,
        "snapshot_promo_revenue": q_snapshot_promo_revenue,
        "snapshot_small_qty_revenue": q_snapshot_small_qty_revenue,
        "snapshot_waiting_suppliers": q_snapshot_waiting_suppliers,
        "snapshot_idle_customers": q_snapshot_idle_customers,
        "snapshot_min_cost_supplier": q_snapshot_min_cost_supplier,
        "snapshot_important_parts": q_snapshot_important_parts,
        "snapshot_ship_priority_mix": q_snapshot_ship_priority_mix,
        "snapshot_supplier_part_counts": q_snapshot_supplier_part_counts,
        "snapshot_dominant_suppliers": q_snapshot_dominant_suppliers,
        "ann_kmeans_clusters": q_ann_kmeans_clusters,
        "cdc_bootstrap_catchup": q_cdc_bootstrap_catchup,
        "cdc_txn_fanout": q_cdc_txn_fanout,
        "corpus_budget_select": q_corpus_budget_select,
        "cdc_schema_adoption": q_cdc_schema_adoption,
        "dedup_bloom": q_dedup_bloom,
        "snapshot_stats_merge": q_snapshot_stats_merge,
        "cdc_txn_batches": q_cdc_txn_batches,
        "cdc_causality_groups": q_cdc_causality_groups,
        "dedup_embedding_cosine": q_dedup_embedding_cosine,
        "cdc_loopback_filter": q_cdc_loopback_filter,
        "cdc_schema_backfill": q_cdc_schema_backfill,
        "cdc_update_pk_split": q_cdc_update_pk_split,
        "cdc_safe_mode": q_cdc_safe_mode,
        "text_stratified_sample": q_text_stratified_sample,
        "ann_lsh_topk": q_ann_lsh_topk,
        "dedup_ngram_jaccard": q_dedup_ngram_jaccard,
        "dedup_embedding_clusters": q_dedup_embedding_clusters,
        "cdc_gc_safepoint": q_cdc_gc_safepoint,
        "sink_bulk_batches": q_sink_bulk_batches,
        "snapshot_checksum_orders": q_snapshot_checksum_orders,
        "cdc_pc_match": q_cdc_pc_match,
        "cdc_wide_row_apply": q_cdc_wide_row_apply,
        "sink_sql_wide": q_sink_sql_wide,
        "sink_obinlog_wide": q_sink_obinlog_wide,
        "snapshot_diff_orders": q_snapshot_diff_orders,
        "snapshot_pricing_summary": q_snapshot_pricing_summary,
        "snapshot_revenue_by_nation": q_snapshot_revenue_by_nation,
        "cdc_snapshot_apply": q_cdc_snapshot_apply,
        "cdc_order_audit": q_cdc_order_audit,
        "cdc_kway_merge": q_cdc_kway_merge,
        "cdc_txn_resolve": q_cdc_txn_resolve,
        "cdc_schema_replay": q_cdc_schema_replay,
        "cdc_full_pipeline": q_cdc_full_pipeline,
        "cdc_ddl_stream": q_cdc_ddl_stream,
        "cdc_partition_route": q_cdc_partition_route,
        "curation_pipeline": q_curation_pipeline,
        "dedup_exact": q_dedup_exact,
        "text_contamination": q_text_contamination,
        "text_pack_sequences": q_text_pack_sequences,
        "ann_cosine_topk": q_ann_cosine_topk,
        "ann_ivf_topk": q_ann_ivf_topk,
        "corpus_inverted_index": q_corpus_inverted_index,
        "snapshot_returned_items": q_snapshot_returned_items,
        "snapshot_volume_shipping": q_snapshot_volume_shipping,
        "snapshot_cust_no_orders": q_snapshot_cust_no_orders,
        "text_bpe_encode": q_text_bpe_encode,
        "cdc_event_counters": q_cdc_event_counters,
        "cdc_update_images": q_cdc_update_images,
        "snapshot_top_customers": q_snapshot_top_customers,
        "cdc_scd2_history": q_cdc_scd2_history,
        "cdc_time_travel": q_cdc_time_travel,
        "cdc_scd2_incremental": q_cdc_scd2_incremental,
        "cdc_incremental_agg": q_cdc_incremental_agg,
        "cdc_incremental_extrema": q_cdc_incremental_extrema,
        "cdc_incremental_quantiles": q_cdc_incremental_quantiles,
        "cdc_incremental_topvals": q_cdc_incremental_topvals,
        "cdc_incremental_join_agg": q_cdc_incremental_join_agg,
        "cdc_incremental_moments": q_cdc_incremental_moments,
        "text_pii_scrub": q_text_pii_scrub,
        "corpus_url_domains": q_corpus_url_domains,
        "snapshot_rollup_revenue": q_snapshot_rollup_revenue,
        "snapshot_shipping_priority": q_snapshot_shipping_priority,
        "events_overlap_bursts": q_events_overlap_bursts,
        "events_rolling_activity": q_events_rolling_activity,
        "events_cohort_retention": q_events_cohort_retention,
        "text_weighted_sample": q_text_weighted_sample,
        "corpus_length_quantiles": q_corpus_length_quantiles,
        "text_strip_spans": q_text_strip_spans,
        "events_asof_attribution": q_events_asof_attribution,
        "events_session_stitch": q_events_session_stitch,
        "corpus_split": q_corpus_split,
        "ann_pq_topk": q_ann_pq_topk,
        "corpus_chunk_savings": q_corpus_chunk_savings,
    }


_SCD2_HISTORY_SQL = f"""
    {CHANGES_CTE}, {_OK_CTE},
    hist AS (
      SELECT db, tbl, pk, val, op, commit_ts AS valid_from,
             LEAD(commit_ts) OVER (
                 PARTITION BY db, tbl, pk
                 ORDER BY commit_ts, seq, arrival_seq) AS valid_to
      FROM ok)
    SELECT db, tbl, pk, val, valid_from, valid_to,
           valid_to IS NULL AS is_current
    FROM hist WHERE op <> 'D'
"""


def _gap_sessions_cte(pred: str, gap_ns: int, prefix: str) -> str:
    """DuckDB mirror of _gap_sessions (CTE chain ``{prefix}s``).
    Assumes a CTE ``e(user_id, event_id, ts_ns, event_type)``."""
    return f"""
    {prefix}_f AS (
      SELECT user_id, event_id, ts_ns,
        CASE WHEN lag(ts_ns) OVER w IS NULL
                  OR ts_ns - lag(ts_ns) OVER w > {gap_ns}
             THEN 1 ELSE 0 END AS new_s
      FROM e WHERE {pred}
      WINDOW w AS (PARTITION BY user_id ORDER BY ts_ns, event_id)),
    {prefix}_n AS (
      SELECT user_id, ts_ns,
        CAST(SUM(new_s) OVER (PARTITION BY user_id
                              ORDER BY ts_ns, event_id
                              ROWS UNBOUNDED PRECEDING)
             AS BIGINT) AS {prefix}_no
      FROM {prefix}_f),
    {prefix}s AS (
      SELECT user_id, {prefix}_no, MIN(ts_ns) AS {prefix}_start,
             MAX(ts_ns) AS {prefix}_end, COUNT(*) AS n_{prefix}
      FROM {prefix}_n GROUP BY 1, 2)"""


_INC_AGG_ORACLE_SQL = f"""
    {CHANGES_CTE}, {_OK_CTE},
    last AS (
      SELECT db, tbl, pk, val, op,
             ROW_NUMBER() OVER (
                 PARTITION BY db, tbl, pk
                 ORDER BY commit_ts DESC, seq DESC,
                          arrival_seq DESC) AS rn
      FROM ok)
    SELECT db, tbl, COUNT(*) AS n_rows,
           CAST(SUM(CAST(val AS DECIMAL(38,6))) AS DOUBLE) AS sum_val
    FROM last WHERE rn = 1 AND op <> 'D'
    GROUP BY db, tbl
"""


# shared DuckDB mirror of scoring.tfidf_topk (query_mod=50, k via the
# consumer's rank filter, max_df_frac=0.85): ends at CTE ``r`` with
# (query_id, doc_id, n_shared_terms, dot_milli2, rank)
_TFIDF_TOPK_CTE = f"""
            WITH tf AS (
              SELECT doc_id, t.term, COUNT(*) AS tf
              FROM (SELECT doc_id, unnest({osql.TOKS}) AS term
                    FROM documents) t
              GROUP BY doc_id, t.term),
            idf AS (
              SELECT term, COUNT(*) AS df,
                CAST(FLOOR(ln(CAST((SELECT COUNT(*) FROM documents)
                                   AS DOUBLE) / COUNT(*)) * 1000.0)
                     AS BIGINT) AS idf_milli
              FROM tf GROUP BY term
              HAVING COUNT(*) <= CAST(FLOOR(0.85 *
                  (SELECT COUNT(*) FROM documents)) AS BIGINT)),
            w AS (SELECT doc_id, tf.term, tf * idf_milli AS wt
                  FROM tf JOIN idf USING (term)),
            q AS (SELECT doc_id AS query_id, term, wt AS q_wt
                  FROM w WHERE doc_id % 50 = 0),
            pairs AS (
              SELECT query_id, w.doc_id,
                     COUNT(*) AS n_shared_terms,
                     CAST(SUM(q_wt * wt) AS BIGINT) AS dot_milli2
              FROM q JOIN w USING (term)
              WHERE w.doc_id <> query_id
              GROUP BY query_id, w.doc_id),
            r AS (SELECT *, ROW_NUMBER() OVER (
                      PARTITION BY query_id
                      ORDER BY dot_milli2 DESC, doc_id) AS rank
                  FROM pairs)"""


# DuckDB mirror of operators/layout.zorder_expr (bits=16): even bit
# positions take ck, odd take day — identical integer arithmetic
_ZORDER_SQL = "(" + " + ".join(
    f"(((ck >> {b}) & 1) << {2 * b}) + (((day >> {b}) & 1) << {2 * b + 1})"
    for b in range(16)) + ")"


_IVF_INC_SQD = osql._int_sqdist("e.vec", "c.cvec")


def oracle_sql() -> dict[str, str]:
    return {
        "text_weighted_sample": f"""
            WITH s AS (
              SELECT doc_id, lang,
                     CAST(len({osql.TOKS}) + 1 AS BIGINT) AS w,
                     CAST(concat('0x', substring(
                          md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 8))
                          AS BIGINT) AS h
              FROM documents),
            sc AS (
              SELECT doc_id, lang, w,
                     CAST(FLOOR(ln((h + 1) / 4294967296.0) / w
                                * 1000000) AS BIGINT) AS score_micro
              FROM s),
            r AS (
              SELECT *, ROW_NUMBER() OVER (
                  PARTITION BY lang
                  ORDER BY score_micro DESC, doc_id) AS sample_rank
              FROM sc)
            SELECT doc_id, lang, w, score_micro, sample_rank
            FROM r WHERE sample_rank <= 20
        """,
        "events_rolling_activity": f"""
            WITH e AS (SELECT user_id, event_id, epoch_ns(ts) AS ts_ns,
                              value FROM events)
            SELECT user_id, event_id, ts_ns AS ts,
                   COUNT(*) OVER w AS n_7d,
                   CAST(SUM(CAST(value AS DECIMAL(38,6))) OVER w
                        AS DOUBLE) AS value_7d
            FROM e
            WINDOW w AS (PARTITION BY user_id ORDER BY ts_ns
                         RANGE BETWEEN {WEEK_NS} PRECEDING
                               AND CURRENT ROW)
        """,
        "events_cohort_retention": f"""
            WITH e AS (SELECT user_id, epoch_ns(ts) AS ts_ns,
                              event_type FROM events),
            f AS (SELECT user_id, MIN(ts_ns) // {WEEK_NS}
                         AS cohort_period
                  FROM e WHERE event_type = 'signup' GROUP BY user_id),
            a AS (SELECT DISTINCT user_id, ts_ns // {WEEK_NS} AS p
                  FROM e)
            SELECT f.cohort_period, a.p - f.cohort_period
                     AS period_offset,
                   COUNT(*) AS n_users
            FROM a JOIN f USING (user_id)
            WHERE a.p >= f.cohort_period
            GROUP BY 1, 2
        """,
        "events_overlap_bursts": f"""
            WITH e AS (SELECT user_id, event_id, epoch_ns(ts) AS ts_ns,
                              event_type FROM events),
            {_gap_sessions_cte("event_type <> 'error'",
                               30 * 60 * 1_000_000_000, "session")},
            {_gap_sessions_cte("event_type = 'error'",
                               10 * 60 * 1_000_000_000, "burst")}
            SELECT s.user_id, s.session_no, s.session_start,
                   s.session_end, s.n_session, b.burst_no,
                   b.burst_start, b.burst_end,
                   CASE WHEN b.burst_no IS NULL THEN NULL
                        ELSE LEAST(s.session_end, b.burst_end)
                             - GREATEST(s.session_start, b.burst_start)
                   END AS overlap_ns
            FROM sessions s LEFT JOIN bursts b
              ON s.user_id = b.user_id
             AND s.session_start <= b.burst_end
             AND b.burst_start <= s.session_end
        """,
        "events_funnel": osql.funnel_sql(FUNNEL_STEPS, FUNNEL_WINDOW_NS),
        "cdc_scd2_history": _SCD2_HISTORY_SQL,
        # the incremental path must converge to the full recompute:
        # same oracle, different engine derivation (split at T, close
        # open intervals, append the new batch's versions)
        "cdc_scd2_incremental": _SCD2_HISTORY_SQL,
        # DuckDB re-implementation of the sequential scrub (RE2 regex;
        # single-backslash literals — DuckDB strings don't process
        # escapes). Counts on the ORIGINAL text, classes never cascade.
        "text_pii_scrub": f"""
            WITH seeded AS ({PII_DOCS_SELECT}),
            c AS (
              SELECT doc_id,
                len(regexp_extract_all(text,
                    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{{2,}}'))
                    AS n_email,
                len(regexp_extract_all(text,
                    '\\+?[0-9]{{1,3}}[- ][0-9]{{3}}[- ][0-9]{{3,4}}[- ]?[0-9]{{0,4}}'))
                    AS n_phone,
                len(regexp_extract_all(text,
                    '\\b(?:[0-9]{{1,3}}\\.){{3}}[0-9]{{1,3}}\\b')) AS n_ipv4,
                len(regexp_extract_all(text,
                    '\\b[0-9]{{3}}-[0-9]{{2}}-[0-9]{{4}}\\b')) AS n_ssn,
                regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                    text,
                    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{{2,}}',
                    '<EMAIL>', 'g'),
                    '\\+?[0-9]{{1,3}}[- ][0-9]{{3}}[- ][0-9]{{3,4}}[- ]?[0-9]{{0,4}}',
                    '<PHONE>', 'g'),
                    '\\b(?:[0-9]{{1,3}}\\.){{3}}[0-9]{{1,3}}\\b',
                    '<IPV4>', 'g'),
                    '\\b[0-9]{{3}}-[0-9]{{2}}-[0-9]{{4}}\\b',
                    '<SSN>', 'g') AS clean_text
              FROM seeded)
            SELECT doc_id, n_email, n_phone, n_ipv4, n_ssn, clean_text,
                   (n_email + n_phone + n_ipv4 + n_ssn) > 0 AS has_pii
            FROM c
        """,
        "dedup_url_canonical": f"""
            WITH seeded AS ({PII_DOCS_SELECT}),
            u AS (
              SELECT doc_id,
                     unnest(regexp_extract_all(text,
                         'https?://[^\\s"''<>]+')) AS url
              FROM seeded),
            c AS (
              SELECT doc_id, url,
                     concat(
                       lower(regexp_extract(url,
                           'https?://([^/\\s?#]+)', 1)),
                       regexp_replace(regexp_extract(url,
                           'https?://[^/\\s?#]+([^?#\\s]*)', 1),
                           '/$', '')) AS canon_url
              FROM u)
            SELECT canon_url, COUNT(*) AS n_occurrences,
                   COUNT(DISTINCT url) AS n_raw_variants,
                   COUNT(DISTINCT doc_id) AS n_docs,
                   MIN(doc_id) AS canonical_doc
            FROM c GROUP BY canon_url
        """,
        "corpus_url_domains": f"""
            WITH seeded AS ({PII_DOCS_SELECT}),
            u AS (
              SELECT doc_id,
                     unnest(regexp_extract_all(text,
                         'https?://[^\\s"''<>]+')) AS url
              FROM seeded)
            SELECT lower(regexp_extract(url, 'https?://([^/:]+)', 1))
                       AS domain,
                   COUNT(*) AS n_urls,
                   COUNT(DISTINCT doc_id) AS n_docs
            FROM u GROUP BY 1
        """,
        # identical exact decimal sums from the applied snapshot, same
        # final double expression — the deltas must telescope to them
        "cdc_incremental_moments": f"""
            {CHANGES_CTE}, {_OK_CTE},
            last AS (
              SELECT db, tbl, pk, val, op,
                     ROW_NUMBER() OVER (
                         PARTITION BY db, tbl, pk
                         ORDER BY commit_ts DESC, seq DESC,
                                  arrival_seq DESC) AS rn
              FROM ok),
            sums AS (
              SELECT db, tbl, COUNT(*) AS n_rows,
                     CAST(SUM(CAST(val AS DECIMAL(38,6)))
                          AS DOUBLE) AS s,
                     CAST(SUM(CAST(CAST(val AS DECIMAL(18,6))
                                   * CAST(val AS DECIMAL(18,6))
                                   AS DECIMAL(38,12)))
                          AS DOUBLE) AS ss
              FROM last WHERE rn = 1 AND op <> 'D'
              GROUP BY db, tbl)
            SELECT db, tbl, n_rows, s AS sum_val,
                   s / CAST(n_rows AS DOUBLE) AS mean_val,
                   (ss - s * s / CAST(n_rows AS DOUBLE))
                       / CAST(n_rows AS DOUBLE) AS var_val
            FROM sums
        """,
        # independent derivation: the engine never joins raw facts to
        # the dimension (per-account partials broadcast-joined); the
        # oracle joins the applied snapshot to the dimension directly
        "cdc_incremental_join_agg": f"""
            {CHANGES_CTE}, {_OK_CTE},
            last AS (
              SELECT db, tbl, pk, val, op,
                     ROW_NUMBER() OVER (
                         PARTITION BY db, tbl, pk
                         ORDER BY commit_ts DESC, seq DESC,
                                  arrival_seq DESC) AS rn
              FROM ok),
            live AS (
              SELECT pk % 50 AS account, val
              FROM last WHERE rn = 1 AND op <> 'D'),
            dimch AS ({DIM_CHANGES_SELECT}),
            dim_last AS (
              SELECT account, tier FROM (
                SELECT account, tier, ROW_NUMBER() OVER (
                    PARTITION BY account
                    ORDER BY d_ts DESC, d_arrival DESC) AS rn2
                FROM dimch) WHERE rn2 = 1)
            SELECT d.tier AS tier, COUNT(*) AS n_rows,
                   CAST(SUM(CAST(l.val AS DECIMAL(38,6))) AS DOUBLE)
                       AS sum_val
            FROM live l LEFT JOIN dim_last d ON l.account = d.account
            GROUP BY d.tier
        """,
        # independent derivation: the engine ranks bucket refcounts
        # maintained from deltas; the oracle counts the applied
        # snapshot's buckets directly (same count-desc, bucket-asc
        # total order)
        "cdc_incremental_topvals": f"""
            {CHANGES_CTE}, {_OK_CTE},
            last AS (
              SELECT db, tbl, pk, val, op,
                     ROW_NUMBER() OVER (
                         PARTITION BY db, tbl, pk
                         ORDER BY commit_ts DESC, seq DESC,
                                  arrival_seq DESC) AS rn
              FROM ok),
            freq AS (
              SELECT db, tbl, CAST(floor(val) AS BIGINT) AS val_bucket,
                     COUNT(*) AS live_count
              FROM last WHERE rn = 1 AND op <> 'D'
              GROUP BY db, tbl, CAST(floor(val) AS BIGINT)),
            ranked AS (
              SELECT *, ROW_NUMBER() OVER (
                  PARTITION BY db, tbl
                  ORDER BY live_count DESC, val_bucket ASC) AS rank
              FROM freq)
            SELECT db, tbl, CAST(rank AS INT) AS rank, val_bucket,
                   live_count
            FROM ranked WHERE rank <= 3
        """,
        # independent derivation: the engine ranks through multiset
        # refcounts; the oracle row_numbers the applied snapshot
        "cdc_incremental_quantiles": f"""
            {CHANGES_CTE}, {_OK_CTE},
            last AS (
              SELECT db, tbl, pk, val, op,
                     ROW_NUMBER() OVER (
                         PARTITION BY db, tbl, pk
                         ORDER BY commit_ts DESC, seq DESC,
                                  arrival_seq DESC) AS rn
              FROM ok),
            ranked AS (
              SELECT db, tbl, val,
                     ROW_NUMBER() OVER (PARTITION BY db, tbl
                                        ORDER BY val) AS rk,
                     COUNT(*) OVER (PARTITION BY db, tbl) AS n
              FROM last WHERE rn = 1 AND op <> 'D')
            SELECT db, tbl, CAST(MAX(n) AS BIGINT) AS n_live,
                   MAX(CASE WHEN rk = (50 * n + 99) // 100
                       THEN val END) AS p50_val,
                   MAX(CASE WHEN rk = (90 * n + 99) // 100
                       THEN val END) AS p90_val,
                   MAX(CASE WHEN rk = (99 * n + 99) // 100
                       THEN val END) AS p99_val
            FROM ranked GROUP BY db, tbl
        """,
        # independent derivation: the engine reads extrema off a
        # delta-maintained value multiset; the oracle MIN/MAXes the
        # applied snapshot
        "cdc_incremental_extrema": f"""
            {CHANGES_CTE}, {_OK_CTE},
            last AS (
              SELECT db, tbl, pk, val, op,
                     ROW_NUMBER() OVER (
                         PARTITION BY db, tbl, pk
                         ORDER BY commit_ts DESC, seq DESC,
                                  arrival_seq DESC) AS rn
              FROM ok)
            SELECT db, tbl, MIN(val) AS min_val, MAX(val) AS max_val,
                   COUNT(DISTINCT val) AS n_distinct_live
            FROM last WHERE rn = 1 AND op <> 'D'
            GROUP BY db, tbl
        """,
        # independent derivation: the engine never materializes the
        # snapshot (pure delta aggregation); the oracle applies
        # last-image-wins and aggregates the applied state. The wide
        # (map-model) twin must telescope to the same answer.
        "cdc_incremental_agg": _INC_AGG_ORACLE_SQL,
        "cdc_incremental_agg_wide": _INC_AGG_ORACLE_SQL,
        "cdc_incremental_rollup": f"""
            {CHANGES_CTE}, {_OK_CTE},
            last AS (
              SELECT db, tbl, pk, val, op,
                     ROW_NUMBER() OVER (
                         PARTITION BY db, tbl, pk
                         ORDER BY commit_ts DESC, seq DESC,
                                  arrival_seq DESC) AS rn
              FROM ok)
            SELECT db, tbl, COUNT(*) AS n_rows,
                   CAST(SUM(CAST(val AS DECIMAL(38,6))) AS DOUBLE)
                       AS sum_val
            FROM last WHERE rn = 1 AND op <> 'D'
            GROUP BY ROLLUP (db, tbl)
        """,
        # independent derivation: DuckDB's native inequality LEFT join
        # vs the engine's bucketed interval join
        "cdc_temporal_join": f"""
            {CHANGES_CTE}, {_OK_CTE},
            hist AS (
              SELECT pk, val, op, commit_ts AS valid_from,
                     LEAD(commit_ts) OVER (
                         PARTITION BY db, tbl, pk
                         ORDER BY commit_ts, seq, arrival_seq)
                         AS valid_to
              FROM ok WHERE db = 'db1' AND tbl = 'ptest'),
            h AS (SELECT * FROM hist WHERE op <> 'D'),
            facts AS ({TEMPORAL_FACTS_SELECT})
            SELECT f.fact_id, f.pk, f.fact_ts, h.val, h.valid_from
            FROM facts f LEFT JOIN h
              ON h.pk = f.pk AND h.valid_from <= f.fact_ts
             AND (h.valid_to IS NULL OR f.fact_ts < h.valid_to)
        """,
        # independent derivation: last-image-wins apply of the prefix
        # commit_ts <= T, not the history-filter the engine runs
        "cdc_time_travel": f"""
            {CHANGES_CTE}, {_OK_CTE},
            t AS (SELECT CAST(FLOOR(MAX(commit_ts) / 2) AS BIGINT)
                         AS t_as_of FROM changes),
            upto AS (SELECT ok.*, t.t_as_of FROM ok, t
                     WHERE ok.commit_ts <= t.t_as_of),
            last AS (
              SELECT *, ROW_NUMBER() OVER (
                  PARTITION BY db, tbl, pk
                  ORDER BY commit_ts DESC, seq DESC, arrival_seq DESC) AS rn
              FROM upto)
            SELECT db, tbl, pk, val, commit_ts AS valid_from, t_as_of
            FROM last WHERE rn = 1 AND op <> 'D'
        """,
        "dedup_substring_spans": osql.DUPLICATE_SPANS,
        "text_decontaminate_spans": osql.DECONTAMINATE_SPANS,
        "text_mix_weights": osql.mix_to_weights_sql(MIX_WEIGHTS),
        "corpus_length_quantiles": osql.CORPUS_LENGTH_QUANTILES,
        "corpus_split": osql.split_corpus_sql(),
        "dedup_quality_canonicals": osql.DEDUP_QUALITY_CANONICALS,
        "text_strip_spans": osql.STRIP_SPANS,
        "events_asof_attribution": """
            WITH e AS (SELECT user_id, event_id, epoch_ns(ts) AS ts_ns,
                              event_type FROM events),
            p AS (SELECT user_id, event_id AS purchase_id, ts_ns
                  FROM e WHERE event_type = 'purchase'),
            v AS (SELECT user_id, ts_ns, MAX(event_id) AS view_id
                  FROM e WHERE event_type = 'view' GROUP BY 1, 2)
            SELECT p.user_id, p.purchase_id, p.ts_ns AS ts,
                   v.ts_ns AS asof_ts, v.view_id,
                   p.ts_ns - v.ts_ns AS gap_ns
            FROM p ASOF LEFT JOIN v
              ON p.user_id = v.user_id AND p.ts_ns >= v.ts_ns
        """,
        "events_session_stitch": """
            WITH e AS (SELECT user_id, event_id, epoch_ns(ts) AS ts_ns,
                              event_type FROM events),
            core AS (SELECT * FROM e WHERE event_type <> 'error'),
            flagged AS (
              SELECT user_id, event_id, ts_ns,
                CASE WHEN lag(ts_ns) OVER w IS NULL
                          OR ts_ns - lag(ts_ns) OVER w > 1800000000000
                     THEN 1 ELSE 0 END AS new_session
              FROM core
              WINDOW w AS (PARTITION BY user_id ORDER BY ts_ns, event_id)),
            sess0 AS (
              SELECT user_id, ts_ns,
                SUM(new_session) OVER (PARTITION BY user_id
                                       ORDER BY ts_ns, event_id
                                       ROWS UNBOUNDED PRECEDING)
                  AS session_no
              FROM flagged),
            sess AS (SELECT user_id, session_no,
                            MIN(ts_ns) AS session_start,
                            MAX(ts_ns) AS session_end,
                            COUNT(*) AS n_core_events
                     FROM sess0 GROUP BY 1, 2),
            err AS (SELECT user_id, event_id AS error_id, ts_ns
                    FROM e WHERE event_type = 'error')
            SELECT err.user_id, err.error_id, err.ts_ns AS ts,
                   s.session_no, s.session_start, s.session_end,
                   s.n_core_events
            FROM err LEFT JOIN sess s
              ON err.user_id = s.user_id
             AND s.session_start <= err.ts_ns
             AND err.ts_ns <= s.session_end
        """,
        "cdc_kv_decode": f"""
            {CHANGES_CTE}
            SELECT arrival_seq, pk,
              CASE WHEN arrival_seq % 13 = 0 THEN NULL ELSE val END AS val,
              CASE WHEN arrival_seq % 11 = 0 THEN 'dk'
                   ELSE COALESCE(json_extract_string(row_json, '$.k'), 'nk')
                   END AS k,
              CAST(CASE WHEN pk % 2 = 1
                        THEN CAST('18446744073709551616' AS HUGEINT) - pk
                        ELSE CAST(pk AS HUGEINT) END
                   AS VARCHAR) AS u,
              printf('%d.%02d', (pk * 10001) // 100, (pk * 10001) % 100)
                AS d10,
              (arrival_seq % 86400) * 1000000000 AS dur
            FROM changes
        """,
        "cdc_kv_decode_delete": f"""
            {CHANGES_CTE}
            SELECT arrival_seq, pk,
              CASE WHEN arrival_seq % 13 = 0 THEN NULL ELSE val END AS val,
              CASE WHEN arrival_seq % 11 = 0 THEN 'dk'
                   ELSE COALESCE(json_extract_string(row_json, '$.k'), 'nk')
                   END AS k
            FROM changes
        """,
        "cdc_kv_decode_update": f"""
            {CHANGES_CTE}
            SELECT arrival_seq,
              pk AS old_pk, val - 1.0 AS old_val,
              CASE WHEN arrival_seq % 11 = 0 THEN 'dk'
                   ELSE 'old_' ||
                        COALESCE(json_extract_string(row_json, '$.k'), 'nk')
                   END AS old_k,
              pk AS new_pk, val AS new_val,
              CASE WHEN arrival_seq % 11 = 0 THEN 'dk'
                   ELSE COALESCE(json_extract_string(row_json, '$.k'), 'nk')
                   END AS new_k
            FROM changes
        """,
        "cdc_snapshot_apply": f"""
            {CHANGES_CTE}, {_OK_CTE},
            last AS (
              SELECT *, ROW_NUMBER() OVER (
                  PARTITION BY db, tbl, pk
                  ORDER BY commit_ts DESC, seq DESC, arrival_seq DESC) AS rn
              FROM ok)
            SELECT db, tbl, pk, commit_ts, op, val, row_json
            FROM last WHERE rn = 1 AND op <> 'D'
        """,
        "cdc_order_audit": f"""
            {CHANGES_CTE}, {_OK_CTE}
            SELECT source_id,
              COUNT(CASE WHEN order_status = 'ok' THEN 1 END) AS n_ok,
              COUNT(CASE WHEN order_status = 'disorder' THEN 1 END) AS n_disorder,
              COUNT(CASE WHEN order_status = 'duplicate' THEN 1 END) AS n_duplicate,
              MAX(commit_ts) AS source_max_ts
            FROM flagged GROUP BY source_id
        """,
        "cdc_kway_merge": f"""
            {CHANGES_CTE}, {_OK_CTE},
            wm AS (SELECT MIN(source_max_ts) AS watermark FROM (
                     SELECT source_id, MAX(commit_ts) AS source_max_ts
                     FROM changes GROUP BY source_id) t)
            SELECT arrival_seq, source_id, commit_ts, op
            FROM ok, wm WHERE commit_ts <= watermark
        """,
        "cdc_pc_match": f"""
            {CHANGES_CTE},
            p AS (SELECT start_ts, arrival_seq, pk, val FROM changes),
            c AS (SELECT start_ts, commit_ts, (arrival_seq % 20 = 18) AS is_rollback
                  FROM changes WHERE arrival_seq % 20 <> 19)
            SELECT p.start_ts, p.arrival_seq, p.pk, p.val, c.commit_ts,
                   'matched' AS pc_status
            FROM p JOIN c ON p.start_ts = c.start_ts AND NOT c.is_rollback
            UNION ALL
            SELECT p.start_ts, p.arrival_seq, p.pk, p.val,
                   CAST(NULL AS BIGINT) AS commit_ts, 'pending' AS pc_status
            FROM p
            WHERE NOT EXISTS (SELECT 1 FROM c WHERE c.start_ts = p.start_ts)
        """,
        "cdc_progress": f"""
            {CHANGES_CTE},
            h AS (SELECT source_id, commit_ts,
                    CASE WHEN arrival_seq % 25 = 0 THEN 'FAKE' ELSE op END AS op2
                  FROM changes),
            wm AS (SELECT MIN(source_max_ts) AS watermark FROM (
                     SELECT source_id, MAX(commit_ts) AS source_max_ts
                     FROM changes GROUP BY source_id) t),
            c AS (SELECT start_ts FROM changes WHERE arrival_seq % 20 <> 19),
            pending AS (
              SELECT MIN(p.start_ts) AS min_pending
              FROM changes p
              WHERE NOT EXISTS (SELECT 1 FROM c WHERE c.start_ts = p.start_ts))
            SELECT 'source' AS scope, source_id,
              COUNT(CASE WHEN op2 <> 'FAKE' THEN 1 END) AS n_applied,
              COUNT(CASE WHEN op2 = 'FAKE' THEN 1 END) AS n_heartbeats,
              MAX(commit_ts) AS progress_ts,
              MAX(CASE WHEN op2 <> 'FAKE' THEN commit_ts END) AS last_applied_ts
            FROM h GROUP BY source_id
            UNION ALL
            SELECT 'global', CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT),
              CAST(NULL AS BIGINT),
              CASE WHEN min_pending IS NOT NULL AND min_pending <= watermark
                   THEN min_pending - 1 ELSE watermark END,
              CAST(NULL AS BIGINT)
            FROM wm, pending
        """,
        "cdc_txn_resolve": f"""
            {CHANGES_CTE},
            p AS (SELECT start_ts * 262144 AS start_ts, arrival_seq, pk
                  FROM changes pp
                  WHERE NOT EXISTS (
                    SELECT 1 FROM changes cc
                    WHERE cc.arrival_seq % 20 <> 19
                      AND cc.start_ts = pp.start_ts)),
            status AS (
              SELECT start_ts * 262144 AS start_ts,
                     CASE WHEN pk % 4 = 0 THEN 'committed'
                          WHEN pk % 4 = 1 THEN 'rollback'
                          ELSE 'lock' END AS status,
                     CASE WHEN pk % 8 = 0 THEN start_ts * 262144 - 1
                          WHEN pk % 4 = 0 THEN start_ts * 262144 + 5
                     END AS commit_ts
              FROM changes
              WHERE arrival_seq % 20 = 19 AND pk % 4 <> 3),
            latest AS (SELECT MAX(commit_ts) * 262144 AS latest_tso FROM changes)
            SELECT p.start_ts, p.arrival_seq, p.pk,
                   CASE WHEN s.status = 'committed' AND s.commit_ts > p.start_ts
                          THEN 'synthesize_commit'
                        WHEN s.status = 'committed' THEN 'pending'
                        WHEN s.status = 'rollback' THEN 'drop_rollback'
                        WHEN s.status = 'lock' THEN 'pending'
                        WHEN CAST(FLOOR((latest_tso >> 18) / 1000) AS BIGINT)
                             - CAST(FLOOR((p.start_ts >> 18) / 1000) AS BIGINT) <= 30
                          THEN 'pending'
                        ELSE 'drop_rollback' END AS action,
                   CASE WHEN s.status = 'committed' AND s.commit_ts > p.start_ts
                        THEN s.commit_ts END AS resolved_commit_ts
            FROM p LEFT JOIN status s ON p.start_ts = s.start_ts
            CROSS JOIN latest
        """,
        "cdc_update_pk_split": f"""
            {CHANGES_CTE},
            with_old AS (
              SELECT *, CASE WHEN op = 'U' AND arrival_seq % 7 = 0
                             THEN pk + 1 END AS old_pk
              FROM changes),
            moved AS (SELECT * FROM with_old
                      WHERE old_pk IS NOT NULL AND old_pk <> pk)
            SELECT arrival_seq, commit_ts, seq, 0 AS sub_seq, op, pk
            FROM with_old WHERE NOT (old_pk IS NOT NULL AND old_pk <> pk)
            UNION ALL
            SELECT arrival_seq, commit_ts, seq, 0 AS sub_seq, 'D' AS op,
                   old_pk AS pk FROM moved
            UNION ALL
            SELECT arrival_seq, commit_ts, seq, 1 AS sub_seq, 'I' AS op, pk
            FROM moved
        """,
        "cdc_safe_mode": f"""
            {CHANGES_CTE}
            SELECT arrival_seq, commit_ts, seq, 0 AS sub_seq, 'R' AS op, pk
            FROM changes WHERE op = 'I'
            UNION ALL
            SELECT arrival_seq, commit_ts, seq, 0 AS sub_seq, op, pk
            FROM changes WHERE op = 'D'
            UNION ALL
            SELECT arrival_seq, commit_ts, seq, 0 AS sub_seq, 'D' AS op, pk
            FROM changes WHERE op = 'U'
            UNION ALL
            SELECT arrival_seq, commit_ts, seq, 1 AS sub_seq, 'R' AS op, pk
            FROM changes WHERE op = 'U'
        """,
        "cdc_schema_backfill": f"""
            {CHANGES_CTE}
            SELECT arrival_seq, schema_version,
              'x' AS note,
              CASE WHEN schema_version >= 2
                   THEN COALESCE(json_extract_string(row_json, '$.k'), '42')
                   ELSE '42' END AS k
            FROM changes WHERE tbl = 'ptest'
        """,
        "cdc_schema_replay": f"""
            {CHANGES_CTE}
            SELECT arrival_seq, commit_ts,
              CASE WHEN commit_ts >= 80000 THEN 7
                   WHEN commit_ts >= 70000 THEN 6
                   WHEN commit_ts >= 60000 THEN 5
                   WHEN commit_ts >= 40000 THEN 4
                   WHEN commit_ts >= 20000 THEN 3
                   WHEN commit_ts >= 8000  THEN 2
                   ELSE 1 END AS active_version,
              'qtest' AS target_tbl,
              COALESCE(json_extract_string(row_json, '$.k'), '0') AS k,
              CASE WHEN commit_ts >= 70000
                   THEN COALESCE(json_extract_string(row_json, '$.label'), 'none')
                   WHEN commit_ts >= 20000
                   THEN COALESCE(json_extract_string(row_json, '$.tag'), 'none')
                   ELSE 'none' END AS label
            FROM changes
            WHERE tbl = 'ptest' AND commit_ts > 8000
        """,
        "curation_pipeline": f"""
            WITH toks AS (SELECT doc_id, lang, {osql.TOKS} AS toks FROM documents),
            scored AS (SELECT doc_id,
                {', '.join(f"len(list_filter(toks, t -> list_contains([{', '.join(repr(w) for w in textfn.STOPWORDS[lang])}], t))) AS score_{lang}" for lang in sorted(textfn.STOPWORDS))}
              FROM toks),
            lang_pred AS (
              SELECT doc_id,
                CASE {' '.join(f"WHEN score_{lang} = greatest(score_de, score_en, score_es, score_fr, score_zh) THEN '{lang}'" for lang in sorted(textfn.STOPWORDS))} END AS pred_lang
              FROM scored),
            qual AS (SELECT doc_id,
                len(toks) AS n_tokens,
                CAST(len(list_filter(toks, t -> list_contains([{osql._EN}], t))) AS DOUBLE)
                  / CAST(len(toks) AS DOUBLE) AS stopword_ratio,
                CAST(len(regexp_extract_all(text, '[^a-z ]')) AS DOUBLE)
                  / CAST(length(text) AS DOUBLE) AS non_alpha_ratio
              FROM (SELECT doc_id, text, {osql.TOKS} AS toks FROM documents) t),
            hashed AS (SELECT doc_id, md5(text) AS content_hash FROM documents),
            clusters AS (SELECT content_hash, MIN(doc_id) AS canonical_id
                         FROM hashed GROUP BY content_hash)
            SELECT d.doc_id, d.source, l.pred_lang, q.n_tokens, q.stopword_ratio
            FROM documents d
            JOIN lang_pred l ON d.doc_id = l.doc_id
            JOIN qual q ON d.doc_id = q.doc_id
            JOIN hashed h ON d.doc_id = h.doc_id
            JOIN clusters c ON h.content_hash = c.content_hash
            WHERE l.pred_lang = 'en' AND q.n_tokens >= 30
              AND q.non_alpha_ratio < 0.05 AND d.doc_id = c.canonical_id
        """,
        "events_sessionize": """
            WITH e AS (SELECT user_id, event_id, epoch_ns(ts) AS ts_ns FROM events),
            flagged AS (
              SELECT user_id,
                CASE WHEN lag(ts_ns) OVER w IS NULL
                          OR ts_ns - lag(ts_ns) OVER w > 1800000000000
                     THEN 1 ELSE 0 END AS new_session
              FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_ns, event_id))
            SELECT user_id, COUNT(*) AS n_events,
                   COUNT(CASE WHEN new_session = 1 THEN 1 END) AS n_sessions
            FROM flagged GROUP BY user_id
        """,
        "dedup_exact": osql.DEDUP_EXACT,
        "text_contamination": osql.TEXT_CONTAMINATION,
        "text_stratified_sample": osql.TEXT_STRATIFIED_SAMPLE,
        "text_pack_sequences": osql.TEXT_PACK_SEQUENCES,
        "dedup_minhash_lsh": osql.DEDUP_MINHASH_LSH,
        "dedup_simhash_pairs": osql.DEDUP_SIMHASH_PAIRS,
        "dedup_ngram_jaccard": osql.DEDUP_NGRAM_JACCARD,
        "ann_cosine_topk": osql.ANN_COSINE_TOPK,
        "ann_lsh_topk": osql.ANN_LSH_TOPK,
        "ann_ivf_topk": osql.ANN_IVF_TOPK,
        "dedup_embedding_cosine": osql.EMBEDDING_NEAR_DUPS,
        "dedup_embedding_clusters": osql.EMBEDDING_CLUSTERS,
        # per-metric building blocks (osql.TEXT_* / text_lang_id_sql /
        # the dirtied-normalize SQL) composed on doc_id — the DuckDB
        # mirror of q_text_profile's projection-join.
        "text_profile": f"""
            SELECT t.doc_id, t.n_ws_tokens, t.n_bpe_tokens, t.n_chars_measured,
                   q.n_tokens, q.mean_token_len, q.stopword_ratio,
                   q.non_alpha_ratio,
                   l.lang, l.pred_lang, l.best_score,
                   r.n_words, r.top_word_frac, r.dup_bigram_frac,
                   r.is_repetitive,
                   n.clean_text, n.n_ctrl_removed, n.n_ws_collapsed,
                   n.was_dirty
            FROM ({osql.TEXT_TOKEN_COUNT}) t
            JOIN ({osql.TEXT_QUALITY}) q USING (doc_id)
            JOIN ({osql.text_lang_id_sql(textfn.STOPWORDS)}) l USING (doc_id)
            JOIN ({osql.TEXT_REPETITION}) r USING (doc_id)
            JOIN ({TEXT_NORMALIZE_DIRTIED_SQL}) n USING (doc_id)
        """,
        "doc_fingerprint": osql.DOC_FINGERPRINT,
        "text_line_dedup": osql.line_dedup_sql(BOILER_HEADER),
        "text_bm25": osql.bm25_sql(scoring.QUERY_TERMS),
        "text_unigram_lm": osql.UNIGRAM_SURPRISAL,
        "ann_pq_topk": osql.pq_topk_sql(query_mod=None),
        "doc_hash_embed": osql.HASH_EMBED,
        "corpus_token_stats": osql.CORPUS_TOKEN_STATS,
        "text_bigram_lm": osql.BIGRAM_SURPRISAL,
        "corpus_full_curation": osql.corpus_full_curation_sql(
            BOILER_HEADER,
            min_tokens=CURATION_MIN_TOKENS,
            max_mean_surprisal=CURATION_MAX_SURPRISAL,
            budget=CURATION_BUDGET),
        "ann_doc_lsh": osql.ann_doc_lsh_sql(),
        "dedup_incremental": osql.DEDUP_INCREMENTAL,
        "doc_cdc_chunks": osql.CDC_CHUNKS,
        "dedup_containment": osql.CONTAINMENT_PAIRS,
        "corpus_source_report": osql.CORPUS_SOURCE_REPORT,
        "dedup_chunk_minhash": osql.CHUNK_MINHASH_PAIRS,
        "doc_chunks": r"""
            WITH t AS (SELECT doc_id,
                string_split_regex(trim(text), '\s+') AS toks
              FROM documents),
            e AS (SELECT doc_id, toks,
                unnest(range(0, greatest(len(toks), 1), 48)) AS i
              FROM t)
            SELECT doc_id, CAST(i / 48 AS INT) AS chunk_seq,
              CAST(i AS INT) AS tok_off,
              array_to_string(toks[i + 1 : i + 64], ' ') AS chunk_text,
              CAST(least(len(toks) - i, 64) AS INT) AS n_tokens
            FROM e WHERE i < len(toks)
        """,
        "doc_shuffle": """
            SELECT doc_id,
              ROW_NUMBER() OVER (
                ORDER BY md5('0:' || CAST(doc_id AS VARCHAR)), doc_id)
                - 1 AS shuffle_pos
            FROM documents
        """,
        "cdc_gc_safepoint": f"""
            {CHANGES_CTE},
            per_source AS (SELECT source_id, MAX(commit_ts) AS ck
                           FROM changes GROUP BY source_id),
            safe AS (SELECT MIN(ck) AS gc_safe_ts FROM per_source),
            buckets AS (
              SELECT CAST(floor(commit_ts / 100000) AS BIGINT) AS ts_bucket,
                     MAX(commit_ts) AS bucket_max_ts,
                     COUNT(*) AS n_events
              FROM changes GROUP BY 1)
            SELECT ts_bucket, n_events,
                   (bucket_max_ts <= gc_safe_ts) AS droppable
            FROM buckets, safe
        """,
        "cdc_full_pipeline": f"""
            {CHANGES_CTE}, {_OK_CTE},
            kept AS (
              SELECT * FROM ok
              WHERE commit_ts NOT IN (500)
                AND ((lower(db) = 'db0') OR (lower(db) = 'db1')
                     OR regexp_matches(db, '(?i)^db[23]$'))
                AND NOT (lower(db) = 'db2' AND lower(tbl) = 'ntest')
                AND NOT (regexp_matches(db, '(?i).*')
                         AND lower(tbl) = 'ptest' AND op IN ('D'))),
            routed AS (
              SELECT *,
                CASE WHEN regexp_matches(db, '^db.$') AND regexp_matches(tbl, '^ptest$')
                       THEN 'dwh'
                     WHEN regexp_matches(db, '^.*$') AND regexp_matches(tbl, '^.test$')
                       THEN 'dwh'
                     ELSE db END AS target_db,
                CASE WHEN regexp_matches(db, '^db.$') AND regexp_matches(tbl, '^ptest$')
                       THEN 't_p'
                     WHEN regexp_matches(db, '^.*$') AND regexp_matches(tbl, '^.test$')
                       THEN 't_other'
                     ELSE tbl END AS target_tbl
              FROM kept),
            last AS (
              SELECT *, ROW_NUMBER() OVER (
                  PARTITION BY db, tbl, pk
                  ORDER BY commit_ts DESC, seq DESC, arrival_seq DESC) AS rn
              FROM routed)
            SELECT db, tbl, target_db, target_tbl, pk, commit_ts, op, val
            FROM last WHERE rn = 1
        """,
        "cdc_ddl_stream": _ddl_stream_oracle(),
        "cdc_partition_route": f"""
            {CHANGES_CTE},
            dim AS (SELECT * FROM (VALUES
                (100,'ptest','p0'),(102,'ptest','p2'),(103,'ptest','p3'),
                (110,'ptest','p1'),
                (200,'itest','p0'),(201,'itest','p1'),(202,'itest','p2'),
                (203,'itest','p3'),
                (300,'ntest','p0'),(301,'ntest','p1'),(302,'ntest','p2'))
                AS t(physical_id, logical_tbl, partition_name)),
            p AS (SELECT arrival_seq, db,
                    (CASE tbl WHEN 'ptest' THEN 100
                              WHEN 'itest' THEN 200
                              ELSE 300 END) + pk % 4 AS physical_id
                  FROM changes)
            SELECT p.arrival_seq, p.physical_id, p.db, d.logical_tbl,
                   d.partition_name,
                   CASE WHEN d.logical_tbl IS NULL THEN 'orphan'
                        ELSE 'ok' END AS partition_status
            FROM p LEFT JOIN dim d ON p.physical_id = d.physical_id
        """,
        "cdc_loopback_filter": f"""
            {CHANGES_CTE},
            marked AS (
              SELECT arrival_seq, commit_ts,
                CASE WHEN arrival_seq % 31 = 0 THEN 'retl' ELSE db END AS db,
                CASE WHEN arrival_seq % 31 = 0 THEN '_drainer_repl_mark'
                     ELSE tbl END AS tbl
              FROM changes),
            mark_txns AS (
              SELECT DISTINCT commit_ts FROM marked
              WHERE db = 'retl' AND tbl = '_drainer_repl_mark')
            SELECT arrival_seq, commit_ts, db, tbl FROM marked
            WHERE commit_ts NOT IN (SELECT commit_ts FROM mark_txns)
        """,
        "cdc_txn_batches": f"""
            {CHANGES_CTE},
            ts AS (SELECT commit_ts, COUNT(*) AS n_dmls
                   FROM changes GROUP BY commit_ts),
            s AS (SELECT *, SUM(n_dmls) OVER (ORDER BY commit_ts
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
                  FROM ts),
            b AS (SELECT commit_ts,
                    CAST(floor((cum - n_dmls) / 60) AS BIGINT) AS batch_no
                  FROM s)
            SELECT batch_no, COUNT(DISTINCT c.commit_ts) AS n_txns,
                   COUNT(*) AS n_dmls,
                   MIN(c.commit_ts) AS min_ts, MAX(c.commit_ts) AS max_ts
            FROM changes c JOIN b USING (commit_ts)
            GROUP BY batch_no
        """,
        "cdc_truncated_drop": f"""
            {CHANGES_CTE},
            ids AS (SELECT *,
                      (CASE tbl WHEN 'ptest' THEN 100
                                WHEN 'itest' THEN 200
                                ELSE 300 END) + pk % 4 AS table_id
                    FROM changes)
            SELECT arrival_seq, table_id, tbl, pk
            FROM ids WHERE table_id NOT IN (101, 203)
        """,
        "dedup_minhash_clusters": osql.DEDUP_MINHASH_CLUSTERS,
        "dedup_simhash": osql.DEDUP_SIMHASH,
        "cdc_type_format": """
            WITH ev AS (
              SELECT *,
                CAST(floor(epoch(ts)) AS BIGINT) AS sec,
                CASE WHEN event_id % 2 = 1 THEN -1 - event_id * 1000
                     ELSE event_id * 1000 END AS ubig_signed,
                ['red','green','blue'] AS enum_elems,
                CAST(event_id % 4 AS INT) AS enum_idx,
                CAST(user_id % 8 AS BIGINT) AS set_mask
              FROM events)
            SELECT event_id,
              CAST(ts AS STRING) AS ts_str,
              CAST(CAST(value AS DECIMAL(20,4)) AS STRING) AS value_decimal_str,
              json_extract_string(props, '$.k') AS json_k,
              CAST(floor(value) AS BIGINT) AS value_floor_int,
              CASE event_type WHEN 'click' THEN 1 WHEN 'view' THEN 2
                WHEN 'purchase' THEN 3 WHEN 'signup' THEN 4 ELSE 5 END
                AS event_type_enum,
              CAST(CAST(ubig_signed AS DECIMAL(20,0))
                   + CASE WHEN ubig_signed < 0
                          THEN CAST('18446744073709551616' AS DECIMAL(20,0))
                          ELSE 0 END AS STRING) AS ubig_str,
              CAST(user_id % 65536 AS STRING) AS bit_int_str,
              CASE WHEN enum_idx = 0 THEN ''
                   ELSE enum_elems[enum_idx] END AS enum_name,
              CASE WHEN enum_idx = 0 THEN 0
                   ELSE CAST(enum_idx AS BIGINT) END AS enum_back,
              COALESCE(array_to_string(
                list_filter(
                  list_transform(generate_series(1, 3),
                    i -> CASE WHEN (set_mask >> (i - 1)) & 1 = 1
                              THEN enum_elems[i] END),
                  x -> x IS NOT NULL), ','), '') AS set_names,
              set_mask AS set_back,
              strftime(to_timestamp(sec) AT TIME ZONE 'UTC',
                       '%Y-%m-%d %H:%M:%S') AS utc_ts,
              strftime(to_timestamp(sec + 19800) AT TIME ZONE 'UTC',
                       '%Y-%m-%d %H:%M:%S') AS ist_ts,
              strftime(to_timestamp(sec - 21600) AT TIME ZONE 'UTC',
                       '%Y-%m-%d %H:%M:%S') AS cst_ts,
              strftime(to_timestamp(sec) AT TIME ZONE 'Asia/Kolkata',
                       '%Y-%m-%d %H:%M:%S') AS kolkata_ts
            FROM ev
        """,
        "cdc_causality_groups": f"""
            {CHANGES_CTE},
            tk AS (SELECT DISTINCT arrival_seq - (arrival_seq % 7) AS txn_id,
                          tbl || '|' || CAST(pk AS STRING) AS key
                   FROM changes),
            e AS (SELECT DISTINCT a.txn_id AS src, b.txn_id AS dst
                  FROM tk a JOIN tk b ON a.key = b.key),
            r AS (
              SELECT txn_id, txn_id AS label
              FROM (SELECT DISTINCT txn_id FROM tk)
              UNION
              SELECT e.src AS txn_id, r.label FROM r JOIN e ON e.dst = r.txn_id
            )
            SELECT txn_id, MIN(label) AS group_id FROM r GROUP BY txn_id
        """.replace("WITH changes AS", "WITH RECURSIVE changes AS"),
        "cdc_wide_row_apply": f"""
            {CHANGES_CTE}, {_OK_CTE},
            w AS (SELECT *,
                    COALESCE(json_extract_string(row_json, '$.k'), 'nk') AS kx
                  FROM ok),
            orded AS (
              SELECT *, CAST(ROW_NUMBER() OVER (
                  PARTITION BY db, tbl, pk
                  ORDER BY commit_ts, seq, arrival_seq) AS BIGINT) AS ord
              FROM w),
            dd AS (
              SELECT *, MAX(CASE WHEN op = 'D' THEN ord END)
                          OVER (PARTITION BY db, tbl, pk) AS last_d
              FROM orded),
            agg AS (
              SELECT db, tbl, pk,
                MAX(ord) AS last_ord,
                MAX(CASE WHEN op = 'D' THEN ord END) AS last_d_ord,
                MAX(CASE WHEN op = 'I' THEN ord END) AS last_i,
                MAX_BY(CAST(pk AS STRING), ord) AS f_pk,
                MAX_BY(CAST(val AS STRING), ord) AS f_val,
                MAX_BY(kx, ord) AS f_k,
                MIN_BY(CAST(pk AS STRING),
                       CASE WHEN op = 'U' AND (last_d IS NULL OR ord > last_d)
                            THEN ord END) AS o_pk,
                MIN_BY(CAST(val - 1 AS STRING),
                       CASE WHEN op = 'U' AND (last_d IS NULL OR ord > last_d)
                            THEN ord END) AS o_val,
                MIN_BY('old_' || kx,
                       CASE WHEN op = 'U' AND (last_d IS NULL OR ord > last_d)
                            THEN ord END) AS o_k,
                COUNT(*) AS n_ops
              FROM dd GROUP BY db, tbl, pk),
            m AS (
              SELECT *,
                CASE WHEN last_d_ord = last_ord THEN 'D'
                     WHEN last_i IS NOT NULL
                          AND (last_d_ord IS NULL OR last_i > last_d_ord)
                       THEN 'I'
                     ELSE 'U' END AS merged_op
              FROM agg)
            SELECT db, tbl, pk, merged_op, 'pk' AS col, f_pk AS final_val,
                   CASE WHEN merged_op = 'U' THEN o_pk END AS first_old_val,
                   n_ops
            FROM m
            UNION ALL
            SELECT db, tbl, pk, merged_op, 'val', f_val,
                   CASE WHEN merged_op = 'U' THEN o_val END, n_ops
            FROM m
            UNION ALL
            SELECT db, tbl, pk, merged_op, 'k', f_k,
                   CASE WHEN merged_op = 'U' THEN o_k END, n_ops
            FROM m
        """,
        "sink_sql_wide": f"""
            {CHANGES_CTE},
            w AS (SELECT *,
                    COALESCE(json_extract_string(row_json, '$.k'), 'nk') AS kx
                  FROM changes),
            r AS (SELECT *,
                '''' || replace(replace(CAST(pk AS STRING), '\\', '\\\\'),
                                '''', '''''') || '''' AS q_pk,
                '''' || replace(replace(CAST(val AS STRING), '\\', '\\\\'),
                                '''', '''''') || '''' AS q_val,
                '''' || replace(replace(kx, '\\', '\\\\'),
                                '''', '''''') || '''' AS q_k,
                '''' || replace(replace(CAST(val - 1 AS STRING), '\\', '\\\\'),
                                '''', '''''') || '''' AS q_oval,
                '''' || replace(replace('old_' || kx, '\\', '\\\\'),
                                '''', '''''') || '''' AS q_ok
              FROM w)
            SELECT arrival_seq, op, 'batch' AS exec_mode,
              CASE op
                WHEN 'I' THEN 'INSERT INTO `' || db || '`.`' || tbl ||
                  '`(`pk`, `val`, `k`) VALUES (' || q_pk || ', ' || q_val ||
                  ', ' || q_k || ')'
                WHEN 'D' THEN 'DELETE FROM `' || db || '`.`' || tbl ||
                  '` WHERE `pk` = ' || q_pk || ' LIMIT 1'
                WHEN 'U' THEN 'UPDATE `' || db || '`.`' || tbl ||
                  '` SET `pk` = ' || q_pk || ', `val` = ' || q_val ||
                  ', `k` = ' || q_k || ' WHERE ' ||
                  CASE WHEN arrival_seq % 221 = 0
                         THEN '`pk` IS NULL AND `val` = ' || q_oval ||
                              ' AND `k` IS NULL'
                       WHEN arrival_seq % 13 = 0
                         THEN '`k` = ' || q_ok
                       ELSE '`pk` = ' || q_pk END || ' LIMIT 1'
              END AS sql_text
            FROM r
        """,
        "sink_sql_generation": f"""
            {CHANGES_CTE}
            SELECT arrival_seq, op,
              CASE op
                WHEN 'I' THEN 'INSERT INTO `' || db || '`.`' || tbl ||
                  '`(`pk`, `val`) VALUES (' || CAST(pk AS STRING) || ', ' ||
                  CAST(val AS STRING) || ')'
                WHEN 'U' THEN 'UPDATE `' || db || '`.`' || tbl ||
                  '` SET `val` = ' || CAST(val AS STRING) ||
                  ' WHERE `pk` = ' || CAST(pk AS STRING) || ' LIMIT 1'
                WHEN 'D' THEN 'DELETE FROM `' || db || '`.`' || tbl ||
                  '` WHERE `pk` = ' || CAST(pk AS STRING) || ' LIMIT 1'
              END AS sql_mysql,
              CASE op
                WHEN 'I' THEN 'INSERT INTO ' || upper(db) || '.' || upper(tbl) ||
                  '(PK, VAL) VALUES (' || CAST(pk AS STRING) || ', ' ||
                  CAST(val AS STRING) || ')'
                WHEN 'U' THEN 'UPDATE ' || upper(db) || '.' || upper(tbl) ||
                  ' SET VAL = ' || CAST(val AS STRING) ||
                  ' WHERE PK = ' || CAST(pk AS STRING) || ' AND rownum <= 1'
                WHEN 'D' THEN 'DELETE FROM ' || upper(db) || '.' || upper(tbl) ||
                  ' WHERE PK = ' || CAST(pk AS STRING) || ' AND rownum <= 1'
              END AS sql_oracle
            FROM changes
        """,
        "sink_obinlog_wide": f"""
            {CHANGES_CTE},
            w AS (SELECT *,
                    COALESCE(json_extract_string(row_json, '$.k'), 'nk') AS kx
                  FROM changes)
            SELECT commit_ts,
              '{{"commit_ts":' || CAST(commit_ts AS STRING) ||
              ',"type":"' || op ||
              '","schema_name":"' || db ||
              '","table_name":"' || tbl ||
              '","column_info":["pk","val","k"],"row":["' ||
                CAST(pk AS STRING) || '","' || CAST(val AS STRING) ||
                '","' || kx ||
              '"],"change_row":' ||
              CASE WHEN op = 'U'
                   THEN '["' || CAST(pk AS STRING) || '","' ||
                        CAST(val - 1 AS STRING) || '","old_' || kx || '"]'
                   ELSE 'null' END ||
              ',"unique_keys":[{{"name":"PRIMARY","columns":["pk"]}},' ||
              '{{"name":"uk_k","columns":["k"]}}]}}' AS payload
            FROM w
        """,
        "sink_payload_roundtrip": f"""
            {CHANGES_CTE},
            r AS (SELECT arrival_seq, commit_ts, op, db, tbl, pk, seq,
                    ROW_NUMBER() OVER (PARTITION BY commit_ts
                                       ORDER BY arrival_seq, source_id) AS rn
                  FROM changes)
            SELECT arrival_seq, commit_ts, op, db, tbl, pk, seq
            FROM r WHERE rn = 1
        """,
        "sink_kafka_obinlog": f"""
            {CHANGES_CTE},
            w AS (SELECT *,
                    COALESCE(json_extract_string(row_json, '$.k'), 'nk') AS kx
                  FROM changes WHERE arrival_seq % 7 = 0)
            SELECT commit_ts, db, tbl, op, pk, val, kx AS k,
                   CASE WHEN op = 'U' THEN val - 1 END AS old_val,
                   CASE WHEN op = 'U' THEN 'old_' || kx END AS old_k
            FROM w
        """,
        "cdc_reparo_replay": f"""
            {CHANGES_CTE},
            s AS (SELECT *,
                    COALESCE(json_extract_string(row_json, '$.k'), 'nk') AS kx
                  FROM changes WHERE arrival_seq % 11 = 0),
            b AS (SELECT CAST(MAX(commit_ts) AS BIGINT) * 2 // 10 AS lo,
                         CAST(MAX(commit_ts) AS BIGINT) * 8 // 10 AS hi
                  FROM s)
            SELECT commit_ts, db, tbl, op, pk, val, kx AS k
            FROM s, b WHERE commit_ts >= lo AND commit_ts <= hi
        """,
        "cdc_pitr_restore": f"""
            {CHANGES_CTE}, {_OK_CTE},
            s AS (SELECT *,
                    COALESCE(json_extract_string(row_json, '$.k'), 'nk') AS kx
                  FROM ok WHERE arrival_seq % 3 = 0),
            b AS (SELECT CAST(MAX(commit_ts) AS BIGINT) * 6 // 10
                           AS stop_ts FROM s),
            r AS (SELECT db, tbl, pk, val, kx, commit_ts, op,
                    ROW_NUMBER() OVER (PARTITION BY db, tbl, pk
                                       ORDER BY commit_ts DESC) AS rn
                  FROM s, b WHERE commit_ts <= stop_ts)
            SELECT db, tbl, pk, val, kx AS k, commit_ts
            FROM r WHERE rn = 1 AND op <> 'D'
        """,
        "corpus_inverted_index": f"""
            WITH toks AS (SELECT doc_id, {osql.TOKS} AS toks
                          FROM documents),
            pairs AS (SELECT DISTINCT doc_id, unnest(toks) AS term
                      FROM toks),
            ranked AS (SELECT term, doc_id,
                         ROW_NUMBER() OVER (PARTITION BY term
                                            ORDER BY doc_id) AS rk
                       FROM pairs)
            SELECT term, COUNT(*) AS df,
                   string_agg(CASE WHEN rk <= 20
                                   THEN CAST(doc_id AS STRING) END,
                              ',' ORDER BY doc_id) AS postings
            FROM ranked GROUP BY term HAVING COUNT(*) >= 5
        """,
        "snapshot_returned_items": """
            SELECT c_custkey, c_name, n_name,
              CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                            AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
              COUNT(*) AS n_items
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            WHERE l_returnflag = 'R'
            GROUP BY c_custkey, c_name, n_name
            ORDER BY revenue DESC, c_custkey ASC
            LIMIT 20
        """,
        "snapshot_cust_no_orders": """
            SELECT n_name, COUNT(*) AS n_cust,
              CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE)
                AS total_bal
            FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            WHERE c_acctbal > 0.0
              AND NOT EXISTS (SELECT 1 FROM orders
                              WHERE o_custkey = c_custkey
                                AND o_orderdate >=
                                    TIMESTAMP '2000-01-01 00:00:00')
            GROUP BY n_name
        """,
        "snapshot_volume_shipping": """
            SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
              year(l_shipdate) AS ship_year,
              CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                            AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
              COUNT(*) AS n_items
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation cn ON c_nationkey = cn.n_nationkey
            JOIN nation sn ON s_nationkey = sn.n_nationkey
            WHERE cn.n_name <> sn.n_name
            GROUP BY cn.n_name, sn.n_name, year(l_shipdate)
        """,
        "sink_bulk_batches": f"""
            {CHANGES_CTE}, {_OK_CTE},
            last AS (
              SELECT *, ROW_NUMBER() OVER (
                  PARTITION BY db, tbl, pk
                  ORDER BY commit_ts DESC, seq DESC, arrival_seq DESC) AS rn
              FROM ok),
            compacted AS (SELECT * FROM last WHERE rn = 1),
            ranked AS (
              SELECT db, tbl, op, pk,
                '(' || CAST(pk AS STRING) || ', ' || CAST(val AS STRING) || ')' AS vt,
                CAST(floor((ROW_NUMBER() OVER (PARTITION BY db, tbl, op ORDER BY pk) - 1)
                     / 128) AS INT) AS batch_no
              FROM compacted)
            SELECT db, tbl, op, batch_no,
                   string_agg(vt, ', ' ORDER BY vt) AS values_list,
                   COUNT(*) AS n_rows
            FROM ranked GROUP BY db, tbl, op, batch_no
        """,
        "mm_assets": """
            WITH meta AS (
              SELECT doc_id,
                CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
                substring(hex(encode(text)), 1, 8) AS header_hex,
                md5(text) AS content_md5,
                CAST(octet_length(encode(text)) % 640 + 1 AS BIGINT) AS fake_width,
                CAST(octet_length(encode(text)) % 480 + 1 AS BIGINT) AS fake_height
              FROM documents),
            b AS (SELECT doc_id, encode(text) AS payload FROM documents),
            offs AS (
              SELECT doc_id, payload,
                     unnest(generate_series(0, octet_length(payload) - 1, 1000))
                       AS frame_offset
              FROM b),
            frames AS (
              SELECT doc_id, frame_offset,
                     substring(hex(payload), frame_offset * 2 + 1, 16) AS frame_hex
              FROM offs),
            agg AS (
              SELECT doc_id, COUNT(*) AS n_frames,
                     md5(string_agg(frame_hex, '' ORDER BY frame_offset))
                       AS frames_digest
              FROM frames GROUP BY doc_id)
            SELECT m.doc_id, m.n_bytes, m.header_hex, m.content_md5,
                   m.fake_width, m.fake_height, a.n_frames, a.frames_digest
            FROM meta m JOIN agg a USING (doc_id)
        """,
        "snapshot_checksum_orders": """
            WITH hashed AS (
              SELECT md5(concat_ws('|',
                CAST(o_orderkey AS STRING), CAST(o_custkey AS STRING),
                o_orderstatus, CAST(o_totalprice AS STRING),
                CAST(o_orderdate AS STRING), o_orderpriority))
                AS row_md5
              FROM orders)
            SELECT substring(row_md5, 1, 2) AS bucket,
                   COUNT(*) AS n_rows,
                   md5(string_agg(row_md5, '' ORDER BY row_md5)) AS digest
            FROM hashed GROUP BY substring(row_md5, 1, 2)
        """,
        "snapshot_bracket_revenue": """
            WITH b AS (
              SELECT CASE
                WHEN l_quantity <= 15 AND l_discount >= 0.07
                  THEN 'small_deep'
                WHEN l_quantity > 15 AND l_quantity <= 35
                     AND l_discount BETWEEN 0.03 AND 0.07
                  THEN 'mid_standard'
                WHEN l_quantity > 35 AND l_discount <= 0.03
                  THEN 'large_thin'
                END AS bracket,
                l_extendedprice, l_discount
              FROM lineitem)
            SELECT bracket, COUNT(*) AS n_items,
              CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                            AS DECIMAL(38,6))) AS DOUBLE) AS revenue
            FROM b WHERE bracket IS NOT NULL
            GROUP BY bracket
        """,
        "cdc_hot_keys": f"""
            {CHANGES_CTE},
            per_key AS (
              SELECT db, tbl, pk, COUNT(*) AS n_writes,
                CAST(SUM(CASE WHEN op = 'U' THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_updates
              FROM changes WHERE op IN ('I', 'U', 'D')
              GROUP BY db, tbl, pk),
            totals AS (SELECT db, tbl, SUM(n_writes) AS tbl_writes
                       FROM per_key GROUP BY db, tbl)
            SELECT p.db, p.tbl, p.pk, p.n_writes, p.n_updates,
              CAST(t.tbl_writes AS BIGINT) AS tbl_writes,
              CAST((p.n_writes * 1000000) // t.tbl_writes AS BIGINT)
                AS share_micro
            FROM per_key p JOIN totals t
              ON p.db = t.db AND p.tbl = t.tbl
            ORDER BY p.n_writes DESC, p.db, p.tbl, p.pk
            LIMIT 20
        """,
        "dedup_savings_report": f"""
            WITH RECURSIVE {osql.MINHASH_PAIRS_CTES},
            e0 AS (
              SELECT doc_a AS txn_id, CAST(doc_b AS STRING) AS key
              FROM pairs
              UNION ALL
              SELECT doc_b AS txn_id, CAST(doc_b AS STRING) AS key
              FROM pairs),
            tk AS (SELECT DISTINCT txn_id, key FROM e0),
            e AS (SELECT DISTINCT a.txn_id AS src, b.txn_id AS dst
                  FROM tk a JOIN tk b ON a.key = b.key),
            r AS (
              SELECT txn_id, txn_id AS label
              FROM (SELECT DISTINCT txn_id FROM tk)
              UNION
              SELECT e.src AS txn_id, r.label
              FROM r JOIN e ON e.dst = r.txn_id),
            cl AS (SELECT txn_id AS doc_id, MIN(label) AS cluster_id
                   FROM r GROUP BY txn_id),
            sized AS (
              SELECT cluster_id, COUNT(*) AS cluster_size,
                     SUM(n_chars) AS chars_total,
                     MIN(n_chars) AS keep_chars
              FROM cl JOIN documents USING (doc_id)
              GROUP BY cluster_id)
            SELECT cluster_size,
                   COUNT(*) AS n_clusters,
                   CAST(SUM(cluster_size - 1) AS BIGINT) AS n_removable,
                   CAST(SUM(chars_total - keep_chars) AS BIGINT)
                     AS chars_removable
            FROM sized GROUP BY cluster_size
        """,
        "events_session_paths": f"""
            WITH e AS (SELECT user_id, event_id, epoch_ns(ts) AS ts_ns,
                              event_type FROM events),
            fl AS (SELECT user_id, event_id, ts_ns, event_type,
                     CASE WHEN lag(ts_ns) OVER w IS NULL
                               OR ts_ns - lag(ts_ns) OVER w
                                  > {30 * 60 * 1_000_000_000}
                          THEN 1 ELSE 0 END AS new_s
                   FROM e WINDOW w AS (PARTITION BY user_id
                                       ORDER BY ts_ns, event_id)),
            num AS (SELECT *, SUM(new_s) OVER (
                        PARTITION BY user_id ORDER BY ts_ns, event_id
                        ROWS UNBOUNDED PRECEDING) AS session_no
                    FROM fl),
            f3 AS (SELECT *, ROW_NUMBER() OVER (
                       PARTITION BY user_id, session_no
                       ORDER BY ts_ns, event_id) AS rn
                   FROM num QUALIFY rn <= 3),
            p AS (SELECT user_id, session_no,
                    string_agg(event_type, '>' ORDER BY rn) AS path
                  FROM f3 GROUP BY user_id, session_no)
            SELECT path, COUNT(*) AS n_sessions
            FROM p GROUP BY path
            ORDER BY n_sessions DESC, path ASC
            LIMIT 20
        """,
        "cdc_incremental_distinct": f"""
            {CHANGES_CTE}, {_OK_CTE},
            last AS (
              SELECT db, tbl, pk, val, op,
                     ROW_NUMBER() OVER (
                         PARTITION BY db, tbl, pk
                         ORDER BY commit_ts DESC, seq DESC,
                                  arrival_seq DESC) AS rn
              FROM ok),
            live AS (SELECT db, tbl, pk, val FROM last
                     WHERE rn = 1 AND op <> 'D')
            SELECT db, tbl, COUNT(DISTINCT val) AS n_distinct,
                   COUNT(*) AS n_live
            FROM live GROUP BY db, tbl
        """,
        "corpus_gate_report": f"""
            WITH toks AS (SELECT doc_id, lang, text, {osql.TOKS} AS toks
                          FROM documents),
            q AS (SELECT doc_id,
                    len(toks) AS n_tokens,
                    CAST(len(list_filter(toks, t -> list_contains(
                         [{osql._EN}], t))) AS DOUBLE)
                      / CAST(len(toks) AS DOUBLE) AS stopword_ratio,
                    CAST(len(regexp_extract_all(text, '[^a-z ]'))
                         AS DOUBLE) / CAST(length(text) AS DOUBLE)
                      AS non_alpha_ratio
                  FROM toks),
            lid AS ({osql.text_lang_id_sql(textfn.STOPWORDS)}),
            j AS (SELECT q.doc_id, q.n_tokens, q.stopword_ratio,
                         q.non_alpha_ratio, lid.pred_lang
                  FROM q JOIN lid ON q.doc_id = lid.doc_id),
            r AS (SELECT doc_id, pred_lang, n_tokens,
                    concat_ws(',',
                      CASE WHEN n_tokens < 30 THEN 'too_short' END,
                      CASE WHEN stopword_ratio > 0.45
                           THEN 'stopword_heavy' END,
                      CASE WHEN non_alpha_ratio > 0.2
                           THEN 'non_alpha_heavy' END,
                      CASE WHEN pred_lang NOT IN ('en', 'es')
                           THEN 'lang_blocked' END) AS fail_reasons,
                    (CASE WHEN n_tokens < 30 THEN 1 ELSE 0 END
                     + CASE WHEN stopword_ratio > 0.45 THEN 1 ELSE 0 END
                     + CASE WHEN non_alpha_ratio > 0.2 THEN 1 ELSE 0 END
                     + CASE WHEN pred_lang NOT IN ('en', 'es')
                            THEN 1 ELSE 0 END) AS n_failed
                  FROM j)
            SELECT doc_id, pred_lang, n_tokens,
                   fail_reasons = '' AS passed,
                   CAST(n_failed AS INT) AS n_failed, fail_reasons
            FROM r
        """,
        "dedup_lsh_calibration": f"""
            WITH {osql.MINHASH_PAIRS_CTES},
            shset AS (SELECT doc_id, shingles FROM sh),
            sc AS (
              SELECT p.doc_a, p.doc_b,
                len(list_filter(generate_series(0, 11),
                                j -> sig_a[j+1] = sig_b[j+1])) AS n_agree,
                (CAST(len(list_filter(list_distinct(a.shingles),
                      x -> list_contains(b.shingles, x))) AS BIGINT)
                 * 1000000)
                // (len(list_distinct(a.shingles))
                    + len(list_distinct(b.shingles))
                    - len(list_filter(list_distinct(a.shingles),
                          x -> list_contains(b.shingles, x))))
                  AS jac_micro
              FROM pairs p
              JOIN shset a ON p.doc_a = a.doc_id
              JOIN shset b ON p.doc_b = b.doc_id)
            SELECT CAST(n_agree AS INT) AS n_agree,
              COUNT(*) AS n_pairs,
              CAST(SUM(CASE WHEN jac_micro >= 500000 THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_true,
              CAST((SUM(CASE WHEN jac_micro >= 500000 THEN 1 ELSE 0 END)
                    * 1000000) // COUNT(*) AS BIGINT) AS precision_micro,
              CAST(SUM(jac_micro) // COUNT(*) AS BIGINT)
                AS mean_jaccard_micro
            FROM sc GROUP BY n_agree
        """,
        "snapshot_diff_drilldown": """
            WITH src AS (SELECT o_orderkey, o_orderstatus, o_totalprice
                         FROM orders),
            kept AS (SELECT o_orderkey, o_orderstatus,
                       CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice + 1.0
                            ELSE o_totalprice END AS o_totalprice
                     FROM src WHERE o_orderkey % 89 <> 0),
            extra AS (SELECT o_orderkey + 10000000 AS o_orderkey,
                             o_orderstatus, o_totalprice
                      FROM src WHERE o_orderkey % 83 = 0),
            dst AS (SELECT * FROM kept UNION ALL SELECT * FROM extra),
            sb AS (SELECT *, substring(md5(CAST(o_orderkey AS STRING)),
                                       1, 2) AS bucket FROM src),
            db_ AS (SELECT *, substring(md5(CAST(o_orderkey AS STRING)),
                                        1, 2) AS bucket FROM dst),
            sdig AS (SELECT bucket,
                       md5(string_agg(md5(concat_ws(chr(31),
                         COALESCE(CAST(o_orderkey AS STRING), chr(0)),
                         COALESCE(o_orderstatus, chr(0)),
                         COALESCE(CAST(o_totalprice AS STRING), chr(0)))),
                         '' ORDER BY md5(concat_ws(chr(31),
                         COALESCE(CAST(o_orderkey AS STRING), chr(0)),
                         COALESCE(o_orderstatus, chr(0)),
                         COALESCE(CAST(o_totalprice AS STRING), chr(0))))))
                         AS src_digest
                     FROM sb GROUP BY bucket),
            ddig AS (SELECT bucket,
                       md5(string_agg(md5(concat_ws(chr(31),
                         COALESCE(CAST(o_orderkey AS STRING), chr(0)),
                         COALESCE(o_orderstatus, chr(0)),
                         COALESCE(CAST(o_totalprice AS STRING), chr(0)))),
                         '' ORDER BY md5(concat_ws(chr(31),
                         COALESCE(CAST(o_orderkey AS STRING), chr(0)),
                         COALESCE(o_orderstatus, chr(0)),
                         COALESCE(CAST(o_totalprice AS STRING), chr(0))))))
                         AS dst_digest
                     FROM db_ GROUP BY bucket),
            mism AS (SELECT COALESCE(sdig.bucket, ddig.bucket) AS bucket
                     FROM sdig FULL OUTER JOIN ddig USING (bucket)
                     WHERE src_digest IS DISTINCT FROM dst_digest),
            s2 AS (SELECT sb.* FROM sb JOIN mism USING (bucket)),
            d2 AS (SELECT db_.* FROM db_ JOIN mism USING (bucket)),
            j AS (
              SELECT COALESCE(s.bucket, d.bucket) AS bucket,
                COALESCE(s.o_orderkey, d.o_orderkey) AS o_orderkey,
                CASE WHEN d.o_orderkey IS NULL THEN 'only_src'
                     WHEN s.o_orderkey IS NULL THEN 'only_dst'
                     WHEN s.o_orderstatus IS DISTINCT FROM d.o_orderstatus
                       OR s.o_totalprice IS DISTINCT FROM d.o_totalprice
                       THEN 'changed' END AS diff_status,
                s.o_orderstatus AS src_o_orderstatus,
                s.o_totalprice  AS src_o_totalprice,
                d.o_orderstatus AS dst_o_orderstatus,
                d.o_totalprice  AS dst_o_totalprice
              FROM s2 s FULL OUTER JOIN d2 d
                ON s.bucket = d.bucket AND s.o_orderkey = d.o_orderkey)
            SELECT * FROM j WHERE diff_status IS NOT NULL
        """,
        "snapshot_diff_orders": """
            WITH src AS (SELECT o_orderkey, o_orderstatus, o_totalprice
                         FROM orders),
            kept AS (SELECT o_orderkey, o_orderstatus,
                       CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice + 1.0
                            ELSE o_totalprice END AS o_totalprice
                     FROM src WHERE o_orderkey % 89 <> 0),
            extra AS (SELECT o_orderkey + 10000000 AS o_orderkey,
                             o_orderstatus, o_totalprice
                      FROM src WHERE o_orderkey % 83 = 0),
            dst AS (SELECT * FROM kept UNION ALL SELECT * FROM extra),
            j AS (
              SELECT COALESCE(s.o_orderkey, d.o_orderkey) AS o_orderkey,
                CASE WHEN d.o_orderkey IS NULL THEN 'only_src'
                     WHEN s.o_orderkey IS NULL THEN 'only_dst'
                     WHEN s.o_orderstatus IS DISTINCT FROM d.o_orderstatus
                       OR s.o_totalprice IS DISTINCT FROM d.o_totalprice
                       THEN 'changed' END AS diff_status,
                s.o_orderstatus AS src_o_orderstatus,
                s.o_totalprice  AS src_o_totalprice,
                d.o_orderstatus AS dst_o_orderstatus,
                d.o_totalprice  AS dst_o_totalprice
              FROM src s FULL OUTER JOIN dst d
                ON s.o_orderkey = d.o_orderkey)
            SELECT * FROM j WHERE diff_status IS NOT NULL
        """,
        "snapshot_pricing_summary": """
            SELECT l_returnflag, l_linestatus,
              COUNT(*) AS count_order,
              CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
              CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE)
                AS sum_base_price,
              CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
                            AS DECIMAL(38,6))) AS DOUBLE) AS sum_disc_price
            FROM lineitem GROUP BY l_returnflag, l_linestatus
        """,
        "snapshot_revenue_by_nation": """
            SELECT n_name, COUNT(*) AS n_orders,
              CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS revenue
            FROM orders
            JOIN customer ON o_custkey = c_custkey
            JOIN nation ON c_nationkey = n_nationkey
            GROUP BY n_name
        """,
        "snapshot_shipping_priority": """
            SELECT l_orderkey, o_orderdate, o_orderpriority,
                   CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,6))
                                 * CAST(1 - l_discount AS DECIMAL(18,6))
                                 AS DECIMAL(38,12))) AS DOUBLE) AS revenue
            FROM lineitem
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            WHERE c_mktsegment = 'BUILDING'
              AND o_orderdate < TIMESTAMP '1998-06-01 00:00:00'
              AND l_shipdate > TIMESTAMP '1998-06-01 00:00:00'
            GROUP BY l_orderkey, o_orderdate, o_orderpriority
            ORDER BY revenue DESC, l_orderkey ASC
            LIMIT 10
        """,
        "snapshot_rollup_revenue": """
            WITH j AS (
              SELECT n_name, CAST(year(o_orderdate) AS INT) AS o_year,
                     o_totalprice
              FROM orders
              JOIN customer ON o_custkey = c_custkey
              JOIN nation ON c_nationkey = n_nationkey)
            SELECT n_name, o_year, COUNT(*) AS n_orders,
              CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS revenue
            FROM j GROUP BY ROLLUP (n_name, o_year)
        """,
        # independent pure-Python re-encode written by the query
        # function itself (same learned merges, different encode
        # algorithm — see _write_bpe_oracle) before this SQL runs
        "text_bpe_encode": f"""
            SELECT doc_id, n_words, n_bpe_tokens
            FROM read_parquet('{BPE_ORACLE_PATH}')
        """,
        "cdc_event_counters": f"""
            {CHANGES_CTE}
            SELECT db, op, COUNT(*) AS n_events,
                   COUNT(DISTINCT commit_ts) AS n_txns
            FROM changes GROUP BY db, op
        """,
        "cdc_update_images": f"""
            {CHANGES_CTE},
            u AS (SELECT arrival_seq, pk, val,
                         CASE WHEN arrival_seq % 13 = 0 THEN NULL
                              ELSE val - 1.0 END AS old_val
                  FROM changes WHERE op = 'U')
            SELECT arrival_seq, pk, old_val, val,
                   CASE WHEN old_val IS NULL THEN '`val` IS NULL'
                        ELSE concat('`val` = ', CAST(old_val AS STRING))
                   END AS where_clause
            FROM u
        """,
        "corpus_tfidf_topk": f"""
            {_TFIDF_TOPK_CTE}
            SELECT query_id, doc_id, n_shared_terms, dot_milli2, rank
            FROM r WHERE rank <= 5
        """,
        "rag_retrieve_pack": f"""
            {_TFIDF_TOPK_CTE},
            topk AS (SELECT query_id, doc_id, rank
                     FROM r WHERE rank <= 5),
            meta AS (SELECT doc_id, md5(text) AS thash,
                            len({osql.TOKS}) AS n_tokens
                     FROM documents),
            jj AS (SELECT topk.query_id, topk.doc_id, topk.rank,
                          meta.thash, meta.n_tokens
                   FROM topk JOIN meta USING (doc_id)),
            dd AS (SELECT *, ROW_NUMBER() OVER (
                       PARTITION BY query_id, thash ORDER BY rank)
                     AS dup_rn
                   FROM jj),
            packed AS (
              SELECT query_id, doc_id, rank, n_tokens,
                     CAST(SUM(n_tokens) OVER (
                         PARTITION BY query_id ORDER BY rank
                         ROWS UNBOUNDED PRECEDING) AS BIGINT)
                       AS cum_tokens
              FROM dd WHERE dup_rn = 1)
            SELECT query_id, doc_id, rank, n_tokens, cum_tokens
            FROM packed WHERE cum_tokens <= 192
        """,
        "snapshot_large_orders": """
            WITH big AS (
              SELECT l_orderkey,
                     SUM(CAST(l_quantity AS DECIMAL(38,6))) AS qty_d
              FROM lineitem GROUP BY l_orderkey
              HAVING SUM(CAST(l_quantity AS DECIMAL(38,6))) > 300)
            SELECT c_name, c_custkey, o_orderkey, o_orderdate,
                   o_totalprice, CAST(qty_d AS DOUBLE) AS total_qty
            FROM big
            JOIN orders ON l_orderkey = o_orderkey
            JOIN customer ON o_custkey = c_custkey
            ORDER BY o_totalprice DESC, o_orderkey ASC
            LIMIT 50
        """,
        "snapshot_top_supplier": """
            WITH rev AS (
              SELECT l_suppkey,
                SUM(CAST(l_extendedprice * (1.0 - l_discount)
                         AS DECIMAL(38,6))) AS rev_d
              FROM lineitem
              WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
                AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
              GROUP BY l_suppkey)
            SELECT s_suppkey, s_name,
                   CAST(rev_d AS DOUBLE) AS total_revenue
            FROM rev JOIN supplier ON l_suppkey = s_suppkey
            WHERE rev_d = (SELECT MAX(rev_d) FROM rev)
        """,
        "snapshot_forecast_revenue": """
            SELECT CAST(SUM(CAST(l_extendedprice * l_discount
                                 AS DECIMAL(38,6))) AS DOUBLE)
                     AS revenue_effect,
                   COUNT(*) AS n_items
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
              AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
              AND l_discount >= 0.05 AND l_discount <= 0.07
              AND l_quantity < 24
        """,
        "ann_pca_project": f"""
            SELECT vec_id, pc0, pc1, pc2, pc3, pc4, pc5, pc6, pc7
            FROM read_parquet('{_pca_oracle_path()}')
        """,
        "corpus_source_divergence": f"""
            WITH t AS (SELECT source, {osql.TOKS} AS toks FROM documents),
            tok AS (SELECT source, unnest(toks) AS tok FROM t),
            c AS (SELECT source, tok, COUNT(*) AS c FROM tok GROUP BY 1, 2),
            tot AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n_s
                    FROM c GROUP BY 1),
            gtok AS (SELECT tok, CAST(SUM(c) AS BIGINT) AS g
                     FROM c GROUP BY 1),
            na AS (SELECT CAST(SUM(c) AS BIGINT) AS n_all FROM c),
            j AS (SELECT c.source, c.c, gtok.g, tot.n_s,
                         na.n_all - tot.n_s AS n_r, gtok.g - c.c AS r
                  FROM c JOIN gtok USING (tok) JOIN tot USING (source)
                  CROSS JOIN na),
            per AS (SELECT source,
                      CAST(SUM(ABS(c * n_r - r * n_s)) AS BIGINT)
                        AS sum_abs,
                      CAST(SUM(r) AS BIGINT) AS sum_r_in,
                      COUNT(*) AS vocab_src,
                      MAX(n_s) AS n_tokens_src, MAX(n_r) AS n_rest
                    FROM j GROUP BY source)
            SELECT source, n_tokens_src, vocab_src,
                   sum_abs + n_tokens_src * (n_rest - sum_r_in) AS tv_num,
                   2 * n_tokens_src * n_rest AS tv_den,
                   (1000000 * (sum_abs + n_tokens_src
                               * (n_rest - sum_r_in)))
                     // (2 * n_tokens_src * n_rest) AS tv_x1e6
            FROM per
        """,
        "text_quality_classifier": f"""
            WITH t AS (SELECT doc_id, {osql.TOKS} AS toks FROM documents),
            tok AS (SELECT doc_id, unnest(toks) AS tok FROM t),
            per AS (SELECT doc_id, COUNT(*) AS n_tokens,
                      CAST(SUM(CAST(concat('0x', substring(md5(tok), 1, 8))
                                    AS BIGINT) % 2001 - 1000) AS BIGINT)
                        AS score_num
                    FROM tok GROUP BY doc_id)
            SELECT d.doc_id,
                   COALESCE(per.n_tokens, 0) AS n_tokens,
                   COALESCE(per.score_num, 0) AS score_num,
                   COALESCE(per.score_num, 0) > 0 AS label
            FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id
        """,
        "cdc_write_skew": f"""
            {CHANGES_CTE},
            per_key AS (
              SELECT db, tbl, pk, COUNT(*) AS n_writes
              FROM changes GROUP BY db, tbl, pk)
            SELECT db, tbl, COUNT(*) AS n_keys,
                   CAST(SUM(n_writes) AS BIGINT) AS n_writes,
                   COUNT(CASE WHEN n_writes = 1 THEN 1 END) AS keys_1,
                   COUNT(CASE WHEN n_writes BETWEEN 2 AND 3 THEN 1 END)
                     AS keys_2_3,
                   COUNT(CASE WHEN n_writes BETWEEN 4 AND 7 THEN 1 END)
                     AS keys_4_7,
                   COUNT(CASE WHEN n_writes >= 8 THEN 1 END) AS keys_8_up,
                   MAX(n_writes) AS max_writes_per_key
            FROM per_key GROUP BY db, tbl
        """,
        "cdc_source_gaps": f"""
            {CHANGES_CTE},
            ts AS (SELECT DISTINCT source_id, commit_ts FROM changes),
            g AS (
              SELECT source_id, commit_ts,
                     commit_ts - LAG(commit_ts) OVER (
                         PARTITION BY source_id ORDER BY commit_ts) AS gap
              FROM ts),
            gg AS (SELECT * FROM g WHERE gap IS NOT NULL),
            r AS (
              SELECT source_id, gap,
                     ROW_NUMBER() OVER (PARTITION BY source_id
                                        ORDER BY gap, commit_ts) AS rk,
                     COUNT(*) OVER (PARTITION BY source_id) AS n
              FROM gg)
            SELECT source_id, COUNT(*) AS n_gaps,
                   MAX(CASE WHEN rk = (50 * n + 99) // 100
                            THEN gap END) AS p50_gap,
                   MAX(CASE WHEN rk = (90 * n + 99) // 100
                            THEN gap END) AS p90_gap,
                   MAX(gap) AS max_gap
            FROM r GROUP BY source_id
        """,
        "cdc_conflict_rate": f"""
            {CHANGES_CTE},
            keyed AS (
              SELECT DISTINCT
                CAST(FLOOR(commit_ts / 8192.0) AS BIGINT) AS bucket,
                db, tbl, pk, commit_ts
              FROM changes),
            per_key AS (
              SELECT bucket, db, tbl, pk, COUNT(*) AS n_txns_on_key
              FROM keyed GROUP BY bucket, db, tbl, pk),
            txn_flag AS (
              SELECT k.bucket, k.commit_ts,
                     MAX(CASE WHEN p.n_txns_on_key > 1 THEN 1 ELSE 0 END)
                       AS conflicted
              FROM keyed k
              JOIN per_key p ON k.bucket = p.bucket AND k.db = p.db
                            AND k.tbl = p.tbl AND k.pk = p.pk
              GROUP BY k.bucket, k.commit_ts)
            SELECT bucket, COUNT(*) AS n_txns,
                   CAST(SUM(conflicted) AS BIGINT) AS n_conflicted,
                   CAST(FLOOR(10000.0 * SUM(conflicted) / COUNT(*))
                        AS BIGINT) AS conflict_pct_x100
            FROM txn_flag GROUP BY bucket
        """,
        "snapshot_min_cost_supplier": """
            WITH eu AS (
              SELECT s_suppkey, s_name, s_acctbal, n_name AS supp_nation
              FROM supplier
              JOIN nation ON s_nationkey = n_nationkey
              JOIN region ON n_regionkey = r_regionkey
              WHERE r_name = 'EUROPE'),
            sup AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
            se AS (SELECT sup.l_partkey, eu.*
                   FROM sup JOIN eu ON l_suppkey = s_suppkey),
            mc AS (SELECT l_partkey, MIN(s_acctbal) AS min_bal
                   FROM se GROUP BY 1)
            SELECT p_partkey, p_name, p_retailprice, s_suppkey, s_name,
                   supp_nation, s_acctbal
            FROM se JOIN mc USING (l_partkey)
            JOIN part ON l_partkey = p_partkey
            WHERE s_acctbal = min_bal
            ORDER BY p_retailprice DESC, p_partkey ASC, s_suppkey ASC
            LIMIT 20
        """,
        "snapshot_important_parts": """
            WITH n3 AS (
              SELECT s_suppkey FROM supplier
              JOIN nation ON s_nationkey = n_nationkey
              WHERE n_name = 'NATION_3'),
            vals AS (
              SELECT l_partkey,
                SUM(CAST(l_extendedprice * (1.0 - l_discount)
                         AS DECIMAL(38,6))) AS value_d
              FROM lineitem
              WHERE l_suppkey IN (SELECT s_suppkey FROM n3)
              GROUP BY l_partkey),
            tot AS (SELECT SUM(value_d) AS total_d FROM vals)
            SELECT l_partkey, CAST(value_d AS DOUBLE) AS part_value
            FROM vals, tot
            WHERE CAST(value_d AS DOUBLE) * 500.0
                  > CAST(total_d AS DOUBLE)
            ORDER BY part_value DESC, l_partkey ASC
        """,
        "snapshot_ship_priority_mix": """
            SELECT CASE
                     WHEN l_shipdate <= o_orderdate + INTERVAL 30 DAY
                       THEN 'fast'
                     WHEN l_shipdate <= o_orderdate + INTERVAL 60 DAY
                       THEN 'medium'
                     ELSE 'slow' END AS delay_bucket,
                   COUNT(CASE WHEN o_orderpriority IN
                              ('1-URGENT', '2-HIGH') THEN 1 END)
                     AS high_line_count,
                   COUNT(CASE WHEN o_orderpriority NOT IN
                              ('1-URGENT', '2-HIGH') THEN 1 END)
                     AS low_line_count
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
            GROUP BY 1 ORDER BY 1
        """,
        "snapshot_supplier_part_counts": """
            WITH pairs AS (
              SELECT DISTINCT l_partkey, l_suppkey FROM lineitem),
            ok_pairs AS (
              SELECT * FROM pairs
              WHERE NOT EXISTS (SELECT 1 FROM supplier
                                WHERE s_suppkey = l_suppkey
                                  AND s_acctbal < 0.0)),
            j AS (SELECT p_brand, p_type,
                         (p_size - 1) - (p_size - 1) % 10 AS size_bucket,
                         l_suppkey
                  FROM ok_pairs JOIN part ON l_partkey = p_partkey
                  WHERE p_brand <> 'Brand#1')
            SELECT p_brand, p_type, size_bucket,
                   COUNT(DISTINCT l_suppkey) AS supplier_cnt
            FROM j GROUP BY 1, 2, 3
            ORDER BY supplier_cnt DESC, p_brand, p_type, size_bucket
        """,
        "snapshot_dominant_suppliers": """
            WITH promo AS (
              SELECT p_partkey FROM part WHERE p_type = 'PROMO'),
            li AS (SELECT l_partkey, l_suppkey, l_quantity FROM lineitem
                   WHERE l_partkey IN (SELECT p_partkey FROM promo)),
            pair AS (SELECT l_partkey, l_suppkey,
                       SUM(CAST(l_quantity AS DECIMAL(38,6))) AS pair_qty
                     FROM li GROUP BY 1, 2),
            tot AS (SELECT l_partkey, SUM(pair_qty) AS total_qty
                    FROM pair GROUP BY 1),
            dom AS (SELECT DISTINCT l_suppkey
                    FROM pair JOIN tot USING (l_partkey)
                    WHERE CAST(pair_qty AS DOUBLE) * 6.0
                          > CAST(total_qty AS DOUBLE))
            SELECT s_suppkey, s_name, n_name AS nation
            FROM dom
            JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
            ORDER BY s_suppkey
        """,
        "snapshot_late_orders": """
            SELECT o_orderpriority, COUNT(*) AS order_count
            FROM orders
            WHERE o_orderdate >= TIMESTAMP '1996-07-01 00:00:00'
              AND o_orderdate <  TIMESTAMP '1996-10-01 00:00:00'
              AND EXISTS (SELECT 1 FROM lineitem
                          WHERE l_orderkey = o_orderkey
                            AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
            GROUP BY o_orderpriority ORDER BY o_orderpriority
        """,
        "snapshot_market_share": """
            WITH vol AS (
              SELECT EXTRACT(year FROM o_orderdate) AS o_year,
                     CAST(l_extendedprice * (1.0 - l_discount)
                          AS DECIMAL(38,6)) AS vol_d,
                     n2.n_name AS supp_nation
              FROM lineitem
              JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
              JOIN orders ON l_orderkey = o_orderkey
              JOIN customer ON o_custkey = c_custkey
              JOIN nation n1 ON c_nationkey = n1.n_nationkey
              JOIN region ON n1.n_regionkey = r_regionkey
                         AND r_name = 'AMERICA'
              JOIN supplier ON l_suppkey = s_suppkey
              JOIN nation n2 ON s_nationkey = n2.n_nationkey
              WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
                AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00')
            SELECT o_year,
              CAST(SUM(CASE WHEN supp_nation = 'NATION_5' THEN vol_d
                            ELSE CAST(0 AS DECIMAL(38,6)) END) AS DOUBLE)
                AS nation_volume,
              CAST(SUM(vol_d) AS DOUBLE) AS total_volume,
              CAST(SUM(CASE WHEN supp_nation = 'NATION_5' THEN vol_d
                            ELSE CAST(0 AS DECIMAL(38,6)) END) AS DOUBLE)
                / CAST(SUM(vol_d) AS DOUBLE) AS mkt_share
            FROM vol GROUP BY o_year ORDER BY o_year
        """,
        "snapshot_product_profit": """
            WITH profit AS (
              SELECT n_name AS nation,
                     EXTRACT(year FROM o_orderdate) AS o_year,
                     CAST(l_extendedprice * (1.0 - l_discount)
                          - 0.6 * p_retailprice * l_quantity
                          AS DECIMAL(38,6)) AS amount_d
              FROM lineitem
              JOIN part ON l_partkey = p_partkey
                       AND p_name LIKE '%widget%'
              JOIN supplier ON l_suppkey = s_suppkey
              JOIN nation ON s_nationkey = n_nationkey
              JOIN orders ON l_orderkey = o_orderkey)
            SELECT nation, o_year,
                   CAST(SUM(amount_d) AS DOUBLE) AS sum_profit
            FROM profit GROUP BY nation, o_year
            ORDER BY nation ASC, o_year DESC
        """,
        "snapshot_order_counts": """
            WITH per_cust AS (
              SELECT c_custkey, COUNT(o_orderkey) AS c_count
              FROM customer LEFT JOIN orders
                ON c_custkey = o_custkey
               AND o_orderpriority <> '1-URGENT'
              GROUP BY c_custkey)
            SELECT c_count, COUNT(*) AS custdist
            FROM per_cust GROUP BY c_count
            ORDER BY custdist DESC, c_count DESC
        """,
        "snapshot_promo_revenue": """
            WITH j AS (
              SELECT p_type,
                     CAST(l_extendedprice * (1.0 - l_discount)
                          AS DECIMAL(38,6)) AS rev_d
              FROM lineitem JOIN part ON l_partkey = p_partkey
              WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
                AND l_shipdate <  TIMESTAMP '1997-10-01 00:00:00')
            SELECT
              CAST(SUM(CASE WHEN p_type = 'PROMO' THEN rev_d
                            ELSE CAST(0 AS DECIMAL(38,6)) END) AS DOUBLE)
                AS promo_revenue,
              CAST(SUM(rev_d) AS DOUBLE) AS total_revenue,
              100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO' THEN rev_d
                                    ELSE CAST(0 AS DECIMAL(38,6)) END)
                           AS DOUBLE)
                / CAST(SUM(rev_d) AS DOUBLE) AS promo_pct
            FROM j
        """,
        "snapshot_small_qty_revenue": """
            WITH th AS (
              SELECT l_partkey AS t_partkey,
                     0.2 * (CAST(SUM(CAST(l_quantity AS DECIMAL(38,6)))
                                 AS DOUBLE) / COUNT(*)) AS qty_threshold
              FROM lineitem GROUP BY l_partkey)
            SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6)))
                        AS DOUBLE) / 7.0 AS avg_yearly,
                   COUNT(*) AS n_items
            FROM lineitem
            JOIN part ON l_partkey = p_partkey AND p_brand = 'Brand#5'
            JOIN th ON l_partkey = t_partkey
            WHERE l_quantity < qty_threshold
        """,
        "snapshot_waiting_suppliers": """
            WITH l1 AS (
              SELECT l_orderkey, l_suppkey
              FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              WHERE o_orderstatus = 'F'
                AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
            SELECT s_name, COUNT(*) AS numwait
            FROM l1
            JOIN supplier ON l_suppkey = s_suppkey
            WHERE EXISTS (SELECT 1 FROM lineitem l2
                          WHERE l2.l_orderkey = l1.l_orderkey
                            AND l2.l_suppkey <> l1.l_suppkey)
              AND NOT EXISTS (
                    SELECT 1
                    FROM lineitem l3
                    JOIN orders o3 ON l3.l_orderkey = o3.o_orderkey
                    WHERE l3.l_orderkey = l1.l_orderkey
                      AND l3.l_suppkey <> l1.l_suppkey
                      AND o3.o_orderstatus = 'F'
                      AND l3.l_shipdate > o3.o_orderdate + INTERVAL 60 DAY)
            GROUP BY s_name
            ORDER BY numwait DESC, s_name ASC
            LIMIT 25
        """,
        "snapshot_idle_customers": """
            SELECT c_nationkey, COUNT(*) AS numcust,
                   CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE)
                     AS totacctbal
            FROM customer
            WHERE c_acctbal > (
                    SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6)))
                                AS DOUBLE) / COUNT(*)
                    FROM customer WHERE c_acctbal > 0.0)
              AND NOT EXISTS (
                    SELECT 1 FROM orders
                    WHERE o_custkey = c_custkey
                      AND o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
            GROUP BY c_nationkey ORDER BY c_nationkey
        """,
        "cdc_disorder_displacement": f"""
            {CHANGES_CTE},
            d AS (SELECT source_id,
                    ROW_NUMBER() OVER (PARTITION BY source_id
                                       ORDER BY arrival_seq) AS arr_rank,
                    ROW_NUMBER() OVER (PARTITION BY source_id
                                       ORDER BY commit_ts, arrival_seq)
                      AS ts_rank
                  FROM changes)
            SELECT source_id, COUNT(*) AS n_events,
              CAST(SUM(CASE WHEN arr_rank <> ts_rank THEN 1 ELSE 0 END)
                   AS BIGINT) AS n_displaced,
              CAST(MAX(ABS(arr_rank - ts_rank)) AS BIGINT) AS max_disp,
              CAST((SUM(ABS(arr_rank - ts_rank)) * 100) // COUNT(*)
                   AS BIGINT) AS mean_disp_x100
            FROM d GROUP BY source_id
        """,
        "mm_audio_features": """
            WITH codes AS (
              SELECT doc_id,
                list_transform(string_split(text, ''), ch -> ascii(ch))
                  AS cs,
                length(text) AS n
              FROM documents
              WHERE len(list_filter(string_split(text, ''),
                         ch -> ascii(ch) > 127)) = 0),
            w AS (SELECT doc_id, cs, n,
                    unnest(generate_series(0, (n + 255) // 256 - 1))
                      AS window_no
                  FROM codes),
            s AS (SELECT doc_id, window_no,
                    list_slice(cs, window_no * 256 + 1,
                               LEAST((window_no + 1) * 256, n)) AS win
                  FROM w)
            SELECT doc_id, window_no,
              CAST(len(win) AS BIGINT) AS n_samples,
              CAST(list_aggregate(list_transform(win, x -> x * x),
                                  'sum') AS BIGINT) AS energy,
              CAST(list_aggregate(win, 'max') AS BIGINT) AS peak,
              CAST((list_aggregate(win, 'sum') * 100) // len(win)
                   AS BIGINT) AS mean_x100
            FROM s
        """,
        "events_type_transitions": """
            WITH e AS (SELECT user_id, event_id, epoch_ns(ts) AS ts_ns,
                              event_type FROM events),
            t AS (SELECT event_type AS from_type,
                    LEAD(event_type) OVER (
                        PARTITION BY user_id
                        ORDER BY ts_ns, event_id) AS to_type
                  FROM e),
            c AS (SELECT from_type, to_type, COUNT(*) AS n
                  FROM t WHERE to_type IS NOT NULL
                  GROUP BY from_type, to_type)
            SELECT from_type, to_type, n,
              CAST(SUM(n) OVER (PARTITION BY from_type) AS BIGINT)
                AS n_from,
              CAST((n * 1000000)
                   // SUM(n) OVER (PARTITION BY from_type) AS BIGINT)
                AS p_micro
            FROM c
        """,
        "corpus_temperature_mix": """
            WITH counts AS (
              SELECT lang, COUNT(*) AS n_stratum,
                CAST(FLOOR(POWER(CAST(COUNT(*) AS DOUBLE), 0.7)
                           * 1000000.0) AS BIGINT) AS q_micro
              FROM documents GROUP BY lang),
            caps AS (
              SELECT lang, n_stratum,
                LEAST(n_stratum,
                      (CAST(300 AS BIGINT) * q_micro)
                        // (SELECT SUM(q_micro) FROM counts))
                  AS k_target
              FROM counts),
            ranked AS (
              SELECT doc_id, lang,
                ROW_NUMBER() OVER (
                    PARTITION BY lang
                    ORDER BY md5('tmix:' || CAST(doc_id AS VARCHAR)),
                             doc_id) AS sample_rank
              FROM documents)
            SELECT doc_id, r.lang AS stratum, n_stratum,
                   CAST(k_target AS BIGINT) AS k_target, sample_rank
            FROM ranked r JOIN caps c ON r.lang = c.lang
            WHERE sample_rank <= k_target
        """,
        "corpus_source_overlap": f"""
            WITH {osql.MINHASH_PAIRS_CTES},
            lab AS (SELECT doc_id, source FROM documents)
            SELECT LEAST(a.source, b.source) AS source_a,
                   GREATEST(a.source, b.source) AS source_b,
                   COUNT(*) AS n_links
            FROM pairs p
            JOIN lab a ON p.doc_a = a.doc_id
            JOIN lab b ON p.doc_b = b.doc_id
            GROUP BY 1, 2
        """,
        "snapshot_top_customers": """
            WITH rev AS (
              SELECT o_custkey,
                CAST(SUM(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE)
                  AS revenue,
                COUNT(*) AS n_orders
              FROM orders GROUP BY o_custkey),
            top AS (
              SELECT *, ROW_NUMBER() OVER (
                  ORDER BY revenue DESC, o_custkey) AS rank
              FROM rev
              ORDER BY revenue DESC, o_custkey LIMIT 10)
            SELECT rank, o_custkey, c_name, revenue, n_orders
            FROM top JOIN customer ON o_custkey = c_custkey
        """,
        "ann_kmeans_clusters": osql.ANN_KMEANS_CLUSTERS,
        "dedup_consensus": osql.DEDUP_CONSENSUS,
        "dedup_semantic": osql.DEDUP_SEMANTIC,
        # independent derivation: ONE last-image-wins pass over the
        # whole stream — the split bootstrap+catch-up path must
        # converge to it for any split point
        "cdc_bootstrap_catchup": f"""
            {CHANGES_CTE}, {_OK_CTE},
            last AS (
              SELECT db, tbl, pk, commit_ts, val, op,
                     ROW_NUMBER() OVER (
                         PARTITION BY db, tbl, pk
                         ORDER BY commit_ts DESC, seq DESC,
                                  arrival_seq DESC) AS rn
              FROM ok)
            SELECT db, tbl, pk, commit_ts, val
            FROM last WHERE rn = 1 AND op <> 'D'
        """,
        # same independent one-pass oracle as bootstrap_catchup: the
        # relay replay must converge to it through the file path
        "cdc_relay_recovery": f"""
            {CHANGES_CTE}, {_OK_CTE},
            last AS (
              SELECT db, tbl, pk, commit_ts, val, op,
                     ROW_NUMBER() OVER (
                         PARTITION BY db, tbl, pk
                         ORDER BY commit_ts DESC, seq DESC,
                                  arrival_seq DESC) AS rn
              FROM ok)
            SELECT db, tbl, pk, commit_ts, val
            FROM last WHERE rn = 1 AND op <> 'D'
        """,
        "cdc_schema_adoption": f"""
            {CHANGES_CTE},
            per AS (
              SELECT db, tbl, schema_version,
                     COUNT(*) AS n_events,
                     COUNT(DISTINCT source_id) AS n_sources,
                     MIN(commit_ts) AS first_ts,
                     MAX(commit_ts) AS last_ts
              FROM changes GROUP BY db, tbl, schema_version)
            SELECT db, tbl, schema_version, n_events, n_sources,
                   first_ts, last_ts,
                   COALESCE(LEAD(first_ts) OVER (
                       PARTITION BY db, tbl
                       ORDER BY schema_version) < last_ts, FALSE)
                     AS interleaved
            FROM per
        """,
        "cdc_txn_fanout": f"""
            {CHANGES_CTE}, {_OK_CTE},
            txn AS (
              SELECT source_id, commit_ts,
                     COUNT(DISTINCT db || '.' || tbl) AS n_tables,
                     COUNT(*) AS n_events
              FROM ok GROUP BY source_id, commit_ts)
            SELECT source_id, n_tables, COUNT(*) AS n_txns,
                   CAST(SUM(n_events) AS BIGINT) AS n_events,
                   MAX(n_events) AS max_txn_events
            FROM txn GROUP BY source_id, n_tables
        """,
        "corpus_budget_select": f"""
            WITH t AS (SELECT doc_id, {osql.TOKS} AS toks FROM documents),
            tok AS (SELECT doc_id, unnest(toks) AS tok FROM t),
            per AS (SELECT doc_id, COUNT(*) AS n_tokens,
                      CAST(SUM(CAST(concat('0x', substring(md5(tok), 1, 8))
                                    AS BIGINT) % 2001 - 1000) AS BIGINT)
                        AS score_num
                    FROM tok GROUP BY doc_id),
            scored AS (
              SELECT d.doc_id, d.source AS stratum,
                     COALESCE(per.score_num, 0) AS score_num,
                     COALESCE(per.n_tokens, 0) AS n_tokens
              FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id),
            cum AS (
              SELECT *, CAST(SUM(n_tokens) OVER (
                  PARTITION BY stratum
                  ORDER BY score_num DESC, doc_id
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
              FROM scored)
            SELECT doc_id, stratum, score_num, n_tokens, cum_tokens
            FROM cum WHERE cum_tokens <= 800
        """,
        # bloom positions: int(md5(hash || '#i')[:8]) % m, identical
        # arithmetic to dedup._bloom_positions (m=16384, k=3 — sized
        # small on purpose so deterministic false positives appear)
        "dedup_bloom": """
            WITH new0 AS (
              SELECT d.doc_id,
                CASE WHEN d.doc_id % 15 = 0 AND n.text IS NOT NULL
                     THEN n.text ELSE d.text END AS text
              FROM documents d
              LEFT JOIN documents n ON n.doc_id = d.doc_id + 1
              WHERE d.doc_id % 3 = 0),
            nh AS (SELECT doc_id, md5(text) AS content_hash FROM new0),
            shh AS (SELECT DISTINCT md5(text) AS content_hash
                    FROM documents WHERE doc_id % 3 <> 0),
            ks AS (SELECT unnest(generate_series(0, 2)) AS i),
            bits AS (
              SELECT DISTINCT
                CAST(concat('0x', substring(md5(concat(content_hash,
                     '#', CAST(i AS STRING))), 1, 8)) AS BIGINT) % 16384
                  AS pos
              FROM shh, ks),
            probes AS (
              SELECT doc_id, content_hash,
                CAST(concat('0x', substring(md5(concat(content_hash,
                     '#', CAST(i AS STRING))), 1, 8)) AS BIGINT) % 16384
                  AS pos
              FROM nh, ks),
            hits AS (
              SELECT doc_id, content_hash,
                     BOOL_AND(pos IN (SELECT pos FROM bits))
                       AS maybe_seen
              FROM probes GROUP BY doc_id, content_hash)
            SELECT doc_id, content_hash, maybe_seen,
              maybe_seen AND content_hash IN
                  (SELECT content_hash FROM shh) AS seen_exact,
              maybe_seen AND content_hash NOT IN
                  (SELECT content_hash FROM shh) AS false_positive
            FROM hits
        """,
        "corpus_ngram_topk": f"""
            WITH t AS (SELECT source AS stratum, {osql.TOKS} AS toks
                       FROM documents),
            g AS (SELECT stratum,
                    unnest(list_transform(
                      generate_series(1, len(toks) - 1),
                      i -> concat_ws(' ', toks[i], toks[i + 1]))) AS gram
                  FROM t WHERE len(toks) >= 2),
            c AS (SELECT stratum, gram, COUNT(*) AS cnt
                  FROM g GROUP BY stratum, gram),
            r AS (SELECT stratum, gram, cnt,
                    ROW_NUMBER() OVER (PARTITION BY stratum
                                       ORDER BY cnt DESC, gram) AS rank
                  FROM c)
            SELECT stratum, rank, gram, cnt FROM r WHERE rank <= 10
        """,
        "snapshot_zorder_layout": f"""
            WITH d AS (
              SELECT o_custkey % 65536 AS ck,
                     datediff('day', DATE '1992-01-01',
                              CAST(o_orderdate AS DATE)) % 65536 AS day
              FROM orders),
            z AS (SELECT ck AS xv, day AS yv,
                         {_ZORDER_SQL} >> 16 AS file_id
                  FROM d)
            SELECT file_id, COUNT(*) AS n_rows,
                   MIN(xv) AS x_min, MAX(xv) AS x_max,
                   MIN(yv) AS y_min, MAX(yv) AS y_max,
                   MAX(xv) - MIN(xv) AS x_span,
                   MAX(yv) - MIN(yv) AS y_span
            FROM z GROUP BY file_id
        """,
        "mm_phash_pairs": osql.MM_PHASH_PAIRS,
        "cdc_checkpoint_lag": f"""
            {CHANGES_CTE}, {_OK_CTE},
            per AS (
              SELECT source_id, MAX(commit_ts) AS checkpoint_ts,
                     COUNT(*) AS n_ok
              FROM ok GROUP BY source_id),
            blocked AS (
              SELECT source_id, COUNT(*) AS n_blocked
              FROM ok
              WHERE commit_ts > (SELECT MIN(checkpoint_ts) FROM per)
              GROUP BY source_id)
            SELECT per.source_id, per.checkpoint_ts, per.n_ok,
                   (SELECT MAX(checkpoint_ts) FROM per)
                     - per.checkpoint_ts AS lag_ts,
                   COALESCE(blocked.n_blocked, 0) AS n_blocked
            FROM per
            LEFT JOIN blocked ON per.source_id = blocked.source_id
        """,
        "events_windowed_topk": """
            WITH b AS (
              SELECT epoch_ns(ts) - epoch_ns(ts) % 21600000000000
                       AS window_start,
                     event_type
              FROM events),
            c AS (SELECT window_start, event_type, COUNT(*) AS cnt
                  FROM b GROUP BY window_start, event_type),
            r AS (SELECT window_start, event_type, cnt,
                    ROW_NUMBER() OVER (PARTITION BY window_start
                                       ORDER BY cnt DESC, event_type)
                      AS rank
                  FROM c)
            SELECT window_start, rank, event_type, cnt
            FROM r WHERE rank <= 3
        """,
        "corpus_kmv_distinct": f"""
            WITH toks AS (SELECT doc_id, source, text, {osql.TOKS} AS toks
                          FROM documents),
            sh AS (SELECT source AS stratum,
                          unnest({osql.SHINGLES}) AS shingle
                   FROM toks),
            h AS (SELECT DISTINCT stratum,
                    CAST(concat('0x', substring(md5(shingle), 1, 12))
                         AS BIGINT) AS h
                  FROM sh),
            r AS (SELECT stratum, h,
                    ROW_NUMBER() OVER (PARTITION BY stratum ORDER BY h)
                      AS rank
                  FROM h),
            sk AS (SELECT stratum, MAX(h) AS kth_hash,
                          COUNT(*) AS k_used
                   FROM r WHERE rank <= 256 GROUP BY stratum),
            ex AS (SELECT stratum, COUNT(*) AS exact_distinct
                   FROM h GROUP BY stratum),
            j AS (SELECT sk.stratum, k_used, kth_hash, exact_distinct,
                    CASE WHEN k_used < 256 THEN exact_distinct
                         ELSE ((k_used - 1) *
                               CAST(281474976710656 AS BIGINT))
                              // kth_hash END AS est_distinct
                  FROM sk JOIN ex USING (stratum))
            SELECT stratum, k_used, kth_hash, est_distinct,
                   exact_distinct,
                   (abs(est_distinct - exact_distinct) * 1000000)
                     // exact_distinct AS err_ppm
            FROM j
        """,
        "events_anomaly_zscore": """
            WITH e AS (
              SELECT user_id, event_id, epoch_ns(ts) AS ts,
                     CAST(floor(value * 1000) AS BIGINT) AS v_milli
              FROM events),
            w AS (
              SELECT user_id, ts, event_id, v_milli,
                CAST(COUNT(v_milli) OVER win AS BIGINT) AS n_trail,
                CAST(SUM(v_milli) OVER win AS BIGINT) AS sum_trail,
                CAST(SUM(v_milli * v_milli) OVER win AS BIGINT)
                  AS sumsq_trail
              FROM e
              WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN 8 PRECEDING
                                      AND 1 PRECEDING))
            SELECT user_id, ts, event_id, v_milli, n_trail,
                   sum_trail, sumsq_trail,
                   n_trail >= 2
                   AND (n_trail * v_milli - sum_trail)
                       * (n_trail * v_milli - sum_trail)
                     > 9 * (n_trail * sumsq_trail
                            - sum_trail * sum_trail) AS is_anomaly
            FROM w
        """,
        "ann_ivfpq_topk": osql.ivfpq_topk_sql(centroid_mod=None),
        "corpus_surprisal_histogram": f"""
            WITH base AS ({osql.BIGRAM_SURPRISAL}),
            j AS (SELECT d.source AS stratum, b.doc_id, b.n_scored,
                         b.mean_surprisal_micro
                  FROM base b JOIN documents d USING (doc_id))
            SELECT stratum,
                   LEAST(CAST(9 AS BIGINT),
                         mean_surprisal_micro // 500000) AS bucket,
                   COUNT(*) AS n_docs,
                   CAST(SUM(n_scored) AS BIGINT) AS n_scored,
                   CAST(SUM(mean_surprisal_micro) AS BIGINT)
                     // COUNT(*) AS mean_of_means_micro,
                   MIN(mean_surprisal_micro) AS lo_micro,
                   MAX(mean_surprisal_micro) AS hi_micro
            FROM j GROUP BY stratum, bucket
        """,
        "events_active_users": """
            WITH b AS (
              SELECT epoch_ns(ts) - epoch_ns(ts) % 21600000000000
                       AS window_start,
                     user_id
              FROM events),
            per AS (SELECT window_start, COUNT(*) AS n_events,
                           COUNT(DISTINCT user_id) AS n_users
                    FROM b GROUP BY window_start),
            fw AS (SELECT user_id, MIN(window_start) AS window_start
                   FROM b GROUP BY user_id),
            first AS (SELECT window_start, COUNT(*) AS n_new_users
                      FROM fw GROUP BY window_start)
            SELECT per.window_start, per.n_events, per.n_users,
                   COALESCE(first.n_new_users, 0) AS n_new_users
            FROM per LEFT JOIN first USING (window_start)
        """,
        "events_bot_regularity": """
            WITH e AS (SELECT user_id, event_id, epoch_ns(ts) AS ts_ns
                       FROM events),
            g0 AS (SELECT user_id, ts_ns,
                     LAG(ts_ns) OVER (PARTITION BY user_id
                                      ORDER BY ts_ns, event_id)
                       AS prev_ns
                   FROM e),
            g AS (SELECT user_id,
                         (ts_ns - prev_ns) // 1000000000 AS gap_s
                  FROM g0 WHERE prev_ns IS NOT NULL),
            a AS (SELECT user_id, COUNT(*) AS n_gaps,
                         CAST(SUM(gap_s) AS BIGINT) AS sum_s,
                         SUM(CAST(gap_s AS HUGEINT) * gap_s) AS sumsq_s
                  FROM g GROUP BY user_id)
            SELECT user_id, n_gaps, sum_s,
                   sum_s // n_gaps AS mean_gap_s,
                   100 * (CAST(n_gaps AS HUGEINT) * sumsq_s
                          - CAST(sum_s AS HUGEINT) * sum_s)
                     < CAST(sum_s AS HUGEINT) * sum_s AS is_regular
            FROM a WHERE n_gaps >= 5
        """,
        "snapshot_diff_repair": """
            WITH src AS (SELECT o_orderkey, o_orderstatus, o_totalprice
                         FROM orders),
            kept AS (SELECT o_orderkey, o_orderstatus,
                       CASE WHEN o_orderkey % 97 = 0 THEN o_totalprice + 1.0
                            ELSE o_totalprice END AS o_totalprice
                     FROM src WHERE o_orderkey % 89 <> 0),
            extra AS (SELECT o_orderkey + 10000000 AS o_orderkey,
                             o_orderstatus, o_totalprice
                      FROM src WHERE o_orderkey % 83 = 0),
            dst AS (SELECT * FROM kept UNION ALL SELECT * FROM extra),
            j AS (
              SELECT COALESCE(s.o_orderkey, d.o_orderkey) AS o_orderkey,
                CASE WHEN d.o_orderkey IS NULL THEN 'only_src'
                     WHEN s.o_orderkey IS NULL THEN 'only_dst'
                     WHEN s.o_orderstatus IS DISTINCT FROM d.o_orderstatus
                       OR s.o_totalprice IS DISTINCT FROM d.o_totalprice
                       THEN 'changed' END AS diff_status,
                s.o_orderstatus AS src_o_orderstatus,
                s.o_totalprice  AS src_o_totalprice
              FROM src s FULL OUTER JOIN dst d
                ON s.o_orderkey = d.o_orderkey),
            d2 AS (SELECT * FROM j WHERE diff_status IS NOT NULL)
            SELECT o_orderkey, diff_status,
              CASE WHEN diff_status = 'only_dst'
                THEN 'DELETE FROM `orders` WHERE `o_orderkey` = '
                     || CAST(o_orderkey AS STRING) || ' LIMIT 1'
                ELSE 'REPLACE INTO `orders`(`o_orderkey`, '
                     || '`o_orderstatus`, `o_totalprice`) VALUES('
                     || CAST(o_orderkey AS STRING) || ', '
                     || '''' || replace(replace(src_o_orderstatus,
                            '\\', '\\\\'), '''', '''''') || ''''
                     || ', '
                     || CAST(CAST(src_o_totalprice AS DECIMAL(18,2))
                             AS STRING)
                     || ')'
              END AS repair_sql
            FROM d2
        """,
        "corpus_gate_sweep": f"""
            WITH t AS (SELECT doc_id, {osql.TOKS} AS toks FROM documents),
            tok AS (SELECT doc_id, unnest(toks) AS tok FROM t),
            per AS (SELECT doc_id, COUNT(*) AS n_tokens,
                      CAST(SUM(CAST(concat('0x', substring(md5(tok), 1, 8))
                                    AS BIGINT) % 2001 - 1000) AS BIGINT)
                        AS score_num
                    FROM tok GROUP BY doc_id),
            scored AS (
              SELECT d.doc_id,
                     COALESCE(per.n_tokens, 0) AS n_tokens,
                     COALESCE(per.score_num, 0) AS score_num
              FROM documents d LEFT JOIN per ON d.doc_id = per.doc_id),
            binned AS (
              SELECT GREATEST(CAST(0 AS BIGINT),
                       LEAST(CAST(9 AS BIGINT), score_num // 200))
                       AS bin,
                     n_tokens
              FROM scored),
            agg AS (SELECT bin, COUNT(*) AS n_docs,
                           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
                    FROM binned GROUP BY bin)
            SELECT bin * 200 AS threshold, n_docs, n_tokens,
              CAST(SUM(n_docs) OVER (ORDER BY bin DESC
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS docs_kept,
              CAST(SUM(n_tokens) OVER (ORDER BY bin DESC
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS tokens_kept
            FROM agg
        """,
        "corpus_chunk_savings": f"""
            WITH chunks0 AS ({osql.CDC_CHUNKS}),
            chunks AS (SELECT c.*, d.source
                       FROM chunks0 c JOIN documents d USING (doc_id)),
            total AS (SELECT source, COUNT(*) AS n_chunks,
                             CAST(SUM(chunk_len) AS BIGINT)
                               AS bytes_total
                      FROM chunks GROUP BY source),
            uniq AS (SELECT source, COUNT(*) AS n_unique,
                            CAST(SUM(chunk_len) AS BIGINT)
                              AS bytes_unique
                     FROM (SELECT DISTINCT source, chunk_md5, chunk_len
                           FROM chunks) u
                     GROUP BY source)
            SELECT source, n_chunks, n_unique, bytes_total,
                   bytes_unique,
                   ((bytes_total - bytes_unique) * 1000000)
                     // bytes_total AS savings_ppm
            FROM total JOIN uniq USING (source)
        """,
        "corpus_kmv_merge": f"""
            WITH toks AS (SELECT doc_id, source, text, {osql.TOKS} AS toks
                          FROM documents),
            sh AS (SELECT doc_id, source AS stratum,
                          unnest({osql.SHINGLES}) AS shingle
                   FROM toks),
            h AS (SELECT DISTINCT doc_id, stratum,
                    CAST(concat('0x', substring(md5(shingle), 1, 12))
                         AS BIGINT) AS h
                  FROM sh),
            p0 AS (SELECT DISTINCT stratum, h FROM h WHERE doc_id % 2 = 0),
            p1 AS (SELECT DISTINCT stratum, h FROM h WHERE doc_id % 2 = 1),
            s0 AS (SELECT stratum, h FROM (
                     SELECT stratum, h, ROW_NUMBER() OVER (
                       PARTITION BY stratum ORDER BY h) AS r FROM p0) t
                   WHERE r <= 64),
            s1 AS (SELECT stratum, h FROM (
                     SELECT stratum, h, ROW_NUMBER() OVER (
                       PARTITION BY stratum ORDER BY h) AS r FROM p1) t
                   WHERE r <= 64),
            u AS (SELECT DISTINCT stratum, h FROM
                    (SELECT * FROM s0 UNION ALL SELECT * FROM s1) x),
            merged AS (SELECT stratum, MAX(h) AS kth_merged,
                              COUNT(*) AS k_merged
                       FROM (SELECT stratum, h, ROW_NUMBER() OVER (
                               PARTITION BY stratum ORDER BY h) AS r
                             FROM u) t
                       WHERE r <= 64 GROUP BY stratum),
            dall AS (SELECT DISTINCT stratum, h FROM h),
            direct AS (SELECT stratum, MAX(h) AS kth_direct,
                              COUNT(*) AS k_direct
                       FROM (SELECT stratum, h, ROW_NUMBER() OVER (
                               PARTITION BY stratum ORDER BY h) AS r
                             FROM dall) t
                       WHERE r <= 64 GROUP BY stratum)
            SELECT stratum, k_merged, k_direct, kth_merged, kth_direct,
                   kth_merged = kth_direct AS merge_exact
            FROM merged JOIN direct USING (stratum)
        """,
        "doc_semantic_chunks": f"""
            WITH t AS (SELECT doc_id, {osql.TOKS} AS toks
                       FROM documents),
            th AS (SELECT doc_id, toks,
                     list_transform(toks, tk ->
                       CAST(concat('0x', substring(md5(tk), 1, 12))
                            AS BIGINT)) AS hs
                   FROM t),
            b AS (SELECT doc_id, toks,
                CASE WHEN len(toks) <= 16 THEN [len(toks)]
                ELSE list_concat(list_filter(list_transform(
                  generate_series(8, len(toks) - 8), p ->
                    CASE WHEN (CAST(len(list_filter(
                        list_distinct(hs[p - 7 : p]),
                        x -> list_contains(hs[p + 1 : p + 8], x)))
                        AS BIGINT) * 1000000)
                      // (len(list_distinct(hs[p - 7 : p]))
                          + len(list_distinct(hs[p + 1 : p + 8]))
                          - len(list_filter(
                              list_distinct(hs[p - 7 : p]),
                              x -> list_contains(hs[p + 1 : p + 8],
                                                 x))))
                      < 200000 THEN p ELSE -1 END),
                  x -> x > 0), [len(toks)]) END AS bnds
              FROM th WHERE len(toks) >= 1),
            e AS (SELECT doc_id, toks, bnds,
                    unnest(generate_series(1, len(bnds))) AS i
                  FROM b),
            c AS (SELECT doc_id, CAST(i - 1 AS INT) AS chunk_no,
                    CASE WHEN i = 1 THEN 1 ELSE bnds[i - 1] + 1 END
                      AS start_tok,
                    bnds[i] AS end_tok, toks
                  FROM e)
            SELECT doc_id, chunk_no, start_tok, end_tok,
              end_tok - start_tok + 1 AS n_tokens,
              md5(array_to_string(toks[start_tok : end_tok], ' '))
                AS chunk_md5
            FROM c WHERE end_tok >= start_tok
        """,
        "text_lang_confusion": f"""
            WITH pred AS ({osql.text_lang_id_sql(textfn.STOPWORDS)}),
            cell AS (SELECT lang, pred_lang, COUNT(*) AS n_docs
                     FROM pred GROUP BY lang, pred_lang),
            per AS (SELECT lang, COUNT(*) AS n_lang,
                      COUNT(CASE WHEN pred_lang = lang THEN 1 END)
                        AS n_agree
                    FROM pred GROUP BY lang)
            SELECT cell.lang, cell.pred_lang, cell.n_docs, per.n_lang,
                   (per.n_agree * 1000000) // per.n_lang AS agree_ppm
            FROM cell JOIN per ON cell.lang = per.lang
        """,
        "events_funnel_dropoff": f"""
            WITH fu AS ({osql.funnel_sql(FUNNEL_STEPS,
                                         FUNNEL_WINDOW_NS)}),
            st AS (SELECT unnest(generate_series(1,
                     {len(FUNNEL_STEPS)})) AS stage),
            reached AS (
              SELECT stage, COUNT(*) AS n_users
              FROM fu, st WHERE fu.max_stage >= st.stage
              GROUP BY stage),
            w AS (
              SELECT stage, n_users,
                LAG(n_users) OVER (ORDER BY stage) AS prev_users,
                FIRST_VALUE(n_users) OVER (ORDER BY stage
                  ROWS BETWEEN UNBOUNDED PRECEDING
                           AND UNBOUNDED FOLLOWING) AS total_users
              FROM reached)
            SELECT stage, n_users,
              CASE WHEN prev_users IS NULL THEN 1000000
                   ELSE (n_users * 1000000) // prev_users END
                AS step_conv_ppm,
              (n_users * 1000000) // total_users AS overall_conv_ppm
            FROM w
        """,
        "corpus_fold_leakage": """
            WITH h AS (
              SELECT doc_id, md5(text) AS content_hash,
                CAST(concat('0x', substring(md5(text), 1, 8)) AS BIGINT)
                  % 5 AS fold_by_content,
                doc_id % 5 AS fold_by_id
              FROM documents),
            pc AS (SELECT content_hash, fold_by_content, COUNT(*) AS m
                   FROM h GROUP BY content_hash, fold_by_content),
            lc AS (SELECT CAST(SUM(c * (c - 1) // 2 - inpairs)
                          AS BIGINT) AS leaked_fold_by_content
                   FROM (SELECT content_hash, SUM(m) AS c,
                                SUM(m * (m - 1) // 2) AS inpairs
                         FROM pc GROUP BY content_hash) t),
            pi AS (SELECT content_hash, fold_by_id, COUNT(*) AS m
                   FROM h GROUP BY content_hash, fold_by_id),
            li AS (SELECT CAST(SUM(c * (c - 1) // 2 - inpairs)
                          AS BIGINT) AS leaked_fold_by_id
                   FROM (SELECT content_hash, SUM(m) AS c,
                                SUM(m * (m - 1) // 2) AS inpairs
                         FROM pi GROUP BY content_hash) t),
            sc AS (SELECT fold_by_content AS fold,
                          COUNT(*) AS n_by_content
                   FROM h GROUP BY fold_by_content),
            si AS (SELECT fold_by_id AS fold, COUNT(*) AS n_by_id
                   FROM h GROUP BY fold_by_id)
            SELECT sc.fold, n_by_content, n_by_id,
                   leaked_fold_by_content, leaked_fold_by_id
            FROM sc JOIN si USING (fold), lc, li
        """,
        "corpus_effective_tokens": f"""
            WITH toks AS (SELECT doc_id, len({osql.TOKS}) AS n_tokens
                          FROM documents),
            h AS (SELECT doc_id, source, md5(text) AS content_hash
                  FROM documents),
            cl AS (SELECT content_hash, COUNT(*) AS cluster_size
                   FROM h GROUP BY content_hash),
            per AS (SELECT h.source, t.n_tokens, cl.cluster_size
                    FROM h JOIN toks t USING (doc_id)
                    JOIN cl USING (content_hash)),
            agg AS (SELECT source, COUNT(*) AS n_docs,
                      CAST(SUM(n_tokens) AS BIGINT) AS raw_tokens,
                      CAST(SUM((n_tokens * 1000000) // cluster_size)
                           AS BIGINT) AS effective_tokens_micro
                    FROM per GROUP BY source)
            SELECT source, n_docs, raw_tokens, effective_tokens_micro,
                   (raw_tokens * 1000000)
                     // (effective_tokens_micro // 1000000)
                     - 1000000 AS dup_inflation_ppm
            FROM agg
        """,
        "events_ohlc": """
            WITH e AS (SELECT event_type, event_id, epoch_ns(ts) AS ts_ns,
                              value
                       FROM events),
            b AS (SELECT event_type, event_id, ts_ns, value,
                         ts_ns - ts_ns % 21600000000000 AS bucket_start
                  FROM e),
            r AS (SELECT *,
                    ROW_NUMBER() OVER (PARTITION BY event_type, bucket_start
                                       ORDER BY ts_ns, event_id) AS rn_a,
                    ROW_NUMBER() OVER (PARTITION BY event_type, bucket_start
                                       ORDER BY ts_ns DESC, event_id DESC)
                      AS rn_d
                  FROM b)
            SELECT event_type, bucket_start,
                   MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
                   MAX(value) AS high,
                   MIN(value) AS low,
                   MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
                   COUNT(*) AS n_events,
                   CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
                     AS volume
            FROM r GROUP BY event_type, bucket_start
        """,
        "cdc_salt_advisor": f"""
            {CHANGES_CTE},
            per_key AS (
              SELECT db, tbl, pk, COUNT(*) AS n_writes
              FROM changes WHERE op IN ('I', 'U', 'D')
              GROUP BY db, tbl, pk),
            f AS (SELECT db, tbl, pk, n_writes,
                    LEAST(CAST(16 AS BIGINT), (n_writes + 7) // 8)
                      AS n_salts
                  FROM per_key WHERE n_writes > 8)
            SELECT db, tbl, pk, n_writes,
                   CAST(n_salts AS BIGINT) AS n_salts,
                   CAST((n_writes + n_salts - 1) // n_salts AS BIGINT)
                     AS projected_rows_per_task
            FROM f
        """,
        "corpus_oov_rate": f"""
            WITH toks AS (SELECT source AS stratum,
                                 unnest({osql.TOKS}) AS tok
                          FROM documents),
            vc AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY tok),
            vr AS (SELECT tok,
                     ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS rnk
                   FROM vc),
            vocab AS (SELECT tok FROM vr WHERE rnk <= 64),
            j AS (SELECT t.stratum, t.tok,
                         v.tok IS NOT NULL AS in_vocab
                  FROM toks t LEFT JOIN vocab v ON t.tok = v.tok)
            SELECT stratum, COUNT(*) AS total_tokens,
                   CAST(SUM(CASE WHEN NOT in_vocab THEN 1 ELSE 0 END)
                        AS BIGINT) AS oov_tokens,
                   CAST(COUNT(DISTINCT CASE WHEN NOT in_vocab
                                            THEN tok END)
                        AS BIGINT) AS oov_types,
                   (CAST(SUM(CASE WHEN NOT in_vocab THEN 1 ELSE 0 END)
                         AS BIGINT) * 1000000) // COUNT(*) AS oov_ppm
            FROM j GROUP BY stratum
        """,
        "events_multitouch": """
            WITH e AS (SELECT user_id, event_id, epoch_ns(ts) AS ts_ns,
                              event_type
                       FROM events),
            conv AS (SELECT user_id, event_id AS conversion_id,
                            ts_ns AS conv_ts
                     FROM e WHERE event_type = 'purchase'),
            tch AS (SELECT user_id, event_id AS touch_id,
                           ts_ns AS touch_ts
                    FROM e WHERE event_type = 'click'),
            j AS (SELECT c.user_id, c.conversion_id, c.conv_ts,
                         t.touch_id, t.touch_ts
                  FROM conv c JOIN tch t ON c.user_id = t.user_id
                  WHERE t.touch_ts < c.conv_ts
                    AND t.touch_ts >= c.conv_ts - 21600000000000),
            r AS (SELECT *,
                    ROW_NUMBER() OVER (PARTITION BY user_id, conversion_id
                                       ORDER BY touch_ts, touch_id)
                      AS touch_rank,
                    COUNT(*) OVER (PARTITION BY user_id, conversion_id)
                      AS n_touches
                  FROM j)
            SELECT user_id, conversion_id, conv_ts, touch_id,
                   CAST(touch_rank AS BIGINT) AS touch_rank,
                   CAST(n_touches AS BIGINT) AS n_touches,
                   CAST(1000000 // n_touches
                        + CASE WHEN touch_rank = n_touches
                               THEN 1000000 % n_touches ELSE 0 END
                        AS BIGINT) AS credit_ppm
            FROM r
        """,
        "corpus_hll_registers": f"""
            WITH toks AS (SELECT doc_id, source, text, {osql.TOKS} AS toks
                          FROM documents),
            sh AS (SELECT source AS stratum, doc_id,
                          unnest({osql.SHINGLES}) AS shingle
                   FROM toks),
            h0 AS (SELECT stratum, doc_id,
                     CAST(concat('0x', substring(md5(shingle), 1, 12))
                          AS BIGINT) AS h
                   FROM sh),
            d AS (SELECT DISTINCT stratum, h FROM h0),
            reg AS (SELECT stratum, h % 64 AS register,
                      MAX(CASE WHEN h // 64 = 0 THEN 43
                          ELSE 42 - length(bin(h // 64)) + 1 END) AS rho
                    FROM d GROUP BY stratum, h % 64),
            direct AS (SELECT stratum,
                         COUNT(*) AS n_set,
                         CAST(SUM(rho) AS BIGINT) AS sum_rho,
                         MAX(rho) AS max_rho,
                         CAST(SUM(CAST(pow(2.0, 48 - rho) AS BIGINT))
                              + (64 - COUNT(*))
                                * CAST(281474976710656 AS BIGINT)
                              AS BIGINT) AS s_scaled
                       FROM reg GROUP BY stratum),
            hd AS (SELECT DISTINCT stratum, doc_id % 2 AS half, h
                   FROM h0),
            reg2 AS (SELECT stratum, half, h % 64 AS register,
                       MAX(CASE WHEN h // 64 = 0 THEN 43
                           ELSE 42 - length(bin(h // 64)) + 1 END) AS rho
                     FROM hd GROUP BY stratum, half, h % 64),
            mreg AS (SELECT stratum, register, MAX(rho) AS rho
                     FROM reg2 GROUP BY stratum, register),
            merged AS (SELECT stratum,
                         CAST(SUM(CAST(pow(2.0, 48 - rho) AS BIGINT))
                              + (64 - COUNT(*))
                                * CAST(281474976710656 AS BIGINT)
                              AS BIGINT) AS m_s_scaled
                       FROM mreg GROUP BY stratum),
            ex AS (SELECT stratum, COUNT(*) AS exact_distinct
                   FROM d GROUP BY stratum),
            est AS (SELECT direct.*,
                      CAST(floor(8.174213467662545e+20
                                 / CAST(s_scaled AS DOUBLE))
                           AS BIGINT) AS est_milli
                    FROM direct)
            SELECT est.stratum, n_set, sum_rho, max_rho, s_scaled,
                   est_milli, exact_distinct,
                   (abs(est_milli // 1000 - exact_distinct) * 1000000)
                     // exact_distinct AS err_ppm,
                   s_scaled = m_s_scaled AS merge_equal
            FROM est
            JOIN merged ON est.stratum = merged.stratum
            JOIN ex ON est.stratum = ex.stratum
        """,
        "snapshot_compaction_plan": """
            WITH files AS (
              SELECT substring(CAST(l_shipdate AS VARCHAR), 1, 7)
                       AS part_month,
                     l_orderkey % 64 AS file_id,
                     CAST(SUM(CAST(l_quantity AS BIGINT) * 100
                              + l_linenumber) AS BIGINT) AS bytes
              FROM lineitem GROUP BY 1, 2),
            off AS (SELECT part_month, file_id, bytes,
                      CAST(COALESCE(SUM(bytes) OVER (
                          PARTITION BY part_month ORDER BY file_id
                          ROWS BETWEEN UNBOUNDED PRECEDING
                               AND 1 PRECEDING), 0) AS BIGINT) AS o
                    FROM files)
            SELECT part_month, o // 50000 AS bin_id,
                   COUNT(*) AS n_files,
                   CAST(SUM(bytes) AS BIGINT) AS bin_bytes,
                   MIN(file_id) AS first_file,
                   MAX(file_id) AS last_file
            FROM off GROUP BY part_month, o // 50000
        """,
        "corpus_pagerank": f"""
            WITH toks AS (SELECT doc_id, {osql.TOKS} AS toks
                          FROM documents),
            g AS (SELECT DISTINCT doc_id,
                    unnest(CASE WHEN len(toks) >= 4 THEN
                      list_transform(generate_series(1, len(toks) - 3),
                        i -> concat_ws(' ', toks[i], toks[i+1],
                                       toks[i+2], toks[i+3]))
                      ELSE CAST([] AS VARCHAR[]) END) AS sh
                  FROM toks),
            dfq AS (SELECT sh, COUNT(*) AS df FROM g GROUP BY sh),
            rare AS (SELECT sh FROM dfq WHERE df BETWEEN 2 AND 3),
            e AS (SELECT DISTINCT a.doc_id AS src, b.doc_id AS dst
                  FROM g a JOIN rare USING (sh) JOIN g b USING (sh)
                  WHERE a.doc_id <> b.doc_id),
            deg AS (SELECT src, COUNT(*) AS outdeg FROM e GROUP BY src),
            r0 AS (SELECT src AS node,
                          CAST(1000000 AS BIGINT) AS rank_micro
                   FROM deg),
            s1 AS (SELECT e.dst,
                          CAST(SUM(r.rank_micro // d.outdeg) AS BIGINT)
                            AS s
                   FROM e JOIN r0 r ON e.src = r.node
                   JOIN deg d ON e.src = d.src
                   GROUP BY e.dst),
            it1 AS (SELECT d0.src AS node,
                      CAST(150000 + (85 * COALESCE(s1.s, 0)) // 100
                           AS BIGINT) AS rank_micro
                    FROM deg d0 LEFT JOIN s1 ON d0.src = s1.dst),
            s2 AS (SELECT e.dst,
                          CAST(SUM(r.rank_micro // d.outdeg) AS BIGINT)
                            AS s
                   FROM e JOIN it1 r ON e.src = r.node
                   JOIN deg d ON e.src = d.src
                   GROUP BY e.dst),
            it2 AS (SELECT d0.src AS node,
                      CAST(150000 + (85 * COALESCE(s2.s, 0)) // 100
                           AS BIGINT) AS rank_micro
                    FROM deg d0 LEFT JOIN s2 ON d0.src = s2.dst),
            s3 AS (SELECT e.dst,
                          CAST(SUM(r.rank_micro // d.outdeg) AS BIGINT)
                            AS s
                   FROM e JOIN it2 r ON e.src = r.node
                   JOIN deg d ON e.src = d.src
                   GROUP BY e.dst),
            it3 AS (SELECT d0.src AS node,
                      CAST(150000 + (85 * COALESCE(s3.s, 0)) // 100
                           AS BIGINT) AS rank_micro
                    FROM deg d0 LEFT JOIN s3 ON d0.src = s3.dst)
            SELECT it3.node AS doc_id, it3.rank_micro,
                   deg.outdeg
            FROM it3 JOIN deg ON it3.node = deg.src
            ORDER BY it3.rank_micro DESC, it3.node
            LIMIT 50
        """,
        "corpus_dsir_select": f"""
            WITH toks AS (SELECT doc_id, source, text, {osql.TOKS} AS toks
                          FROM documents),
            occ AS (SELECT doc_id, source, unnest(toks) AS tok FROM toks),
            b AS (SELECT doc_id, source,
                    CAST(concat('0x', substring(md5(tok), 1, 12))
                         AS BIGINT) % 256 AS bucket
                  FROM occ),
            counts AS (SELECT bucket, COUNT(*) AS raw_cnt,
                         CAST(SUM(CASE WHEN source = 'src0' THEN 1
                                       ELSE 0 END) AS BIGINT) AS tgt_cnt
                       FROM b GROUP BY bucket),
            tot AS (SELECT CAST(SUM(raw_cnt) AS BIGINT) AS tot_raw,
                           CAST(SUM(tgt_cnt) AS BIGINT) AS tot_tgt
                    FROM counts),
            w AS (SELECT bucket,
                    CAST(floor(ln((CAST(tgt_cnt + 1 AS DOUBLE)
                                   * CAST(tot_raw + 256 AS DOUBLE))
                                  / (CAST(raw_cnt + 1 AS DOUBLE)
                                     * CAST(tot_tgt + 256 AS DOUBLE)))
                               * 1000000.0) AS BIGINT) AS w_micro
                  FROM counts CROSS JOIN tot),
            scored AS (SELECT doc_id, COUNT(*) AS n_tokens,
                         CAST(SUM(w_micro) AS BIGINT) AS weight_micro
                       FROM b JOIN w USING (bucket)
                       GROUP BY doc_id),
            r AS (SELECT *, ROW_NUMBER() OVER (
                      ORDER BY weight_micro DESC, doc_id) AS rank
                  FROM scored)
            SELECT CAST(rank AS INT) AS rank, doc_id, n_tokens,
                   weight_micro
            FROM r WHERE rank <= 100
        """,
        "ann_ivf_incremental": f"""
            WITH q0 AS (
              SELECT vec_id AS id,
                     list_transform(embedding, x ->
                       CAST(floor(CAST(x AS DOUBLE) * 1000.0) AS BIGINT))
                       AS vec
              FROM embeddings),
            emb AS (SELECT * FROM q0 WHERE id % 5 <> 0),
            newv AS (SELECT * FROM q0 WHERE id % 5 = 0),
            {osql.kmeans_int_ctes()},
            nd AS (SELECT e.id, c.cid, {_IVF_INC_SQD} AS dist
                   FROM newv e CROSS JOIN c2 c),
            na AS (SELECT id, cid, dist FROM (
                     SELECT *, row_number() OVER (
                         PARTITION BY id ORDER BY dist, cid) AS rn
                     FROM nd) WHERE rn = 1),
            bl AS (SELECT cid, COUNT(*) AS base_n,
                     CAST(SUM(dist) AS BIGINT) // COUNT(*)
                       AS base_mean_dist
                   FROM afin GROUP BY cid),
            nl AS (SELECT cid, COUNT(*) AS new_n,
                     CAST(SUM(dist) AS BIGINT) // COUNT(*)
                       AS new_mean_dist
                   FROM na GROUP BY cid),
            alll AS (SELECT cid FROM c2)
            SELECT a.cid AS cluster_id,
                   COALESCE(base_n, 0) AS base_n,
                   COALESCE(new_n, 0) AS new_n,
                   base_mean_dist, new_mean_dist,
                   CASE WHEN COALESCE(base_n, 0) = 0 THEN NULL
                        ELSE (COALESCE(new_n, 0) * 1000000) // base_n
                   END AS growth_ppm,
                   CASE WHEN COALESCE(base_n, 0) = 0
                        THEN COALESCE(new_n, 0) > 0
                        ELSE (COALESCE(new_n, 0) * 1000000) // base_n
                             > 300000
                   END AS retrain
            FROM alll a
            LEFT JOIN bl ON a.cid = bl.cid
            LEFT JOIN nl ON a.cid = nl.cid
        """,
        "ann_int8_quant": """
            WITH m AS (
              SELECT vec_id, embedding,
                list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                    list_transform(embedding,
                                   x -> abs(CAST(x AS DOUBLE)))),
                  (acc, v) -> greatest(acc, v)) AS maxabs
              FROM embeddings),
            c AS (
              SELECT vec_id, embedding, maxabs,
                CASE WHEN maxabs = 0.0
                     THEN list_transform(embedding,
                                         x -> CAST(0 AS BIGINT))
                     ELSE list_transform(embedding, x ->
                       CAST(floor(CAST(x AS DOUBLE) * 127.0 / maxabs)
                            AS BIGINT)) END AS codes
              FROM m)
            SELECT vec_id,
              CAST(floor(maxabs * 1000000.0) AS BIGINT) AS scale_micro,
              list_reduce(list_prepend(CAST(0 AS BIGINT), codes),
                          (acc, v) -> acc + v) AS sum_codes,
              list_reduce(list_prepend(CAST(0 AS BIGINT),
                  list_transform(codes, q -> abs(q))),
                (acc, v) -> acc + v) AS sum_abs_codes,
              len(list_filter(codes, q -> abs(q) = 127))
                AS n_saturated,
              list_reduce(list_prepend(CAST(0 AS BIGINT),
                  list_transform(list_zip(embedding, codes), z ->
                    CAST(floor(abs(CAST(z[1] AS DOUBLE)
                                   - z[2] * maxabs / 127.0)
                               * 1000000.0) AS BIGINT))),
                (acc, v) -> acc + v) AS err_micro
            FROM c
        """,
        "events_rep_points": """
            WITH e AS (SELECT event_type, event_id,
                              epoch_ns(ts) AS ts_ns, value
                       FROM events),
            b AS (SELECT event_type, event_id, value,
                         ts_ns - ts_ns % 21600000000000 AS bucket_start,
                         CAST(CAST(value AS DECIMAL(18,2)) * 100
                              AS BIGINT) AS centi
                  FROM e),
            s AS (SELECT *,
                    COUNT(*) OVER w AS n,
                    CAST(SUM(centi) OVER w AS BIGINT) AS sm
                  FROM b
                  WINDOW w AS (PARTITION BY event_type, bucket_start)),
            r AS (SELECT *,
                    abs(n * centi - sm) AS dev_scaled,
                    ROW_NUMBER() OVER (
                        PARTITION BY event_type, bucket_start
                        ORDER BY abs(n * centi - sm) DESC, event_id)
                      AS rn
                  FROM s)
            SELECT event_type, bucket_start,
                   CAST(n AS BIGINT) AS n_events,
                   event_id AS rep_event_id,
                   value AS rep_value,
                   CAST(dev_scaled AS BIGINT) AS dev_scaled
            FROM r WHERE rn = 1
        """,
        "snapshot_stats_merge": """
            WITH base AS (
              SELECT substring(CAST(l_shipdate AS VARCHAR), 1, 7)
                       AS scope,
                     CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100
                          AS BIGINT) AS v,
                     CAST(concat('0x', substring(
                         md5(CAST(l_orderkey AS VARCHAR)), 1, 12))
                          AS BIGINT) AS h
              FROM lineitem),
            agg AS (SELECT scope, COUNT(*) AS n_rows,
                           MIN(v) AS min_v, MAX(v) AS max_v
                    FROM base GROUP BY scope),
            dh AS (SELECT DISTINCT scope, h FROM base),
            mins AS (SELECT scope, h FROM (
                       SELECT scope, h, ROW_NUMBER() OVER (
                           PARTITION BY scope ORDER BY h) AS rnk
                       FROM dh) WHERE rnk <= 64),
            sk AS (SELECT scope, MAX(h) AS kth_hash,
                          COUNT(*) AS k_used
                   FROM mins GROUP BY scope),
            parts AS (SELECT agg.scope, n_rows, min_v, max_v,
                             kth_hash, k_used,
                             CAST(NULL AS BOOLEAN) AS merge_ok
                      FROM agg JOIN sk ON agg.scope = sk.scope),
            gdh AS (SELECT DISTINCT h FROM base),
            gdirect_sk AS (SELECT MAX(h) AS kth_hash,
                                  COUNT(*) AS k_used FROM (
                             SELECT h, ROW_NUMBER() OVER (ORDER BY h)
                               AS rnk FROM gdh) WHERE rnk <= 64),
            gdirect AS (SELECT COUNT(*) AS n_rows, MIN(v) AS min_v,
                               MAX(v) AS max_v
                        FROM base),
            mdh AS (SELECT DISTINCT h FROM mins),
            gmerged_sk AS (SELECT MAX(h) AS m_kth,
                                  COUNT(*) AS m_k FROM (
                             SELECT h, ROW_NUMBER() OVER (ORDER BY h)
                               AS rnk FROM mdh) WHERE rnk <= 64),
            gmerged AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS m_n,
                               MIN(min_v) AS m_min,
                               MAX(max_v) AS m_max
                        FROM agg),
            g AS (SELECT 'GLOBAL' AS scope, gdirect.n_rows,
                         gdirect.min_v, gdirect.max_v,
                         gdirect_sk.kth_hash, gdirect_sk.k_used,
                         gdirect.n_rows = gmerged.m_n
                           AND gdirect.min_v = gmerged.m_min
                           AND gdirect.max_v = gmerged.m_max
                           AND gdirect_sk.kth_hash = gmerged_sk.m_kth
                           AND gdirect_sk.k_used = gmerged_sk.m_k
                           AS merge_ok
                  FROM gdirect, gdirect_sk, gmerged, gmerged_sk)
            SELECT * FROM parts UNION ALL SELECT * FROM g
        """,
        "corpus_quantile_sketch": f"""
            WITH pd AS (
              SELECT source AS stratum, doc_id,
                     CAST(len({osql.TOKS}) AS BIGINT) AS v,
                     CAST(concat('0x', substring(
                         md5(CAST(doc_id AS VARCHAR)), 1, 12))
                       AS BIGINT) AS ticket
              FROM documents),
            samp AS (
              SELECT stratum, doc_id, v FROM (
                SELECT stratum, doc_id, v, ROW_NUMBER() OVER (
                  PARTITION BY stratum ORDER BY ticket, doc_id)
                  AS srk
                FROM pd) t
              WHERE srk <= 128),
            sr AS (
              SELECT stratum, v,
                ROW_NUMBER() OVER (PARTITION BY stratum
                                   ORDER BY v, doc_id) AS vrk,
                COUNT(*) OVER (PARTITION BY stratum) AS k_used
              FROM samp),
            est AS (
              SELECT stratum, MAX(k_used) AS k_used,
                MAX(CASE WHEN vrk = (25 * k_used + 99) // 100
                         THEN v END) AS p25_est,
                MAX(CASE WHEN vrk = (50 * k_used + 99) // 100
                         THEN v END) AS p50_est,
                MAX(CASE WHEN vrk = (75 * k_used + 99) // 100
                         THEN v END) AS p75_est,
                MAX(CASE WHEN vrk = (90 * k_used + 99) // 100
                         THEN v END) AS p90_est
              FROM sr GROUP BY stratum),
            er AS (
              SELECT stratum, v,
                ROW_NUMBER() OVER (PARTITION BY stratum
                                   ORDER BY v, doc_id) AS vrk,
                COUNT(*) OVER (PARTITION BY stratum) AS n
              FROM pd),
            ex AS (
              SELECT stratum, MAX(n) AS n_docs,
                MAX(CASE WHEN vrk = (25 * n + 99) // 100
                         THEN v END) AS p25_exact,
                MAX(CASE WHEN vrk = (50 * n + 99) // 100
                         THEN v END) AS p50_exact,
                MAX(CASE WHEN vrk = (75 * n + 99) // 100
                         THEN v END) AS p75_exact,
                MAX(CASE WHEN vrk = (90 * n + 99) // 100
                         THEN v END) AS p90_exact
              FROM er GROUP BY stratum)
            SELECT stratum, n_docs, k_used,
                   p25_est, p25_exact, abs(p25_est - p25_exact)
                     AS p25_abs_err,
                   p50_est, p50_exact, abs(p50_est - p50_exact)
                     AS p50_abs_err,
                   p75_est, p75_exact, abs(p75_est - p75_exact)
                     AS p75_abs_err,
                   p90_est, p90_exact, abs(p90_est - p90_exact)
                     AS p90_abs_err
            FROM est JOIN ex USING (stratum)
        """,
        "corpus_cms_topk": f"""
            WITH toks AS (
              SELECT unnest({osql.TOKS}) AS tok FROM documents),
            exact AS (
              SELECT tok, CAST(COUNT(*) AS BIGINT) AS exact_cnt
              FROM toks GROUP BY tok),
            rows_ AS (
              SELECT i.row_i,
                CAST(concat('0x', substring(
                    md5(concat(CAST(i.row_i AS VARCHAR), ':', tok)),
                    1, 12)) AS BIGINT) % 512 AS bucket,
                exact_cnt AS cnt
              FROM exact CROSS JOIN
                   (SELECT unnest([0, 1, 2, 3]) AS row_i) i),
            sketch AS (
              SELECT row_i, bucket,
                     CAST(SUM(cnt) AS BIGINT) AS bucket_cnt
              FROM rows_ GROUP BY row_i, bucket),
            cand AS (
              SELECT tok, exact_cnt, ROW_NUMBER() OVER (
                  ORDER BY exact_cnt DESC, tok) AS rank
              FROM exact
              ORDER BY exact_cnt DESC, tok LIMIT 16),
            probes AS (
              SELECT rank, tok, exact_cnt, i.row_i,
                CAST(concat('0x', substring(
                    md5(concat(CAST(i.row_i AS VARCHAR), ':', tok)),
                    1, 12)) AS BIGINT) % 512 AS bucket
              FROM cand CROSS JOIN
                   (SELECT unnest([0, 1, 2, 3]) AS row_i) i),
            est AS (
              SELECT rank, tok, exact_cnt,
                     MIN(bucket_cnt) AS est_cnt
              FROM probes JOIN sketch USING (row_i, bucket)
              GROUP BY rank, tok, exact_cnt)
            SELECT rank, tok, exact_cnt, est_cnt,
                   est_cnt >= exact_cnt AS overestimate_ok,
                   ((est_cnt - exact_cnt) * 1000000) // exact_cnt
                     AS err_ppm
            FROM est
        """,
        "events_decayed_topk": """
            WITH e AS (
              SELECT user_id, epoch_ns(ts) AS ts FROM events),
            m AS (SELECT MAX(ts) AS t_max FROM e),
            w AS (
              SELECT user_id,
                     least(CAST(20 AS BIGINT),
                           (t_max - ts) // 259200000000000) AS age
              FROM e, m),
            s AS (
              SELECT user_id,
                     CAST(COUNT(*) AS BIGINT) AS n_events,
                     CAST(SUM(CASE WHEN age = 0 THEN 1 ELSE 0 END)
                          AS BIGINT) AS n_recent,
                     CAST(SUM(CAST(1000000 AS BIGINT)
                              // (CAST(1 AS BIGINT)
                                  << CAST(age AS INT)))
                          AS BIGINT) AS decayed_micro
              FROM w GROUP BY user_id),
            r AS (SELECT *, ROW_NUMBER() OVER (
                      ORDER BY decayed_micro DESC, user_id) AS rank
                  FROM s)
            SELECT rank, user_id, n_events, n_recent, decayed_micro
            FROM r WHERE rank <= 20
        """,
        "cdc_dml_mix_drift": f"""
            {CHANGES_CTE},
            c AS (
              SELECT db, tbl, commit_ts // 10000 AS win,
                     CAST(COUNT(*) AS BIGINT) AS n_total,
                     CAST(COUNT(CASE WHEN op = 'I' THEN 1 END)
                          AS BIGINT) AS n_ins,
                     CAST(COUNT(CASE WHEN op = 'U' THEN 1 END)
                          AS BIGINT) AS n_upd,
                     CAST(COUNT(CASE WHEN op = 'D' THEN 1 END)
                          AS BIGINT) AS n_del
              FROM changes GROUP BY db, tbl, win),
            p AS (
              SELECT db, tbl, win, n_total,
                     (n_ins * 1000000) // n_total AS ins_ppm,
                     (n_upd * 1000000) // n_total AS upd_ppm,
                     (n_del * 1000000) // n_total AS del_ppm
              FROM c),
            l AS (
              SELECT *,
                     lag(ins_ppm) OVER w AS prev_ins,
                     lag(upd_ppm) OVER w AS prev_upd,
                     lag(del_ppm) OVER w AS prev_del
              FROM p
              WINDOW w AS (PARTITION BY db, tbl ORDER BY win)),
            d AS (
              SELECT db, tbl, win, n_total, ins_ppm, upd_ppm,
                     del_ppm,
                     abs(ins_ppm - prev_ins) + abs(upd_ppm - prev_upd)
                       + abs(del_ppm - prev_del) AS drift_ppm
              FROM l)
            SELECT db, tbl, win, n_total, ins_ppm, upd_ppm, del_ppm,
                   drift_ppm,
                   COALESCE(drift_ppm > 300000, FALSE) AS drift_flag
            FROM d
        """,
        "events_growth_accounting": """
            WITH uw AS (
              SELECT DISTINCT user_id AS u,
                     epoch_ns(ts) // 604800000000000 AS week
              FROM events),
            l AS (
              SELECT u, week,
                     lag(week) OVER w AS prev_w,
                     lead(week) OVER w AS next_w
              FROM uw WINDOW w AS (PARTITION BY u ORDER BY week)),
            act AS (
              SELECT week,
                CAST(COUNT(CASE WHEN prev_w IS NULL THEN 1 END)
                     AS BIGINT) AS n_new,
                CAST(COUNT(CASE WHEN prev_w = week - 1 THEN 1 END)
                     AS BIGINT) AS n_retained,
                CAST(COUNT(CASE WHEN prev_w < week - 1 THEN 1 END)
                     AS BIGINT) AS n_resurrected
              FROM l GROUP BY week),
            m AS (SELECT MAX(week) AS max_week FROM uw),
            ch AS (
              SELECT week + 1 AS week,
                     CAST(COUNT(*) AS BIGINT) AS n_churned
              FROM l, m
              WHERE (next_w IS NULL OR next_w > week + 1)
                AND week + 1 <= max_week
              GROUP BY week + 1)
            SELECT COALESCE(act.week, ch.week) AS week,
                   COALESCE(n_new, 0) AS n_new,
                   COALESCE(n_retained, 0) AS n_retained,
                   COALESCE(n_resurrected, 0) AS n_resurrected,
                   COALESCE(n_churned, 0) AS n_churned,
                   COALESCE(n_new, 0) + COALESCE(n_retained, 0)
                     + COALESCE(n_resurrected, 0) AS n_active
            FROM act FULL OUTER JOIN ch ON act.week = ch.week
        """,
        "corpus_vocab_growth": f"""
            WITH r AS (
              SELECT source AS stratum, doc_id,
                ROW_NUMBER() OVER (PARTITION BY source
                                   ORDER BY doc_id) AS doc_rank
              FROM documents),
            t AS (
              SELECT source AS stratum, doc_id,
                     unnest({osql.TOKS}) AS tok
              FROM documents),
            ft AS (
              SELECT t.stratum, tok, MIN(doc_rank) AS first_seen
              FROM t JOIN r ON t.stratum = r.stratum
                           AND t.doc_id = r.doc_id
              GROUP BY t.stratum, tok),
            nd AS (
              SELECT source AS stratum,
                     CAST(COUNT(*) AS BIGINT) AS n_docs
              FROM documents GROUP BY source),
            cps AS (
              SELECT stratum, n_docs,
                     unnest([25, 50, 75, 100]) AS pct
              FROM nd),
            cp2 AS (
              SELECT stratum, n_docs, pct,
                     (pct * n_docs + 99) // 100 AS cp_rank
              FROM cps)
            SELECT f.stratum, pct, cp_rank AS docs_seen, n_docs,
                   CAST(COUNT(CASE WHEN first_seen <= cp_rank
                              THEN 1 END) AS BIGINT) AS vocab_size
            FROM ft f JOIN cp2 USING (stratum)
            GROUP BY f.stratum, pct, cp_rank, n_docs
        """,
        "ann_recall_curve": f"""
            WITH cmod AS (
              -- sqrt(N)-derived coarse sizing, identical to the Spark
              -- side's sqrt_centroid_mod (IEEE sqrt + int division)
              SELECT GREATEST(2, COUNT(*) //
                CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT)) AS m
              FROM embeddings),
            qmod AS (
              -- fixed-size audit query sample (~64 queries at any
              -- corpus), identical to sampled_query_mod
              SELECT GREATEST(1, COUNT(*) // 64) AS qm
              FROM embeddings),
            cents AS (
              SELECT vec_id AS centroid_id, embedding AS c_emb
              FROM embeddings
              WHERE vec_id % (SELECT m FROM cmod) = 1),
            assigned AS (
              SELECT vec_id, embedding, centroid_id FROM (
                SELECT e.vec_id, e.embedding, c.centroid_id,
                  ROW_NUMBER() OVER (PARTITION BY e.vec_id
                    ORDER BY {osql.cosine('e.embedding', 'c.c_emb')}
                      DESC, c.centroid_id) AS crank
                FROM embeddings e, cents c) t
              WHERE crank = 1),
            q AS (SELECT vec_id AS query_id, embedding AS q_emb
                  FROM embeddings
                  WHERE vec_id % (SELECT qm FROM qmod) = 0),
            probes AS (
              SELECT query_id, q_emb, centroid_id, prank FROM (
                SELECT q.query_id, q.q_emb, c.centroid_id,
                  ROW_NUMBER() OVER (PARTITION BY q.query_id
                    ORDER BY {osql.cosine('q.q_emb', 'c.c_emb')}
                      DESC, c.centroid_id) AS prank
                FROM q, cents c) t
              WHERE prank <= 4),
            cands AS (
              SELECT p.query_id, p.prank, a.vec_id,
                     {osql.cosine('p.q_emb', 'a.embedding')} AS cosine
              FROM probes p JOIN assigned a USING (centroid_id)
              WHERE a.vec_id <> p.query_id),
            lv AS (
              SELECT l.nprobe, c.query_id, c.vec_id, c.cosine
              FROM cands c CROSS JOIN
                   (SELECT unnest([1, 2, 4]) AS nprobe) l
              WHERE c.prank <= l.nprobe),
            r AS (SELECT nprobe, query_id, vec_id,
                    ROW_NUMBER() OVER (PARTITION BY nprobe, query_id
                      ORDER BY cosine DESC, vec_id) AS rank
                  FROM lv),
            topk AS (SELECT nprobe, query_id, vec_id
                     FROM r WHERE rank <= 5),
            brute AS (
              SELECT query_id, vec_id FROM (
                SELECT q.query_id, e.vec_id,
                  ROW_NUMBER() OVER (PARTITION BY q.query_id
                    ORDER BY {osql.cosine('q.q_emb', 'e.embedding')}
                      DESC, e.vec_id) AS rank
                FROM embeddings e, q
                WHERE e.vec_id <> q.query_id) t
              WHERE rank <= 5),
            nq AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_queries
                   FROM q),
            h AS (
              SELECT nprobe, CAST(COUNT(b.vec_id) AS BIGINT) AS hits
              FROM topk t LEFT JOIN brute b
                ON t.query_id = b.query_id AND t.vec_id = b.vec_id
              GROUP BY nprobe)
            SELECT nprobe, n_queries, 5 AS k, hits,
                   (hits * 1000000) // (n_queries * 5) AS recall_ppm
            FROM h, nq
        """,
        "events_seasonal_residuals": """
            WITH e AS (SELECT epoch_ns(ts) AS t FROM events),
            c AS (
              SELECT t // 86400000000000 AS day,
                     (t // 86400000000000) % 7 AS dow,
                     (t % 86400000000000) // 3600000000000 AS hour
              FROM e),
            cell AS (
              SELECT day, dow, hour,
                     CAST(COUNT(*) AS BIGINT) AS n
              FROM c GROUP BY day, dow, hour),
            slot AS (
              SELECT dow, hour,
                     CAST(SUM(n) AS BIGINT) AS slot_total,
                     CAST(COUNT(*) AS BIGINT) AS n_days
              FROM cell GROUP BY dow, hour)
            SELECT day, cell.dow, cell.hour, n, n_days, slot_total,
                   n * n_days > 2 * slot_total AS is_high,
                   2 * n * n_days < slot_total AS is_low
            FROM cell JOIN slot USING (dow, hour)
        """,
        "dedup_lsh_accuracy": f"""
            WITH {osql.MINHASH_PAIRS_CTES},
            shx AS (
              SELECT DISTINCT doc_id,
                     unnest(list_distinct(shingles)) AS s
              FROM sh),
            sizes AS (
              SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_sh
              FROM shx GROUP BY doc_id),
            rare AS (
              SELECT s FROM (
                SELECT s, COUNT(*) AS df FROM shx GROUP BY s) t
              WHERE df <= 20),
            rsh AS (SELECT doc_id, s FROM shx JOIN rare USING (s)),
            rsizes AS (
              SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_rsh
              FROM rsh GROUP BY doc_id),
            candraw AS (
              SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     CAST(COUNT(*) AS BIGINT) AS n_shared
              FROM rsh a JOIN rsh b
                ON a.s = b.s AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id),
            cand AS (
              -- multi-witness rule mirroring dedup.lsh_accuracy:
              -- >= min(3, |rare_a|, |rare_b|) distinct shared rare
              -- shingles (capped by each doc's RARE-shingle count —
              -- what the pair can possibly share as witnesses)
              SELECT doc_a, doc_b FROM candraw
              JOIN rsizes wa ON candraw.doc_a = wa.doc_id
              JOIN rsizes wb ON candraw.doc_b = wb.doc_id
              WHERE n_shared >= GREATEST(1,
                    LEAST(3, wa.n_rsh, wb.n_rsh))),
            inter AS (
              SELECT doc_a, doc_b,
                     CAST(COUNT(*) AS BIGINT) AS n_inter
              FROM cand c
              JOIN shx sa ON c.doc_a = sa.doc_id
              JOIN shx sb ON c.doc_b = sb.doc_id AND sa.s = sb.s
              GROUP BY doc_a, doc_b),
            truth AS (
              SELECT doc_a, doc_b FROM inter
              JOIN sizes za ON inter.doc_a = za.doc_id
              JOIN sizes zb ON inter.doc_b = zb.doc_id
              WHERE (n_inter * 1000000)
                      // (za.n_sh + zb.n_sh - n_inter) >= 500000),
            pred AS (
              SELECT doc_a, doc_b FROM pairs
              WHERE len(list_filter(generate_series(0, 11),
                        j -> sig_a[j+1] = sig_b[j+1])) >= 6),
            tp AS (SELECT p.doc_a FROM pred p
                   JOIN truth t ON p.doc_a = t.doc_a
                              AND p.doc_b = t.doc_b),
            m AS (
              SELECT
                (SELECT CAST(COUNT(*) AS BIGINT) FROM pred)
                  AS n_pred,
                (SELECT CAST(COUNT(*) AS BIGINT) FROM truth)
                  AS n_truth,
                (SELECT CAST(COUNT(*) AS BIGINT) FROM tp) AS n_tp)
            SELECT n_pred, n_truth, n_tp,
                   CASE WHEN n_pred > 0
                        THEN (n_tp * 1000000) // n_pred
                   END AS precision_ppm,
                   CASE WHEN n_truth > 0
                        THEN (n_tp * 1000000) // n_truth
                   END AS recall_ppm
            FROM m
        """,
        "events_markov_attribution": _markov_sql(4),
        "cdc_redelivery_proof": f"""
            {CHANGES_CTE},
            mx AS (SELECT MAX(arrival_seq) AS mx FROM changes),
            rep AS (
              SELECT * FROM changes
              UNION ALL
              SELECT c.* REPLACE (c.arrival_seq + mx.mx + 1
                                  AS arrival_seq)
              FROM changes c, mx WHERE c.arrival_seq % 3 = 0),
            {_ok_cte("changes", "1")},
            l1 AS (SELECT * FROM (
                     SELECT *, ROW_NUMBER() OVER (
                       PARTITION BY db, tbl, pk
                       ORDER BY commit_ts DESC, seq DESC,
                                arrival_seq DESC) AS rn
                     FROM ok1) t WHERE rn = 1 AND op <> 'D'),
            s1 AS (SELECT db, tbl,
                     CAST(COUNT(*) AS BIGINT) AS n_once,
                     CAST(SUM(CAST(concat('0x', substring(md5(
                       concat_ws('|', db, tbl, CAST(pk AS VARCHAR),
                                 CAST(val AS VARCHAR),
                                 CAST(commit_ts AS VARCHAR))),
                       1, 12)) AS BIGINT)) AS BIGINT) AS h_once
                   FROM l1 GROUP BY db, tbl),
            {_ok_cte("rep", "2")},
            l2 AS (SELECT * FROM (
                     SELECT *, ROW_NUMBER() OVER (
                       PARTITION BY db, tbl, pk
                       ORDER BY commit_ts DESC, seq DESC,
                                arrival_seq DESC) AS rn
                     FROM ok2) t WHERE rn = 1 AND op <> 'D'),
            s2 AS (SELECT db, tbl,
                     CAST(COUNT(*) AS BIGINT) AS n_replayed,
                     CAST(SUM(CAST(concat('0x', substring(md5(
                       concat_ws('|', db, tbl, CAST(pk AS VARCHAR),
                                 CAST(val AS VARCHAR),
                                 CAST(commit_ts AS VARCHAR))),
                       1, 12)) AS BIGINT)) AS BIGINT) AS h_replayed
                   FROM l2 GROUP BY db, tbl)
            SELECT db, tbl, n_once, n_replayed, h_once, h_replayed,
                   n_once = n_replayed AND h_once = h_replayed
                     AS identical
            FROM s1 JOIN s2 USING (db, tbl)
        """,
        "rag_retrieval_ndcg": f"""
            {_TFIDF_TOPK_CTE},
            rk AS (SELECT query_id, doc_id, rank FROM r
                   WHERE rank <= 5),
            qs AS (SELECT doc_id AS query_id, source AS q_source
                   FROM documents WHERE doc_id % 50 = 0),
            ds AS (SELECT doc_id, source AS d_source FROM documents),
            lab AS (
              SELECT rk.query_id, rk.doc_id, rank,
                CAST(CASE WHEN q_source = d_source THEN 1 ELSE 0 END
                     AS BIGINT) AS rel,
                CAST(([1000000, 630929, 500000, 430676,
                       386852])[rank] AS BIGINT) AS disc_micro
              FROM rk JOIN qs USING (query_id)
                      JOIN ds USING (doc_id)),
            per_q AS (
              SELECT query_id,
                     CAST(COUNT(*) AS BIGINT) AS n_retrieved,
                     CAST(SUM(rel) AS BIGINT) AS n_relevant,
                     CAST(SUM(rel * disc_micro) AS BIGINT)
                       AS dcg_micro
              FROM lab GROUP BY query_id),
            w_i AS (
              SELECT *, CASE WHEN n_relevant > 0 THEN
                  CAST(([1000000, 1630929, 2130929, 2561605,
                         2948457])[CAST(least(n_relevant, 5)
                                        AS INT)] AS BIGINT)
                END AS idcg_micro
              FROM per_q)
            SELECT query_id, n_retrieved, n_relevant, dcg_micro,
                   idcg_micro,
                   CASE WHEN idcg_micro > 0 THEN
                     (dcg_micro * 1000000) // idcg_micro
                   END AS ndcg_ppm
            FROM w_i
        """,
        "events_activity_gini": """
            WITH pu AS (
              SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
              FROM events GROUP BY user_id),
            rked AS (
              SELECT user_id, n,
                     ROW_NUMBER() OVER (ORDER BY n, user_id) AS rk
              FROM pu),
            tot AS (
              SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
                     SUM(n) AS s,
                     SUM(CAST(rk AS HUGEINT) * n) AS s1
              FROM rked),
            gini AS (
              SELECT n_users,
                     CAST(((2 * s1 - (n_users + 1) * s) * 1000000)
                          // (n_users * s) AS BIGINT) AS gini_ppm,
                     CAST(s AS BIGINT) AS total_events
              FROM tot),
            dec AS (
              SELECT (10 * rk + n_users - 1) // n_users AS decile,
                     CAST(COUNT(*) AS BIGINT) AS n_users_decile,
                     CAST(SUM(n) AS BIGINT) AS n_events
              FROM rked, tot GROUP BY 1),
            cum AS (
              SELECT decile, n_users_decile, n_events,
                     CAST(SUM(n_events) OVER (ORDER BY decile
                       ROWS UNBOUNDED PRECEDING) AS BIGINT)
                       AS cum_events
              FROM dec)
            SELECT decile, n_users_decile, n_events,
                   (cum_events * 1000000) // total_events
                     AS cum_events_ppm,
                   gini_ppm
            FROM cum, gini
        """,
        "events_holt_forecast": _holt_sql(3),
        "events_peak_concurrency": f"""
            WITH e AS (SELECT user_id, event_id, epoch_ns(ts) AS ts_ns,
                              event_type
                       FROM events),
            {_gap_sessions_cte("TRUE", 30 * 60 * 1_000_000_000, "s")},
            bounds AS (
              SELECT s_start AS ts, 1 AS delta FROM ss
              UNION ALL
              SELECT s_end + 1, -1 FROM ss),
            g AS (
              SELECT ts // 86400000000000 AS day, ts,
                CAST(COUNT(CASE WHEN delta > 0 THEN 1 END)
                     AS BIGINT) AS n_plus,
                CAST(COUNT(CASE WHEN delta < 0 THEN 1 END)
                     AS BIGINT) AS n_minus
              FROM bounds GROUP BY 1, 2),
            g2 AS (
              SELECT *, n_plus - n_minus AS net,
                SUM(n_plus - n_minus) OVER (PARTITION BY day
                  ORDER BY ts ROWS UNBOUNDED PRECEDING) AS run_end
              FROM g),
            g3 AS (SELECT day, ts, n_plus, net, run_end,
                          run_end - net + n_plus AS cand
                   FROM g2),
            days AS (
              SELECT day, CAST(SUM(net) AS BIGINT) AS day_net,
                     MAX(cand) AS max_cand,
                     CAST(COUNT(*) AS BIGINT) AS n_boundary_ts
              FROM g3 GROUP BY day),
            fin AS (
              SELECT day, n_boundary_ts,
                CAST(COALESCE(SUM(day_net) OVER (ORDER BY day
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS BIGINT) AS carry_in,
                max_cand
              FROM days)
            SELECT day, n_boundary_ts, carry_in,
                   CAST(carry_in + max_cand AS BIGINT)
                     AS peak_concurrency
            FROM fin
        """,
        "events_conversion_latency": f"""
            WITH f AS (SELECT * FROM (
                {osql.funnel_sql(FUNNEL_STEPS, FUNNEL_WINDOW_NS)}
              ) sub),
            lat AS (
              SELECT 1 AS step, 'signup->view' AS transition,
                     user_id AS u, t1 - t0 AS lat
              FROM f WHERE t1 IS NOT NULL
              UNION ALL
              SELECT 2, 'view->purchase', user_id, t2 - t1
              FROM f WHERE t2 IS NOT NULL),
            r AS (
              SELECT *,
                ROW_NUMBER() OVER (PARTITION BY step
                                   ORDER BY lat, u) AS rk,
                COUNT(*) OVER (PARTITION BY step) AS n
              FROM lat)
            SELECT step, transition,
                   CAST(COUNT(*) AS BIGINT) AS n_users,
                   MIN(lat) AS min_ns,
                   MAX(CASE WHEN rk = (50 * n + 99) // 100
                       THEN lat END) AS p50_ns,
                   MAX(CASE WHEN rk = (90 * n + 99) // 100
                       THEN lat END) AS p90_ns,
                   MAX(lat) AS max_ns
            FROM r GROUP BY step, transition
        """,
        "cdc_ddl_risk_audit": f"""
            WITH s AS (SELECT * FROM ({_ddl_stream_oracle()}) t)
            SELECT {ddl.RISK_TIER_CASE} AS risk_tier, ddl_kind,
                   CAST(COUNT(*) AS BIGINT) AS n_stmts,
                   CAST(COUNT(CASE WHEN should_skip THEN 1 END)
                        AS BIGINT) AS n_skipped,
                   CAST(COUNT(DISTINCT db) AS BIGINT) AS n_dbs,
                   MIN(arrival_seq) AS first_seq,
                   MAX(arrival_seq) AS last_seq
            FROM s GROUP BY 1, 2
        """,
        "events_rfm_segments": f"""
            WITH pu AS (
              SELECT user_id AS u, MAX(epoch_ns(ts)) AS r_ts,
                     CAST(COUNT(*) AS BIGINT) AS freq,
                     CAST(SUM(CAST(floor(value * 1000) AS BIGINT))
                          AS BIGINT) AS mon_milli
              FROM events GROUP BY user_id),
            nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM pu),
            s AS (
              SELECT u, freq, mon_milli,
                (5 * ROW_NUMBER() OVER (ORDER BY r_ts, u) + n - 1)
                  // n AS r_score,
                (5 * ROW_NUMBER() OVER (ORDER BY freq, u) + n - 1)
                  // n AS f_score,
                (5 * ROW_NUMBER() OVER (ORDER BY mon_milli, u)
                 + n - 1) // n AS m_score
              FROM pu, nn),
            l AS (SELECT *,
                    {timeseries_rfm_label()} AS segment
                  FROM s)
            SELECT segment, r_score, f_score, m_score,
                   CAST(COUNT(*) AS BIGINT) AS n_users,
                   CAST(SUM(freq) AS BIGINT) AS n_events,
                   CAST(SUM(mon_milli) AS BIGINT) AS total_milli
            FROM l GROUP BY 1, 2, 3, 4
        """,
        "events_dau_wau_mau": """
            WITH ud AS (
              SELECT DISTINCT user_id AS u,
                     epoch_ns(ts) // 86400000000000 AS day
              FROM events),
            days AS (SELECT DISTINCT day AS d FROM ud),
            j AS (
              SELECT d, u, day FROM ud JOIN days
                ON d >= day AND d <= day + 29)
            SELECT d AS day,
                   CAST(COUNT(DISTINCT CASE WHEN d = day THEN u END)
                        AS BIGINT) AS dau,
                   CAST(COUNT(DISTINCT CASE WHEN d <= day + 6
                              THEN u END) AS BIGINT) AS wau,
                   CAST(COUNT(DISTINCT u) AS BIGINT) AS mau,
                   (CAST(COUNT(DISTINCT CASE WHEN d = day THEN u END)
                         AS BIGINT) * 1000000)
                     // CAST(COUNT(DISTINCT u) AS BIGINT)
                     AS stickiness_ppm
            FROM j GROUP BY d
        """,
        "events_cusum_changepoint": """
            WITH e AS (
              SELECT event_type AS k,
                     epoch_ns(ts) // 21600000000000 AS win
              FROM events),
            cnt AS (SELECT k, win, CAST(COUNT(*) AS BIGINT) AS x
                    FROM e GROUP BY k, win),
            tot AS (SELECT k,
                           CAST(COUNT(*) AS BIGINT) AS n_windows,
                           CAST(SUM(x) AS BIGINT) AS total
                    FROM cnt GROUP BY k),
            c AS (SELECT cnt.k, win, x, n_windows, total,
                         x * n_windows - total AS dev
                  FROM cnt JOIN tot ON cnt.k = tot.k),
            r AS (SELECT *,
                    CAST(SUM(dev) OVER (PARTITION BY k ORDER BY win
                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cusum
                  FROM c),
            p AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY k
                    ORDER BY abs(cusum) DESC, win) AS pr
                  FROM r)
            SELECT k AS event_type, n_windows, total,
                   win AS changepoint_win,
                   CAST(abs(cusum) AS BIGINT) AS max_abs_cusum,
                   abs(cusum) * CAST(1000000 AS BIGINT)
                       > CAST(200000 AS BIGINT) * total
                     AS shift_detected
            FROM p WHERE pr = 1
        """,
        "cdc_asof_diff": f"""
            {CHANGES_CTE}, {_OK_CTE},
            hist AS (
              SELECT db, tbl, pk, val, op,
                     commit_ts AS valid_from,
                     LEAD(commit_ts) OVER (
                         PARTITION BY db, tbl, pk
                         ORDER BY commit_ts, seq, arrival_seq)
                       AS valid_to
              FROM ok),
            m AS (SELECT (MAX(commit_ts) * 2) // 5 AS t1,
                         (MAX(commit_ts) * 4) // 5 AS t2
                  FROM changes),
            s1 AS (SELECT db, tbl, pk, val AS val1
                   FROM hist, m
                   WHERE op <> 'D' AND valid_from <= t1
                     AND (valid_to IS NULL OR valid_to > t1)),
            s2 AS (SELECT db, tbl, pk, val AS val2
                   FROM hist, m
                   WHERE op <> 'D' AND valid_from <= t2
                     AND (valid_to IS NULL OR valid_to > t2)),
            j AS (
              SELECT COALESCE(s1.db, s2.db) AS db,
                     COALESCE(s1.tbl, s2.tbl) AS tbl,
                     val1, val2
              FROM s1 FULL OUTER JOIN s2
                ON s1.db = s2.db AND s1.tbl = s2.tbl
               AND s1.pk = s2.pk)
            SELECT db, tbl,
                   CASE WHEN val1 IS NULL THEN 'added'
                        WHEN val2 IS NULL THEN 'removed'
                        WHEN val1 <> val2 THEN 'changed'
                        ELSE 'unchanged' END AS change_type,
                   CAST(COUNT(*) AS BIGINT) AS n_keys
            FROM j GROUP BY 1, 2, 3
        """,
        "events_did_uplift": """
            WITH e AS (
              SELECT (user_id % 2 = 1) AS treated, epoch_ns(ts) AS t,
                     CAST(floor(value * 1000) AS BIGINT) AS v
              FROM events),
            m AS (SELECT (MIN(t) + MAX(t)) // 2 AS mid FROM e),
            cells AS (
              SELECT treated, t >= mid AS after,
                     CAST(COUNT(*) AS BIGINT) AS n_events,
                     CAST(SUM(v) AS BIGINT) AS sum_milli
              FROM e, m GROUP BY 1, 2),
            c2 AS (SELECT *, sum_milli // n_events AS mean_milli
                   FROM cells),
            did AS (
              SELECT (MAX(CASE WHEN treated AND after
                           THEN mean_milli END)
                      - MAX(CASE WHEN treated AND NOT after
                            THEN mean_milli END))
                   - (MAX(CASE WHEN NOT treated AND after
                          THEN mean_milli END)
                      - MAX(CASE WHEN NOT treated AND NOT after
                            THEN mean_milli END)) AS did_milli
              FROM c2)
            SELECT treated, after, n_events, sum_milli, mean_milli,
                   did_milli
            FROM c2, did
        """,
        "corpus_novelty_curve": f"""
            WITH t AS (SELECT doc_id, source, text,
                              {osql.TOKS} AS toks
                       FROM documents),
            ranked AS (
              SELECT source AS stratum, doc_id,
                ROW_NUMBER() OVER (PARTITION BY source
                                   ORDER BY doc_id) AS doc_rank,
                COUNT(*) OVER (PARTITION BY source) AS n_docs
              FROM documents),
            sh AS (
              SELECT DISTINCT source AS stratum, doc_id,
                     unnest({osql.SHINGLES}) AS shingle
              FROM t),
            shr AS (SELECT sh.stratum, sh.doc_id, shingle,
                           doc_rank, n_docs
                    FROM sh JOIN ranked
                      ON sh.stratum = ranked.stratum
                     AND sh.doc_id = ranked.doc_id),
            fs AS (SELECT stratum, shingle,
                          MIN(doc_rank) AS first_seen
                   FROM shr GROUP BY stratum, shingle),
            pd AS (
              SELECT shr.stratum, shr.doc_id, doc_rank, n_docs,
                CAST(COUNT(*) AS BIGINT) AS n_sh,
                CAST(COUNT(CASE WHEN first_seen = doc_rank THEN 1
                           END) AS BIGINT) AS n_new
              FROM shr JOIN fs
                ON shr.stratum = fs.stratum
               AND shr.shingle = fs.shingle
              GROUP BY shr.stratum, shr.doc_id, doc_rank, n_docs),
            dec AS (SELECT *, (10 * doc_rank + n_docs - 1) // n_docs
                              AS decile
                    FROM pd)
            SELECT stratum, decile,
                   CAST(COUNT(*) AS BIGINT) AS n_docs_decile,
                   CAST(SUM(n_sh) AS BIGINT) AS n_shingles,
                   CAST(SUM(n_new) AS BIGINT) AS n_new,
                   (CAST(SUM(n_new) AS BIGINT) * 1000000)
                     // CAST(SUM(n_sh) AS BIGINT) AS novelty_ppm
            FROM dec GROUP BY stratum, decile
        """,
        "cdc_write_amplification": f"""
            {CHANGES_CTE},
            rows_ AS (
              SELECT db, tbl, CAST(COUNT(*) AS BIGINT) AS n_rows,
                CAST(COUNT(CASE WHEN op = 'I' THEN 1 END) AS BIGINT)
                  AS n_ins,
                CAST(COUNT(CASE WHEN op = 'U' THEN 1 END) AS BIGINT)
                  AS n_upd,
                CAST(COUNT(CASE WHEN op = 'D' THEN 1 END) AS BIGINT)
                  AS n_del
              FROM changes GROUP BY db, tbl),
            stmts AS (
              SELECT db, tbl,
                CAST(SUM(CASE WHEN op = 'U' THEN 2 ELSE 1 END)
                     AS BIGINT) AS n_stmts_safe
              FROM changes GROUP BY db, tbl)
            SELECT r.db, r.tbl, n_rows, n_ins, n_upd, n_del,
                   n_stmts_safe,
                   (n_stmts_safe * 1000000) // n_rows AS amp_ppm,
                   n_stmts_safe = n_ins + 2 * n_upd + n_del
                     AS amp_check
            FROM rows_ r JOIN stmts s
              ON r.db = s.db AND r.tbl = s.tbl
        """,
        "mm_frame_dedup": """
            WITH b AS (SELECT doc_id, encode(text) AS payload
                       FROM documents),
            offs AS (
              SELECT doc_id, payload,
                     unnest(generate_series(0,
                       octet_length(payload) - 1, 1000))
                       AS frame_offset
              FROM b),
            frames AS (
              SELECT doc_id, frame_offset,
                     substring(hex(payload),
                               frame_offset * 2 + 1, 16) AS frame_hex
              FROM offs),
            first_ AS (
              SELECT frame_hex,
                     MIN(doc_id * 10000000000 + frame_offset)
                       AS f_key
              FROM frames GROUP BY frame_hex),
            j AS (
              SELECT fr.doc_id,
                     (fr.doc_id * 10000000000 + fr.frame_offset)
                       = f_key AS novel
              FROM frames fr JOIN first_ USING (frame_hex))
            SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_frames,
                   CAST(COUNT(CASE WHEN novel THEN 1 END) AS BIGINT)
                     AS n_novel,
                   (CAST(COUNT(CASE WHEN novel THEN 1 END) AS BIGINT)
                    * 1000000) // CAST(COUNT(*) AS BIGINT)
                     AS novel_ppm
            FROM j GROUP BY doc_id
        """,
        "snapshot_basket_lift": """
            WITH ob AS (
              SELECT DISTINCT l_orderkey AS o, p_brand AS brand
              FROM lineitem JOIN part
                ON l_partkey = p_partkey),
            n AS (SELECT CAST(COUNT(DISTINCT o) AS BIGINT)
                    AS n_orders FROM ob),
            c AS (SELECT brand, CAST(COUNT(*) AS BIGINT) AS c
                  FROM ob GROUP BY brand),
            pairs AS (
              SELECT a.brand AS brand_a, b.brand AS brand_b,
                     CAST(COUNT(*) AS BIGINT) AS c_ab
              FROM ob a JOIN ob b
                ON a.o = b.o AND a.brand < b.brand
              GROUP BY a.brand, b.brand),
            j AS (
              SELECT brand_a, brand_b, c_ab,
                     ca.c AS c_a, cb.c AS c_b, n_orders,
                     (c_ab * 1000000) // n_orders AS support_ppm,
                     (c_ab * n_orders * 1000000) // (ca.c * cb.c)
                       AS lift_ppm
              FROM pairs
              JOIN c ca ON pairs.brand_a = ca.brand
              JOIN c cb ON pairs.brand_b = cb.brand
              CROSS JOIN n),
            r AS (SELECT *, ROW_NUMBER() OVER (
                    ORDER BY lift_ppm DESC, brand_a, brand_b)
                    AS rank
                  FROM j)
            SELECT rank, brand_a, brand_b, c_ab, c_a, c_b,
                   support_ppm, lift_ppm
            FROM r WHERE rank <= 20
        """,
        "corpus_tokenizer_fertility": f"""
            WITH tc AS (
              SELECT doc_id, source,
                     CAST(len({osql.TOKS}) AS BIGINT) AS n_ws,
                     CAST(len(regexp_extract_all(text,
                       '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT)
                       AS n_bpe
              FROM documents)
            SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
                   CAST(SUM(n_ws) AS BIGINT) AS n_words,
                   CAST(SUM(n_bpe) AS BIGINT) AS n_bpe_tokens,
                   (CAST(SUM(n_bpe) AS BIGINT) * 1000000)
                     // CAST(SUM(n_ws) AS BIGINT) AS fertility_ppm
            FROM tc GROUP BY source
        """,
        "corpus_quantile_merge": f"""
            WITH pd AS (
              SELECT source AS stratum, doc_id,
                     CAST(len({osql.TOKS}) AS BIGINT) AS v,
                     CAST(concat('0x', substring(
                         md5(CAST(doc_id AS VARCHAR)), 1, 12))
                       AS BIGINT) AS ticket
              FROM documents),
            direct AS (
              SELECT stratum, doc_id, v, ticket FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY stratum
                  ORDER BY ticket, doc_id) AS srk FROM pd) t
              WHERE srk <= 64),
            parts AS (
              SELECT stratum, doc_id, v, ticket FROM (
                SELECT *, ROW_NUMBER() OVER (
                  PARTITION BY stratum, doc_id % 2
                  ORDER BY ticket, doc_id) AS srk FROM pd) t
              WHERE srk <= 64),
            merged AS (
              SELECT stratum, doc_id, v, ticket FROM (
                SELECT *, ROW_NUMBER() OVER (PARTITION BY stratum
                  ORDER BY ticket, doc_id) AS mrk FROM parts) t
              WHERE mrk <= 64),
            ms AS (
              SELECT stratum,
                CAST(COUNT(*) AS BIGINT) AS merged_k,
                MAX(ticket) AS merged_kth_ticket,
                MAX(CASE WHEN vrk = (50 * ku + 99) // 100
                    THEN v END) AS merged_p50
              FROM (SELECT *, ROW_NUMBER() OVER (
                      PARTITION BY stratum ORDER BY v, doc_id)
                      AS vrk,
                    COUNT(*) OVER (PARTITION BY stratum) AS ku
                    FROM merged) t
              GROUP BY stratum),
            ds AS (
              SELECT stratum,
                CAST(COUNT(*) AS BIGINT) AS direct_k,
                MAX(ticket) AS direct_kth_ticket,
                MAX(CASE WHEN vrk = (50 * ku + 99) // 100
                    THEN v END) AS direct_p50
              FROM (SELECT *, ROW_NUMBER() OVER (
                      PARTITION BY stratum ORDER BY v, doc_id)
                      AS vrk,
                    COUNT(*) OVER (PARTITION BY stratum) AS ku
                    FROM direct) t
              GROUP BY stratum)
            SELECT ms.stratum, merged_k, merged_kth_ticket,
                   merged_p50, direct_k, direct_kth_ticket,
                   direct_p50,
                   merged_kth_ticket = direct_kth_ticket
                     AND merged_k = direct_k
                     AND merged_p50 = direct_p50 AS merge_exact
            FROM ms JOIN ds ON ms.stratum = ds.stratum
        """,
        "dedup_idempotence": """
            WITH h AS (SELECT doc_id, md5(text) AS ch, source, text
                       FROM documents),
            cl AS (SELECT ch, MIN(doc_id) AS canonical_id
                   FROM h GROUP BY ch),
            first_ AS (
              SELECT h.doc_id, h.source, h.text
              FROM h JOIN cl ON h.ch = cl.ch
              WHERE h.doc_id = cl.canonical_id),
            h2 AS (SELECT doc_id, md5(text) AS ch2, source
                   FROM first_),
            cl2 AS (SELECT ch2, MIN(doc_id) AS canonical_id2,
                           CAST(COUNT(*) AS BIGINT) AS cs2
                    FROM h2 GROUP BY ch2),
            j AS (SELECT h2.doc_id, h2.source, canonical_id2, cs2
                  FROM h2 JOIN cl2 USING (ch2))
            SELECT source,
                   CAST(COUNT(*) AS BIGINT) AS n_canonicals,
                   CAST(COUNT(CASE WHEN cs2 = 1 THEN 1 END)
                        AS BIGINT) AS n_singletons,
                   CAST(COUNT(CASE WHEN doc_id = canonical_id2
                              THEN 1 END) AS BIGINT)
                     AS n_self_canonical,
                   COUNT(*) = COUNT(CASE WHEN cs2 = 1 THEN 1 END)
                     AND COUNT(*) = COUNT(CASE WHEN doc_id
                                          = canonical_id2 THEN 1 END)
                     AS idempotent
            FROM j GROUP BY source
        """,
    }
