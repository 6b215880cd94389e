"""DDL classification, batch manager, loopback, declarative pipeline."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import make_changes
from tidb_binlog_spark.operators import batching, ddl
from tidb_binlog_spark.plans.pipeline import ReplicationConfig, build_pipeline


def test_ddl_classification_and_skip(spark):
    ddls = spark.createDataFrame([
        ("db0", "CREATE TABLE t (a INT)"),
        ("db0", "ALTER TABLE t ADD COLUMN c INT"),
        ("db0", "CREATE PLACEMENT POLICY p FOLLOWERS=4"),
        ("db0", "TRUNCATE TABLE t"),
    ], "db string, ddl_sql string")
    out = {r["ddl_sql"]: (r["ddl_kind"], r["should_skip"], r["apply_sql"])
           for r in ddl.prep_for_apply(ddls).collect()}
    assert out["CREATE TABLE t (a INT)"][0] == "create_table"
    assert out["ALTER TABLE t ADD COLUMN c INT"][0] == "add_column"
    assert out["CREATE PLACEMENT POLICY p FOLLOWERS=4"][1] is True
    assert out["CREATE PLACEMENT POLICY p FOLLOWERS=4"][2] is None
    assert out["TRUNCATE TABLE t"][2] == "USE `db0`; TRUNCATE TABLE t"


def test_txn_batches_never_split_a_txn(spark):
    # 3 txns of 2 DMLs each, cap 4 -> txns 1+2 in batch 0, txn 3 in batch 1
    rows = []
    for i, cts in enumerate([10, 10, 20, 20, 30, 30]):
        rows.append((i, "s0", cts, "I", i, i % 2))
    ch = make_changes(spark, rows)
    got = {r["commit_ts"]: r["batch_no"]
           for r in batching.assign_txn_batches(ch, max_dmls=4).collect()}
    assert got == {10: 0, 20: 0, 30: 1}


def test_loopback_filter_drops_marked_txn(spark):
    ch = make_changes(spark, [(1, "s0", 10, "I", 1), (2, "s0", 10, "I", 2),
                              (3, "s0", 20, "I", 3)])
    marked = ch.withColumn(
        "db", F.when(F.col("arrival_seq") == 1, "retl").otherwise(F.col("db"))
    ).withColumn(
        "tbl", F.when(F.col("arrival_seq") == 1, "_drainer_repl_mark")
                .otherwise(F.col("tbl")))
    kept = batching.loopback_filter(marked)
    assert sorted(r["arrival_seq"] for r in kept.collect()) == [3]


def test_heartbeat_checkpoint_advances_past_applied(spark):
    ch = make_changes(spark, [(1, "s0", 10, "I", 1), (2, "s0", 99, "I", 2)]) \
        .withColumn("op", F.when(F.col("arrival_seq") == 2, "FAKE")
                           .otherwise(F.col("op")))
    out = batching.heartbeat_progress(ch).collect()[0]
    assert out["n_applied"] == 1 and out["n_heartbeats"] == 1
    assert out["checkpoint_ts"] == 99 and out["last_applied_ts"] == 10


def test_declarative_pipeline_composes(spark):
    ch = make_changes(spark, [
        (1, "s0", 10, "I", 1),          # kept, compacted away by (3)
        (2, "s0", 20, "I", 2, 0, 5.0),  # dropped by ignore_commit_ts
        (3, "s0", 30, "U", 1, 0, 7.0),  # kept, final image of pk 1
        (4, "s0", 25, "D", 3),          # disorder -> dropped by order gate
    ])
    cfg = ReplicationConfig(ignore_commit_ts=[20],
                            route_rules=[("db?", "*", "dwh", "t_out")])
    out = build_pipeline(ch, cfg)
    got = {r["pk"]: (r["op"], r["val"], r["target_tbl"]) for r in out.collect()}
    assert got == {1: ("U", 7.0, "t_out")}


def test_pipeline_schema_level_rules_and_sync_ddl(spark):
    """drainer schema-level config semantics: ignore-schemas defaults
    to the system schemas (case-insensitive, config.go:246),
    replicate-do-db allows whole schemas (config.go:108), and
    sync-ddl=false drops DDL events (syncer.go:514)."""
    import pytest as _pytest

    from tidb_binlog_spark.plans.pipeline import ReplicationConfig as RC
    from tidb_binlog_spark.plans.pipeline import build_pipeline as bp

    ch = make_changes(spark, [(1, "s0", 10, "I", 1), (2, "s0", 20, "I", 2),
                              (3, "s0", 30, "I", 3), (4, "s0", 40, "I", 4)])
    ch = (ch.withColumn(
            "db", F.when(F.col("pk") == 1, "MySQL")      # case-insensitive
                   .when(F.col("pk") == 2, "information_schema")
                   .otherwise(F.col("db")))
            .withColumn("op", F.when(F.col("pk") == 4, "DDL")
                               .otherwise(F.col("op"))))

    # default ignore-schemas: system-schema rows dropped, rest kept
    got = {r["pk"] for r in bp(ch, RC(compact=False)).collect()}
    assert got == {3, 4}

    # sync-ddl=false additionally drops the DDL row
    got = {r["pk"] for r in bp(ch, RC(compact=False,
                                      sync_ddl=False)).collect()}
    assert got == {3}

    # replicate-do-db allowlists a whole schema (fixture db is db0..3)
    got = {r["pk"] for r in bp(ch, RC(compact=False, do_dbs=["~^db.*"],
                                      sync_ddl=True)).collect()}
    assert got == {3, 4}
    # an operator override narrows the ignore list
    got = {r["pk"] for r in bp(
        ch, RC(compact=False, ignore_schemas=("mysql",))).collect()}
    assert got == {2, 3, 4}

    # config.go:402: empty schema name rejected at construction
    with _pytest.raises(ValueError, match="empty schema name"):
        RC(ignore_schemas=("mysql", ""))


def test_config_loader_schema_level_keys(tmp_path):
    from tidb_binlog_spark.plans import config as cfgmod
    p = tmp_path / "drainer.toml"
    p.write_text("""
[filter]
ignore-schemas = "INFORMATION_SCHEMA,PERFORMANCE_SCHEMA,mysql,test"
replicate-do-db = ["db0", "~^db[12]$"]

[sync]
sync-ddl = false
""")
    cfg = cfgmod.load_config(str(p))
    assert cfg.ignore_schemas == ("INFORMATION_SCHEMA",
                                  "PERFORMANCE_SCHEMA", "mysql", "test")
    assert cfg.do_dbs == ["db0", "~^db[12]$"]
    assert not cfg.sync_ddl


def test_config_operational_knobs_drive_sink_stage(spark, tmp_path):
    """A full drainer.toml drives the sink stage too: txn-batch bounds
    the apply batches, worker-count fans out the appliers, db-type
    picks the SQL dialect (drainer/config.go:242-248 defaults)."""
    from tidb_binlog_spark.operators import batching
    from tidb_binlog_spark.plans import config as cfgmod
    from tidb_binlog_spark.sinks import sqlgen

    p = tmp_path / "drainer.toml"
    p.write_text("""
[sync]
txn-batch = 3
worker-count = 5
db-type = "oracle"
channel-id = 42
""")
    cfg = cfgmod.load_config(str(p))
    assert (cfg.txn_batch, cfg.worker_count, cfg.db_type,
            cfg.channel_id) == (3, 5, "oracle", 42)

    ch = make_changes(spark, [(i, "s0", 10 * i, "I", i)
                              for i in range(1, 10)])
    batches = batching.assign_txn_batches(ch, max_dmls=cfg.txn_batch)
    per_batch = {}
    for r in batches.select("commit_ts", "batch_no").collect():
        per_batch.setdefault(r["batch_no"], 0)
        per_batch[r["batch_no"]] += 1
    assert max(per_batch.values()) <= cfg.txn_batch

    sql = sqlgen.generate_sql(ch, dialect=cfg.db_type)
    assert all(":1" in r["sql_text"] or "INSERT" in r["sql_text"]
               for r in sql.limit(3).collect())

    # worker fan-out: causality-hash into cfg.worker_count workers
    from pyspark.sql import functions as F2
    workers = (ch.withColumn(
        "worker_id", F2.abs(F2.xxhash64("pk")) % cfg.worker_count)
        .select("worker_id").distinct().count())
    assert workers <= cfg.worker_count


def test_event_filter_case_sensitivity(spark):
    """config.go:128 case-sensitive switches the v2 rule matching;
    the allow/block lists stay case-insensitive regardless."""
    from tidb_binlog_spark.operators import filters as flt

    ch = make_changes(spark, [(1, "s0", 10, "D", 1),
                              (2, "s0", 20, "D", 2)])
    ch = ch.withColumn("db", F.when(F.col("pk") == 1, "DB0")
                              .otherwise("db0"))

    # insensitive (default): both rows match the rule and drop
    out = ch.filter(flt.event_kinds_predicate([("db0", "~.*", ["D"])]))
    assert out.count() == 0
    # sensitive: only the exact-case row drops
    out = ch.filter(flt.event_kinds_predicate([("db0", "~.*", ["D"])],
                                              case_sensitive=True))
    assert [r["pk"] for r in out.collect()] == [1]
    # allow/block stays insensitive even in sensitive deployments
    kept = ch.filter(flt.allow_block_predicate(None, [("db0", "")]))
    assert kept.count() == 0


def test_cache_skip_requires_cache_clause_not_identifier(spark):
    """ALTER TABLE t CACHE is skipped (drainer/schema.go:333-353), but
    an identifier merely NAMED cache at statement end must not be."""
    from tidb_binlog_spark.operators import ddl as ddlmod
    rows = [("db0", "ALTER TABLE t CACHE"),
            ("db0", "ALTER TABLE `my t` NOCACHE"),
            ("db0", "ALTER TABLE `my db`.`my t` CACHE"),
            ("db0", "ALTER TABLE db1.t2 NOCACHE"),
            ("db0", "ALTER TABLE t RENAME COLUMN a TO cache")]
    df = spark.createDataFrame(rows, "db string, ddl_sql string")
    got = {r["ddl_sql"]: r["should_skip"]
           for r in ddlmod.classify_ddl(df).collect()}
    assert got["ALTER TABLE t CACHE"] is True
    assert got["ALTER TABLE `my t` NOCACHE"] is True
    assert got["ALTER TABLE `my db`.`my t` CACHE"] is True
    assert got["ALTER TABLE db1.t2 NOCACHE"] is True
    assert got["ALTER TABLE t RENAME COLUMN a TO cache"] is False
