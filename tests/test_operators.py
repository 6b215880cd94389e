"""Operator-level unit tests mirroring the reference's per-package
test strategy (SURVEY §5): merge rules (pkg/loader/merge_test.go),
ordering/disorder (drainer/merge_test.go), filters
(pkg/filter/filter_test.go), causality (pkg/loader/causality_test.go).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import make_changes
from tidb_binlog_spark.operators import (causality, compaction, filters,
                                         graph, ordering, pc_match, router,
                                         safe_mode)
from tools.common import shuffle_partitions_for


def rows(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


# ---- compaction (pkg/loader/merge.go rule table) ---------------------------

@pytest.mark.parametrize("events, want", [
    # insert + update -> insert with the last new image, no old image
    ([(1, 10, "I", 1, {"v": "1"}, None),
      (2, 20, "U", 1, {"v": "2"}, {"v": "1"})], ("I", "2", None)),
    # update + delete -> delete
    ([(1, 10, "U", 1, {"v": "2"}, {"v": "1"}),
      (2, 20, "D", 1, {"v": "2"}, None)], ("D", "2", None)),
    # delete + insert -> insert
    ([(1, 10, "D", 1, {"v": "1"}, None),
      (2, 20, "I", 1, {"v": "3"}, None)], ("I", "3", None)),
    # update + update -> update (first old image, last new image)
    ([(1, 10, "U", 1, {"v": "5"}, {"v": "4"}),
      (2, 20, "U", 1, {"v": "9"}, {"v": "5"})], ("U", "9", "4")),
], ids=["I+U->I", "U+D->D", "D+I->I", "U+U->U"])
def test_compact_wide_merge_rule(spark, events, want):
    out = compaction.compact_wide(_wide_rows(spark, events)).collect()
    assert [(r["merged_op"], r["final_val"], r["first_old_val"])
            for r in out] == [want]


def test_apply_snapshot_drops_deleted_keys(spark):
    ch = make_changes(spark, [
        (1, "s0", 10, "I", 1), (2, "s0", 20, "D", 1),   # deleted
        (3, "s0", 30, "I", 2), (4, "s0", 40, "U", 2),   # survives
    ])
    snap = compaction.apply_snapshot(ch)
    assert rows(snap, "pk", "op") == [(2, "U")]


# ---- ordering / k-way merge (drainer/merge.go) -----------------------------

def test_disorder_and_duplicate_classification(spark):
    ch = make_changes(spark, [
        (1, "s0", 10, "I", 1), (2, "s0", 30, "I", 2),
        (3, "s0", 20, "I", 3),            # < running max 30 -> disorder
        (4, "s1", 30, "I", 4),            # ts 30 already seen -> duplicate
    ])
    tagged = ordering.classify_disorder(ch)
    got = {r["arrival_seq"]: r["order_status"] for r in tagged.collect()}
    assert got == {1: "ok", 2: "ok", 3: "disorder", 4: "duplicate"}


def test_kway_merge_gates_at_min_source_watermark(spark):
    ch = make_changes(spark, [
        (1, "s0", 10, "I", 1), (2, "s0", 50, "I", 2),
        (3, "s1", 20, "I", 3),            # s1 max = 20 -> watermark 20
        (4, "s2", 60, "I", 4),
    ])
    merged = ordering.kway_merge(ch)
    assert rows(merged, "commit_ts") == [(10,), (20,)]


def test_checkpoint_pinned_by_pending_prewrite(spark):
    ch = make_changes(spark, [(1, "s0", 100, "I", 1), (2, "s1", 90, "I", 2)])
    pending = spark.createDataFrame([(50,)], "start_ts long")
    out = ordering.checkpoint_ts(ch, pending).collect()[0]
    assert out["checkpoint_ts"] == 49   # can't pass earliest pending P


# ---- filters (pkg/filter/filter.go) ----------------------------------------

def test_allow_then_block(spark):
    ch = make_changes(spark, [(1, "s0", 10, "I", 1)])
    ch = ch.withColumn("db", F.lit("PROD")).withColumn("tbl", F.lit("users"))
    kept = ch.filter(filters.allow_block_predicate([("prod", "")],
                                                   [("prod", "users")]))
    assert kept.count() == 0          # allowlisted then blocklisted
    kept = ch.filter(filters.allow_block_predicate([("prod", "")],
                                                   [("other", "")]))
    assert kept.count() == 1          # case-insensitive allow match


def test_regex_rule(spark):
    ch = make_changes(spark, [(1, "s0", 10, "I", 1)])
    ch = ch.withColumn("db", F.lit("test_ignore_7"))
    keep = filters.allow_block_predicate(None, [("~^test_ignore_.*", "")])
    assert ch.filter(keep).count() == 0


def test_event_kind_rule(spark):
    ch = make_changes(spark, [(1, "s0", 10, "D", 1), (2, "s0", 20, "I", 1)])
    kept = ch.filter(filters.event_kinds_predicate([("db0", "t", ["D"])]))
    assert rows(kept, "op") == [("I",)]


# ---- router ----------------------------------------------------------------

def test_wildcard_routing_first_rule_wins(spark):
    ch = make_changes(spark, [(1, "s0", 10, "I", 1)])
    db, tbl = router.route_columns([
        ("db?", "t", "dwh", "t1"),
        ("*", "*", "dwh", "fallback"),
    ])
    routed = ch.select(db.alias("target_db"),
                       tbl.alias("target_tbl")).collect()[0]
    assert (routed["target_db"], routed["target_tbl"]) == ("dwh", "t1")


def test_unrouted_keeps_names(spark):
    ch = make_changes(spark, [(1, "s0", 10, "I", 1)])
    db, tbl = router.route_columns([("nope", "*", "x", "y")])
    routed = ch.select(db.alias("target_db"),
                       tbl.alias("target_tbl")).collect()[0]
    assert (routed["target_db"], routed["target_tbl"]) == ("db0", "t")


# ---- P/C matching (pump/storage/sorter.go) ---------------------------------

def test_pc_match_rollback_and_pending(spark):
    p = spark.createDataFrame([(1, 10), (2, 20), (3, 30)],
                              "start_ts long, pk long")
    c = spark.createDataFrame([(1, 15, False), (2, 25, True)],
                              "start_ts long, commit_ts long, is_rollback boolean")
    assert rows(pc_match.match_pc(p, c), "start_ts", "commit_ts") == [(1, 15)]
    assert rows(pc_match.rolled_back(p, c), "start_ts") == [(2,)]
    assert rows(pc_match.unmatched_prewrites(p, c), "start_ts") == [(3,)]


# ---- safe mode / PK-change split (pkg/loader/executor.go, merge.go) --------

def test_pk_change_split(spark):
    ch = make_changes(spark, [(1, "s0", 10, "U", 5)]) \
        .withColumn("old_pk", F.lit(3).cast("long"))
    out = safe_mode.split_pk_change(ch)
    assert rows(out, "op", "pk", "sub_seq") == [("D", 3, 0), ("I", 5, 1)]


def _safe_mode_union_form(changes):
    """The rewrite's former shape, one filtered branch per output op:
    the reference for the one-pass form's rows and schema."""
    inserts = (changes.filter(F.col("op") == "I")
               .withColumn("op", F.lit("R"))
               .withColumn("sub_seq", F.lit(0)))
    deletes = (changes.filter(F.col("op") == "D")
               .withColumn("sub_seq", F.lit(0)))
    upd = changes.filter(F.col("op") == "U")
    upd_delete = upd.withColumn("op", F.lit("D")).withColumn("sub_seq", F.lit(0))
    upd_replace = upd.withColumn("op", F.lit("R")).withColumn("sub_seq", F.lit(1))
    return (inserts.unionByName(deletes)
            .unionByName(upd_delete).unionByName(upd_replace))


def test_safe_mode_update_becomes_delete_plus_replace(spark):
    ch = make_changes(spark, [(1, "s0", 10, "U", 5)])
    out = safe_mode.safe_mode_rewrite(ch)
    assert rows(out, "op", "sub_seq") == [("D", 0), ("R", 1)]

    # full contract: I -> R, D -> D, U -> D + R; FAKE and DDL rows
    # produce nothing; every other column passes through unchanged
    ch = make_changes(spark, [(1, "s0", 10, "I", 1), (2, "s0", 20, "U", 1),
                              (3, "s0", 30, "D", 1), (4, "s0", 40, "FAKE", 0),
                              (5, "s0", 50, "DDL", 0)])
    out = safe_mode.safe_mode_rewrite(ch)
    assert rows(out, "commit_ts", "op", "sub_seq", "pk") == [
        (10, "R", 0, 1), (20, "D", 0, 1), (20, "R", 1, 1), (30, "D", 0, 1)]
    want = _safe_mode_union_form(ch)
    assert out.schema == want.schema
    assert out.columns[-1] == "sub_seq"
    assert sorted(out.collect()) == sorted(want.collect())

    # an input that already carries sub_seq: replaced in place, with
    # the same column order and types as the union form
    pre = ch.withColumn("sub_seq", F.lit(7)).select(
        "commit_ts", "sub_seq", *[c for c in ch.columns if c != "commit_ts"])
    out = safe_mode.safe_mode_rewrite(pre)
    assert rows(out, "commit_ts", "op", "sub_seq") == [
        (10, "R", 0), (20, "D", 0), (20, "R", 1), (30, "D", 0)]
    want = _safe_mode_union_form(pre)
    assert out.columns[:2] == ["commit_ts", "sub_seq"]
    assert out.schema == want.schema
    assert sorted(out.collect()) == sorted(want.collect())


# ---- causality (pkg/loader/causality.go) -----------------------------------

def test_causality_groups_connected_components(spark):
    # txns 1-2 share key a; 2-3 share key b; 4 isolated
    tk = spark.createDataFrame(
        [(1, "a"), (2, "a"), (2, "b"), (3, "b"), (4, "c")],
        "txn_id long, key string")
    got = dict(rows(causality.causality_groups(tk), "txn_id", "group_id"))
    assert got == {1: 1, 2: 1, 3: 1, 4: 4}


def test_causality_long_chain_converges(spark):
    # 40-txn chain (txn i shares a key with txn i+1): deep component,
    # must converge to one group (min id 0), not silently split
    edges = []
    for i in range(40):
        edges.append((i, f"k{i}"))
        edges.append((i + 1, f"k{i}"))
    tk = spark.createDataFrame(edges, "txn_id long, key string")
    got = dict(rows(causality.causality_groups(tk), "txn_id", "group_id"))
    assert set(got.values()) == {0}


def test_causality_local_and_distributed_paths_agree(spark, monkeypatch):
    # The r10 adaptive gate (driver fixpoint under LOCAL_CC_MAX_EDGES,
    # min-propagation loop above it) must produce the identical
    # min-txn_id labeling. Seeded random graph: stars + a chain + an
    # isolated txn + a null-key txn (excluded by both paths).
    import random
    rng = random.Random(7)
    edges = [(t, f"k{rng.randint(0, 120)}")
             for t in range(300) for _ in range(rng.randint(1, 3))]
    edges += [(500 + i, f"c{i}") for i in range(20)]
    edges += [(500 + i, f"c{i + 1}") for i in range(20)]
    edges += [(900, "solo"), (901, None)]
    tk = spark.createDataFrame(edges, "txn_id long, key string")
    local = sorted(rows(causality.causality_groups(tk),
                        "txn_id", "group_id"))
    monkeypatch.setattr(causality, "LOCAL_CC_MAX_EDGES", -1)
    dist = sorted(rows(causality.causality_groups(tk),
                       "txn_id", "group_id"))
    assert local == dist
    labeled = {t for t, _ in local}
    assert 900 in labeled and 901 not in labeled


def test_causality_distributed_path_components(spark, monkeypatch):
    # keep explicit coverage of the distributed loop now that small
    # graphs default to the driver union-find
    tk = spark.createDataFrame(
        [(1, "a"), (2, "a"), (2, "b"), (3, "b"), (4, "c")],
        "txn_id long, key string")
    parts = spark.conf.get("spark.sql.shuffle.partitions")
    monkeypatch.setattr(causality, "LOCAL_CC_MAX_EDGES", -1)
    got = dict(rows(causality.causality_groups(tk), "txn_id", "group_id"))
    assert got == {1: 1, 2: 1, 3: 1, 4: 4}
    # the fixpoint's scoped shuffle sizing is undone on return
    assert spark.conf.get("spark.sql.shuffle.partitions") == parts


_CC = causality._cc_shuffle_partitions
_PR = graph._pr_shuffle_partitions


@pytest.mark.parametrize("recipe, n, want", [
    # causality fixpoint and the tools' per-dir rule: rows/1M, [32, 1024]
    (_CC, 0, 32), (_CC, 32_000_000, 32), (_CC, 32_000_001, 64),
    (_CC, 512_000_000, 512), (_CC, 512_000_001, 1024), (_CC, 2**40, 1024),
    (shuffle_partitions_for, 0, 32),
    (shuffle_partitions_for, 32_000_001, 64),
    (shuffle_partitions_for, 2**40, 1024),
    # PageRank rounds: edges/500k, [4, 1024]
    (_PR, 0, 4), (_PR, 2_000_000, 4), (_PR, 2_000_001, 8),
    (_PR, 256_000_000, 512), (_PR, 256_000_001, 1024), (_PR, 2**40, 1024),
])
def test_shuffle_partition_recipes(recipe, n, want):
    assert recipe(n) == want


def test_causality_distributed_empty_and_null_inputs(spark, monkeypatch):
    # Empty micro-batch / all-null keys on the distributed path
    # (LOCAL_CC_MAX_EDGES=-1) must return an empty frame, not burn
    # CC_MAX_ITER rounds and raise; null txn_ids must drop on BOTH paths
    # (toPandas would otherwise surface them as NaN labels locally).
    empty = spark.createDataFrame([], "txn_id long, key string")
    monkeypatch.setattr(causality, "LOCAL_CC_MAX_EDGES", -1)
    assert causality.causality_groups(empty).count() == 0
    nulls = spark.createDataFrame(
        [(None, "k1"), (1, None), (1, "k2"), (2, "k2"), (None, None)],
        "txn_id long, key string")
    for thr in (-1, 10):
        monkeypatch.setattr(causality, "LOCAL_CC_MAX_EDGES", thr)
        got = dict(rows(causality.causality_groups(nulls),
                        "txn_id", "group_id"))
        assert got == {1: 1, 2: 1}


def test_causality_distributed_deep_chain_pointer_jump_fallback(
        spark, monkeypatch):
    # A component whose diameter exceeds the plain-propagation budget
    # (120-txn chain, one hop per round) must still converge: from
    # iteration 16 onward the loop adds label-of-label shortcutting,
    # giving O(log d) rounds instead of raising at CC_MAX_ITER.
    edges = []
    for i in range(120):
        edges.append((10_000 + i, f"c{i}"))
        edges.append((10_000 + i, f"c{i + 1}"))
    tk = spark.createDataFrame(edges, "txn_id long, key string")
    monkeypatch.setattr(causality, "LOCAL_CC_MAX_EDGES", -1)
    got = dict(rows(causality.causality_groups(tk), "txn_id", "group_id"))
    assert set(got.values()) == {10_000} and len(got) == 120


def test_causality_max_edges_bound_skips_count_same_labels(
        spark, monkeypatch):
    """A caller-known edge bound at or below the local threshold
    collects the edges directly (the counted gate never runs) and
    yields the counted path's labels and the union-find oracle's; a
    bound above the threshold still takes the counted path."""
    import random
    rng = random.Random(11)
    edges = [(t, f"k{rng.randint(0, 80)}")
             for t in range(200) for _ in range(rng.randint(1, 3))]
    edges += [(700, "solo"), (701, None), (None, "k1")]
    tk = spark.createDataFrame(edges, "txn_id long, key string")
    counted = sorted(rows(causality.causality_groups(tk),
                          "txn_id", "group_id"))
    oracle = causality._local_components(
        [(t, k) for t, k in set(edges) if t is not None and k is not None])
    assert counted == sorted(zip(oracle["txn_id"], oracle["group_id"]))

    gated = []
    orig = causality._causality_groups_on_edges

    def spy(*args, **kwargs):
        gated.append(1)
        return orig(*args, **kwargs)
    monkeypatch.setattr(causality, "_causality_groups_on_edges", spy)
    bound = len(edges)
    monkeypatch.setattr(causality, "LOCAL_CC_MAX_EDGES", bound)
    direct = sorted(rows(causality.causality_groups(
        tk, max_edges=bound), "txn_id", "group_id"))
    assert direct == counted and gated == []
    monkeypatch.setattr(causality, "LOCAL_CC_MAX_EDGES", bound - 1)
    above = sorted(rows(causality.causality_groups(
        tk, max_edges=bound), "txn_id", "group_id"))
    assert above == counted and gated == [1]


def test_conflict_free_partitions_keyless_txns_spread(spark):
    from tests.conftest import make_changes
    ch = make_changes(spark, [(i, "s0", 100 + i, "I", i) for i in range(8)])
    # only txn 100 has a causality key; the rest are keyless singletons
    tk = spark.createDataFrame([(100, "a")], "txn_id long, key string")
    out = causality.conflict_free_partitions(ch, tk, num_workers=4)
    rows_ = out.select("commit_ts", "group_id", "worker_id").collect()
    groups = {r["commit_ts"]: r["group_id"] for r in rows_}
    assert groups[100] == 100
    # keyless txns get their own group (not NULL), so workers spread
    assert all(g is not None for g in groups.values())
    assert len({r["worker_id"] for r in rows_}) > 1


# -- DDL-stream catalog replay (drainer/schema.go:360-561) -------------------

def _replayed():
    from tidb_binlog_spark.operators.schema_evolution import SchemaRegistry
    reg = SchemaRegistry()
    reg.apply_ddl_events([
        (10, "CREATE TABLE t (a INT DEFAULT 1, b VARCHAR DEFAULT 'x')"),
        (20, "ALTER TABLE t ADD COLUMN c VARCHAR DEFAULT 'z'"),
        (30, "ALTER TABLE t DROP COLUMN b"),
        (40, "RENAME TABLE t TO t2"),
        (50, "TRUNCATE TABLE t2"),
    ])
    return reg


def test_ddl_replay_builds_versions():
    reg = _replayed()
    assert reg.columns_at("t2", 1) == {"a": "1", "b": "x"}
    assert reg.columns_at("t2", 2) == {"a": "1", "b": "x", "c": "z"}
    assert reg.columns_at("t2", 3) == {"a": "1", "c": "z"}
    assert reg.latest_version("t2") == 5
    assert reg.resolve_name("t") == "t2"
    assert reg.truncate_ts["t2"] == 50
    assert reg.col_added_at["t2"] == {"a": 1, "b": 1, "c": 2}


def test_ddl_replay_rename_mid_stream_keeps_history():
    from tidb_binlog_spark.operators.schema_evolution import SchemaRegistry
    reg = SchemaRegistry()
    reg.apply_ddl_events([
        (10, "CREATE TABLE t (a INT DEFAULT 0)"),
        (20, "RENAME TABLE t TO u"),
        (30, "ALTER TABLE u ADD COLUMN b INT DEFAULT 7"),
        (40, "RENAME TABLE u TO w"),
    ])
    # transitive rename: both old names resolve to the final one
    assert reg.resolve_name("t") == "w"
    assert reg.resolve_name("u") == "w"
    assert reg.columns_at("w", reg.latest_version("w")) == {"a": "0", "b": "7"}


def test_ddl_replay_retains_last_two_versions():
    from tidb_binlog_spark.operators.schema_evolution import SchemaRegistry
    reg = SchemaRegistry()
    reg.apply_ddl_events([
        (10, "CREATE TABLE t (a INT)"),
        (20, "ALTER TABLE t ADD COLUMN b INT"),
        (30, "ALTER TABLE t ADD COLUMN c INT"),
        (40, "ALTER TABLE t ADD COLUMN d INT"),
    ], retain=2)
    # schema.go:211-234: only the last two versions stay resolvable
    assert sorted(reg._versions["t"]) == [3, 4]
    with pytest.raises(KeyError):
        reg.columns_at("t", 1)


def test_ddl_replay_unparseable_and_unknown_table_skipped():
    from tidb_binlog_spark.operators.schema_evolution import SchemaRegistry
    reg = SchemaRegistry()
    log = reg.apply_ddl_events([
        (10, "CREATE PLACEMENT POLICY p FOLLOWERS=4"),
        (20, "ALTER TABLE missing ADD COLUMN x INT"),
        (30, "CREATE TABLE t (a INT)"),
    ])
    assert [e["applied"] for e in log] == [False, False, True]
    assert reg.latest_version("t") == 1


def test_decode_with_replay_truncate_and_backfill(spark):
    from tidb_binlog_spark.operators.schema_evolution import SchemaRegistry
    from tidb_binlog_spark.operators import schema_evolution as se
    reg = SchemaRegistry()
    reg.apply_ddl_events([
        (10, "CREATE TABLE t (k VARCHAR DEFAULT '0')"),
        (25, "TRUNCATE TABLE t"),
        (35, "ALTER TABLE t ADD COLUMN tag VARCHAR DEFAULT 'none'"),
        (45, "RENAME TABLE t TO t2"),
    ])
    rows = [(1, "s0", 20, "I", 1), (2, "s0", 30, "I", 2), (3, "s0", 40, "I", 3)]
    ch = make_changes(spark, rows).withColumn(
        "row_json", F.lit('{"k": "9", "tag": "real"}'))
    out = se.decode_with_replay(ch, reg, "t", spark)
    got = {r["arrival_seq"]: (r["active_version"], r["target_tbl"],
                              r["k"], r["tag"])
           for r in out.collect()}
    # row at ts 20 is pre-truncate -> dropped; ts 30 decodes at v2 (no
    # tag column yet -> default); ts 40 decodes at v3 (tag from json)
    assert 1 not in got
    assert got[2] == (2, "t2", "9", "none")
    assert got[3] == (3, "t2", "9", "real")


# -- map-model compaction + UK-preferring statement build --------------------

def _wide_rows(spark, rows):
    """rows: (arrival_seq, commit_ts, op, pk, values{}, old_values{})"""
    from pyspark.sql import types as T
    schema = T.StructType([
        T.StructField("arrival_seq", T.LongType()),
        T.StructField("commit_ts", T.LongType()),
        T.StructField("seq", T.IntegerType()),
        T.StructField("op", T.StringType()),
        T.StructField("db", T.StringType()),
        T.StructField("tbl", T.StringType()),
        T.StructField("pk", T.LongType()),
        T.StructField("values", T.MapType(T.StringType(), T.StringType())),
        T.StructField("old_values", T.MapType(T.StringType(), T.StringType())),
    ])
    full = [(a, c, 0, op, "db0", "t", pk, v, ov)
            for a, c, op, pk, v, ov in rows]
    return spark.createDataFrame(full, schema)


def test_compact_last_image_picks_the_rewritten_update_r_half(spark):
    """safe_mode_rewrite turns each U into D (sub_seq 0) and R
    (sub_seq 1) with the same (commit_ts, seq, arrival_seq): the last
    image must be the R half, for every key — in the window compaction
    and in the batch path's merge alike."""
    from tidb_binlog_spark.operators import safe_mode
    ch = safe_mode.safe_mode_rewrite(make_changes(
        spark, [(i, "s0", 10 + i, "U", i, 0, float(i)) for i in range(40)]))
    # odd keys meet their R half first, so no input order can stand in
    # for sub_seq
    ch = ch.orderBy("pk", F.when(F.col("pk") % 2 == 1, -F.col("sub_seq"))
                           .otherwise(F.col("sub_seq"))).coalesce(1)
    for got in (compaction.compact_last_image(ch),
                compaction.merge_by_pk(ch, ("pk", "val"))):
        assert sorted((r["pk"], r["op"]) for r in got.collect()) == [
            (i, "R") for i in range(40)]


def test_compact_wide_first_old_last_new(spark):
    from tidb_binlog_spark.operators import compaction
    ch = _wide_rows(spark, [
        (1, 10, "U", 1, {"v": "b"}, {"v": "a"}),
        (2, 20, "U", 1, {"v": "c"}, {"v": "b"}),
        (3, 30, "U", 1, {"v": "d"}, {"v": "c"}),
    ])
    out = compaction.compact_wide(ch).collect()
    row = {r["col"]: r for r in out}["v"]
    # update+update+update -> update(first old image, last new image)
    assert row["merged_op"] == "U"
    assert row["final_val"] == "d"
    assert row["first_old_val"] == "a"


def test_compact_wide_insert_update_clears_old(spark):
    from tidb_binlog_spark.operators import compaction
    ch = _wide_rows(spark, [
        (1, 10, "I", 1, {"v": "x"}, None),
        (2, 20, "U", 1, {"v": "y"}, {"v": "x"}),
    ])
    row = compaction.compact_wide(ch).collect()[0]
    # insert+update -> insert with the last new image, OldValues nil
    assert row["merged_op"] == "I"
    assert row["final_val"] == "y"
    assert row["first_old_val"] is None


def test_compact_wide_delete_resets_lineage(spark):
    from tidb_binlog_spark.operators import compaction
    ch = _wide_rows(spark, [
        (1, 10, "U", 1, {"v": "b"}, {"v": "a"}),
        (2, 20, "D", 1, {"v": "b"}, None),
        (3, 30, "U", 1, {"v": "c"}, {"v": "z"}),
    ])
    row = compaction.compact_wide(ch).collect()[0]
    # the old image comes from the first update AFTER the delete
    assert row["merged_op"] == "U"
    assert row["final_val"] == "c"
    assert row["first_old_val"] == "z"


def test_generate_sql_wide_uk_fallback_chain(spark):
    from tidb_binlog_spark.sinks import sqlgen
    info = sqlgen.TableInfo(
        columns=("pk", "val"),
        unique_keys=(("PRIMARY", ("pk",)), ("uk_val", ("val",))))
    ch = _wide_rows(spark, [
        # old pk present -> PRIMARY wins
        (1, 10, "U", 1, {"pk": "1", "val": "n1"}, {"pk": "1", "val": "o1"}),
        # old pk NULL -> fall to uk_val
        (2, 20, "U", 2, {"pk": "2", "val": "n2"}, {"val": "o2"}),
        # neither key usable -> all-columns NULL-safe fallback
        (3, 30, "U", 3, {"pk": "3", "val": "n3"}, {}),
    ])
    got = {r["arrival_seq"]: r["sql_text"]
           for r in sqlgen.generate_sql_wide(ch, info).collect()}
    assert got[1].endswith("WHERE `pk` = '1' LIMIT 1")
    assert got[2].endswith("WHERE `val` = 'o2' LIMIT 1")
    assert got[3].endswith("WHERE `pk` IS NULL AND `val` IS NULL LIMIT 1")
    assert all(r.startswith("UPDATE `db0`.`t` SET `pk` = ") for r in got.values())


def test_generate_sql_wide_no_key_single_mode(spark):
    from tidb_binlog_spark.sinks import sqlgen
    info = sqlgen.TableInfo(columns=("pk", "val"))
    ch = _wide_rows(spark, [
        (1, 10, "D", 1, {"pk": "1", "val": "x"}, None),
    ])
    row = sqlgen.generate_sql_wide(ch, info).collect()[0]
    # no unique key: single-exec routing + all-columns WHERE
    assert row["exec_mode"] == "single"
    assert row["sql_text"] == \
        "DELETE FROM `db0`.`t` WHERE `pk` = '1' AND `val` = 'x' LIMIT 1"


def test_generate_sql_wide_generated_columns_excluded(spark):
    from tidb_binlog_spark.sinks import sqlgen
    info = sqlgen.TableInfo(
        columns=("pk", "val", "gen"),
        unique_keys=(("PRIMARY", ("pk",)),),
        generated=("gen",))
    ch = _wide_rows(spark, [
        (1, 10, "I", 1, {"pk": "1", "val": "x", "gen": "boom"}, None),
    ])
    row = sqlgen.generate_sql_wide(ch, info).collect()[0]
    # generated columns never appear in writes (mysql.go:212-222)
    assert row["sql_text"] == \
        "INSERT INTO `db0`.`t`(`pk`, `val`) VALUES ('1', 'x')"


def test_schema_replay_recreate_after_rename_and_drop(spark):
    """Regression: a table re-created under a renamed-away name is a
    NEW incarnation (old-name lookups stop resolving to the rename
    target), and mutations at/after DROP TABLE no longer decode."""
    from tidb_binlog_spark.operators import schema_evolution as se

    reg = se.SchemaRegistry()
    reg.apply_ddl_events([
        (10, "CREATE TABLE t (a INT DEFAULT 0)"),
        (20, "RENAME TABLE t TO u"),
        (30, "CREATE TABLE t (x INT DEFAULT 9)"),
    ])
    assert reg.resolve_name("t") == "t"       # new incarnation, not u
    assert reg.columns_at("t", reg.latest_version("t")) == {"x": "9"}
    assert reg.resolve_name("u") == "u"

    reg2 = se.SchemaRegistry()
    reg2.apply_ddl_events([
        (10, "CREATE TABLE d (a INT DEFAULT 0)"),
        (50, "DROP TABLE d"),
    ])
    ch = make_changes(spark, [(1, "s0", 20, "I", 1),
                              (2, "s0", 60, "I", 2)]) \
        .withColumn("row_json", F.lit('{"a": "5"}'))
    out = se.decode_with_replay(ch, reg2, "d", spark).collect()
    assert [r["pk"] for r in out] == [1]      # post-drop mutation gone


def test_loopback_mark_write_then_filter_roundtrip(spark, tmp_path):
    """The mark statements one channel writes are exactly what the
    opposite channel's loopback_filter drops (loopbacksync.go)."""
    import os
    import sqlite3

    from tidb_binlog_spark.operators import batching
    from tidb_binlog_spark.sinks import jdbc

    ch = make_changes(spark, [(1, "s0", 10, "I", 1), (2, "s0", 10, "U", 2),
                              (3, "s0", 20, "I", 3)])
    marks = batching.loopback_mark_statements(ch, channel_id=7, row_num=4)
    got = {r["commit_ts"]: r["sql_text"] for r in marks.collect()}
    assert len(got) == 2                      # one per txn
    assert got[10] == ("UPDATE retl._drainer_repl_mark SET val = val + 1 "
                       "WHERE id = 2 AND channel_id = 7 LIMIT 1")

    # executable end-to-end against the sink (SQLite dialect: strip
    # LIMIT from UPDATE, allowed only behind a compile flag there)
    db_dir = str(tmp_path / "db")
    stmts = (marks.withColumn("sql_text",
                              F.expr("replace(sql_text, ' LIMIT 1', '')"))
             .withColumn("worker_id", F.lit(0))
             .withColumn("seq", F.lit(0)).withColumn("sub_seq", F.lit(0)))
    setup = ("CREATE TABLE IF NOT EXISTS \"retl._drainer_repl_mark\" "
             "(id bigint, channel_id bigint, val bigint, channel_info text,"
             " PRIMARY KEY (id, channel_id))",
             batching.init_mark_table_sql(4, 7).replace(
                 batching.MARK_TABLE, '"retl._drainer_repl_mark"'))
    stmts = stmts.withColumn(
        "sql_text", F.expr(
            "replace(sql_text, 'retl._drainer_repl_mark', "
            "'\"retl._drainer_repl_mark\"')"))
    jdbc.apply_statements(stmts, db_dir, 1, setup_sql=setup)
    conn = sqlite3.connect(os.path.join(db_dir, jdbc.SHARED_DB_NAME))
    vals = dict(conn.execute(
        'SELECT id, val FROM "retl._drainer_repl_mark" WHERE channel_id=7'))
    assert vals[2] == 2 and vals[0] == 2      # bumped once each (from 1)

    # the filter side drops exactly the marked txns
    mark_rows = make_changes(spark, [(9, "s0", 10, "I", 99)]) \
        .withColumn("db", F.lit("retl")) \
        .withColumn("tbl", F.lit("_drainer_repl_mark"))
    stream = ch.unionByName(mark_rows)
    kept = batching.loopback_filter(stream).select("commit_ts").distinct()
    assert [r["commit_ts"] for r in kept.collect()] == [20]


def test_txn_resolver_decision_rules(spark):
    """Every branch of pump/storage/storage.go:431-558: committed (sane
    and insane commit ts), rollback, valid lock, unknown-young,
    unknown-old."""
    from tidb_binlog_spark.operators import txn_resolver

    tso = 1 << 18
    # start_ts at TSO scale; physical seconds = ts >> 18 / 1000
    pending = spark.createDataFrame(
        [(1000 * tso, "a"), (2000 * tso, "b"), (3000 * tso, "c"),
         (4000 * tso, "d"), (99_000 * tso, "e"), (5000 * tso, "f")],
        "start_ts long, payload string")
    status = spark.createDataFrame(
        [(1000 * tso, "committed", 1000 * tso + 7),
         (2000 * tso, "committed", 2000 * tso - 1),   # sanity fail
         (3000 * tso, "rollback", None),
         (4000 * tso, "lock", None)],
        "start_ts long, status string, commit_ts long")
    latest = 100_000 * tso  # physical 100_000 ms -> second 100
    out = {r["payload"]: (r["action"], r["resolved_commit_ts"])
           for r in txn_resolver.resolve_txn_status(
               pending, status, latest, max_txn_timeout_s=30).collect()}
    assert out["a"] == ("synthesize_commit", 1000 * tso + 7)
    assert out["b"] == ("pending", None)         # commit_ts <= start_ts
    assert out["c"] == ("drop_rollback", None)
    assert out["d"] == ("pending", None)         # lock TTL valid
    # e: unknown, physical second 99 vs latest 100 -> elapsed 1 <= 30
    assert out["e"] == ("pending", None)
    # f: unknown, elapsed 95s > 30 -> expired, never committed
    assert out["f"] == ("drop_rollback", None)

    synth = txn_resolver.synthesize_commits(
        txn_resolver.resolve_txn_status(pending, status, latest, 30))
    rows = synth.collect()
    assert len(rows) == 1 and rows[0]["commit_ts"] == 1000 * tso + 7
    assert rows[0]["synthesized"] and not rows[0]["is_rollback"]


def test_partition_catalog_rebind_and_orphans(spark):
    """TRUNCATE PARTITION re-binds to a new physical id (late binlogs
    for the old id orphan out); DROP PARTITION retires; ADD binds."""
    from tidb_binlog_spark.operators import partitions

    cat = partitions.PartitionCatalog()
    cat.bind("t1", "p0", 11)
    cat.bind("t1", "p1", 12)
    cat.truncate_partition("t1", "p1", 21, commit_ts=500)
    cat.add_partition("t1", "p2", 31, commit_ts=600)
    cat.drop_partition("t1", "p0", commit_ts=700)
    assert cat.retired == {12: 500, 11: 700}
    assert cat.bindings == {21: ("t1", "p1"), 31: ("t1", "p2")}

    ch = spark.createDataFrame(
        [(1, 11), (2, 12), (3, 21), (4, 31), (5, 99)],
        "arrival_seq long, physical_id long")
    out = {r["arrival_seq"]: (r["logical_tbl"], r["partition_name"],
                              r["partition_status"])
           for r in partitions.resolve_partitions(
               ch, cat.dimension(spark)).collect()}
    assert out[1] == (None, None, "orphan")      # dropped partition
    assert out[2] == (None, None, "orphan")      # pre-truncate incarnation
    assert out[3] == ("t1", "p1", "ok")
    assert out[4] == ("t1", "p2", "ok")
    assert out[5] == (None, None, "orphan")      # never bound
    live = partitions.resolve_partitions(ch, cat.dimension(spark))
    assert live.filter(F.col("partition_status") == "ok").count() == 2


def test_schema_ddl_drop_database_cascade(spark):
    """CREATE/DROP DATABASE replay: DropSchema cascades to every table
    of the schema in one job (drainer/schema.go:373-406); qualified
    names parse; tables in other schemas are untouched."""
    from tidb_binlog_spark.operators import schema_evolution as se

    p = se.parse_ddl("CREATE TABLE `shop`.`orders` (id INT, note TEXT DEFAULT 'x')")
    assert p["kind"] == "create_table" and p["db"] == "shop" \
        and p["table"] == "orders"
    assert se.parse_ddl("DROP DATABASE IF EXISTS shop")["db"] == "shop"

    reg = se.SchemaRegistry()
    reg.apply_ddl_events([
        (10, "CREATE DATABASE shop"),
        (20, "CREATE TABLE shop.orders (id INT)"),
        (30, "CREATE TABLE shop.items (id INT)"),
        (40, "CREATE TABLE other.keep (id INT)"),
        (50, "ALTER TABLE shop.items ADD COLUMN qty INT DEFAULT '0'"),
        (60, "DROP DATABASE shop"),
    ])
    assert reg.dropped == {"orders", "items"}
    assert reg.drop_ts == {"orders": 60, "items": 60}
    assert "keep" not in reg.dropped
    assert "shop" not in reg.databases
    # rename moves the db binding
    reg2 = se.SchemaRegistry()
    reg2.apply_ddl_events([
        (10, "CREATE TABLE a.t1 (id INT)"),
        (20, "RENAME TABLE a.t1 TO b.t2"),
        (30, "DROP DATABASE a"),
    ])
    assert reg2.table_db == {"t2": "b"}
    assert reg2.dropped == set()


def test_rename_column_decode_across_versions(spark):
    """RENAME/CHANGE COLUMN mid-stream: rows encoded before the rename
    carry the old json key; decode_with_replay resolves per-version
    names (the rename sibling of drop-column-mid-stream)."""
    from tidb_binlog_spark.operators import schema_evolution as se

    p = se.parse_ddl("ALTER TABLE t RENAME COLUMN a TO b")
    assert p == {"kind": "rename_column", "table": "t", "db": None,
                 "column": "a", "new_column": "b"}
    p2 = se.parse_ddl("ALTER TABLE t CHANGE COLUMN b c INT DEFAULT '9'")
    assert p2["kind"] == "rename_column" and p2["new_column"] == "c"
    assert se.parse_ddl("ALTER TABLE t MODIFY COLUMN c INT DEFAULT '5'")[
        "kind"] == "modify_column"

    reg = se.SchemaRegistry()
    reg.apply_ddl_events([
        (100, "CREATE TABLE t (pk INT, a INT DEFAULT '1')"),
        (200, "ALTER TABLE t RENAME COLUMN a TO b"),
        (300, "ALTER TABLE t CHANGE COLUMN b c INT"),
    ])
    assert reg.col_renames["t"]["c"] == [(2, "a"), (3, "b")]
    assert list(reg.columns_at("t", 3)) == ["pk", "c"]

    # CHANGE without DEFAULT keeps the old default (same as MODIFY)
    reg_d = se.SchemaRegistry()
    reg_d.apply_ddl_events([
        (1, "CREATE TABLE t (pk INT)"),
        (2, "ALTER TABLE t ADD COLUMN a INT DEFAULT '7'"),
        (3, "ALTER TABLE t CHANGE a b INT"),
    ])
    assert reg_d.columns_at("t", 3)["b"] == "7"

    rows = [
        (150, '{"pk": "1", "a": "10"}'),   # v1 encoding: key a
        (250, '{"pk": "2", "b": "20"}'),   # v2 encoding: key b
        (350, '{"pk": "3", "c": "30"}'),   # v3 encoding: key c
    ]
    ch = spark.createDataFrame(rows, "commit_ts long, row_json string")
    out = {r["pk"]: r["c"]
           for r in se.decode_with_replay(ch, reg, "t", spark).collect()}
    assert out == {"1": "10", "2": "20", "3": "30"}


def test_parse_ddl_multi_column_add_and_audit():
    """VERDICT r3 item 7: multi-column ADD (both forms), backticked
    names with spaces, tolerant attribute tails, and the
    skipped-columns audit signal."""
    from tidb_binlog_spark.operators import schema_evolution as se

    # parenthesized multi-ADD
    p = se.parse_ddl(
        "ALTER TABLE `my t` ADD COLUMN (a INT, b VARCHAR(10) DEFAULT 'x')")
    assert p["kind"] == "add_columns" and p["table"] == "my t"
    assert p["columns"] == {"a": None, "b": "x"}
    assert p["skipped_columns"] == []

    # comma-separated ADD clauses w/ position + NOT NULL tails
    p = se.parse_ddl("ALTER TABLE t ADD COLUMN a INT NOT NULL, "
                     "ADD COLUMN b INT DEFAULT '7' AFTER a")
    assert p["kind"] == "add_columns"
    assert p["columns"] == {"a": None, "b": "7"}

    # single ADD keeps the narrow kind (back-compat), tolerant tail
    p = se.parse_ddl("ALTER TABLE t ADD COLUMN c INT DEFAULT '3' FIRST")
    assert p == {"kind": "add_column", "table": "t", "db": None,
                 "column": "c", "default": "3"}

    # ADD PARTITION / ADD INDEX must NOT read as columns
    assert se.parse_ddl(
        "ALTER TABLE t ADD PARTITION (PARTITION p2 VALUES LESS THAN (10))"
    )["kind"] == "other"
    assert se.parse_ddl("ALTER TABLE t ADD INDEX idx (c)")["kind"] == "other"

    # constraints inside CREATE TABLE are not columns and not "skipped";
    # garbage IS surfaced in skipped_columns
    p = se.parse_ddl("CREATE TABLE t (id INT, PRIMARY KEY (id), "
                     "CONSTRAINT fk FOREIGN KEY (id) REFERENCES o(id), "
                     "%%% not a column %%%)")
    assert p["columns"] == {"id": None}
    assert p["skipped_columns"] == ["%%% not a column %%%"]


def test_apply_ddl_multi_add_one_version_and_audit_log():
    from tidb_binlog_spark.operators import schema_evolution as se
    reg = se.SchemaRegistry()
    log = reg.apply_ddl_events([
        (10, "CREATE TABLE t (pk INT)"),
        (20, "ALTER TABLE t ADD COLUMN (a INT DEFAULT '1', b INT)"),
        (30, "CREATE TABLE u (id INT, ??? garbage ???)"),
    ])
    # one statement -> ONE version bump carrying both columns
    assert reg.latest_version("t") == 2
    assert reg.columns_at("t", 2) == {"pk": None, "a": "1", "b": None}
    assert reg.col_added_at["t"]["a"] == 2 and reg.col_added_at["t"]["b"] == 2
    # the audit signal reaches the replay log
    audit = [e for e in log if e.get("skipped_columns")]
    assert len(audit) == 1 and audit[0]["table"] == "u"
    assert audit[0]["skipped_columns"] == ["??? garbage ???"]


def test_parse_ddl_backticked_keyword_columns_and_comment_default():
    """Review findings: a backticked `key`/`index`/`partition` is an
    identifier, not a constraint head — it must parse as a column;
    DEFAULT inside a COMMENT string literal must not invent a
    default."""
    from tidb_binlog_spark.operators import schema_evolution as se

    p = se.parse_ddl("CREATE TABLE t (`key` INT DEFAULT '5', v INT)")
    assert p["columns"] == {"key": "5", "v": None}
    assert p["skipped_columns"] == []

    p = se.parse_ddl("ALTER TABLE t ADD COLUMN `index` INT DEFAULT '2'")
    assert p["kind"] == "add_column" and p["column"] == "index"
    assert p["default"] == "2"

    # unquoted heads are still constraints / partition clauses
    assert "key" not in se.parse_ddl(
        "CREATE TABLE t (id INT, KEY k1 (id))")["columns"]
    assert se.parse_ddl(
        "ALTER TABLE t ADD PARTITION (PARTITION p9 VALUES LESS THAN (9))"
    )["kind"] == "other"

    # DEFAULT mentioned inside a COMMENT literal is NOT a default...
    p = se.parse_ddl(
        "ALTER TABLE t ADD COLUMN c INT COMMENT 'no DEFAULT 5 here'")
    assert p == {"kind": "add_column", "table": "t", "db": None,
                 "column": "c", "default": None}
    # ...while a real DEFAULT after a COMMENT still parses
    p = se.parse_ddl("ALTER TABLE t ADD COLUMN c INT "
                     "COMMENT 'x' DEFAULT '7'")
    assert p["default"] == "7"


def test_parse_ddl_property_registry_replay():
    """Property: for generated column sets, CREATE + multi/single ADD
    parse to exactly the declared (name -> default) maps regardless of
    backticks, attribute tails, or qualified names — and replay ends
    with the full column set at the right defaults.

    (Renamed in r10: this test used to share a name with the hostile
    -name fuzz at the bottom of the file, which shadowed it — pytest
    collected only the later definition, so this one never ran.)"""
    from hypothesis import given, settings
    from hypothesis import strategies as st
    from tidb_binlog_spark.operators import schema_evolution as se

    names = st.lists(
        st.text(alphabet="abcdefgh_ xyz", min_size=1, max_size=8)
          .map(str.strip).filter(
              lambda s: s and not s.replace(" ", "").isdigit()),
        min_size=1, max_size=5, unique=True)
    defaults = st.one_of(st.none(), st.integers(0, 99).map(str))
    tails = st.sampled_from(["", " NOT NULL", " COMMENT 'has DEFAULT 9'",
                             " FIRST"])

    @settings(max_examples=60, deadline=None)
    @given(cols=names, ds=st.lists(defaults, min_size=5, max_size=5),
           ts=st.lists(tails, min_size=5, max_size=5))
    def run(cols, ds, ts):
        def quote(c):
            # genuinely mixed: names with spaces MUST be quoted,
            # others alternate so the unquoted path gets coverage too
            return f"`{c}`" if (" " in c or len(c) % 2 == 0) else c
        defs = []
        want = {}
        for c, d, t in zip(cols, ds, ts):
            frag = f"{quote(c)} INT"
            if d is not None:
                frag += f" DEFAULT '{d}'"
            defs.append(frag + t)
            want[c] = d
        p = se.parse_ddl(f"CREATE TABLE db1.t ({', '.join(defs)})")
        assert p["kind"] == "create_table" and p["db"] == "db1"
        assert p["columns"] == want and p["skipped_columns"] == []

        p2 = se.parse_ddl("ALTER TABLE t ADD COLUMN ("
                          + ", ".join(defs) + ")")
        assert p2["columns"] == want

        reg = se.SchemaRegistry()
        reg.apply_ddl_events([
            (10, "CREATE TABLE t (pk INT)"),
            (20, "ALTER TABLE t ADD COLUMN (" + ", ".join(defs) + ")"),
        ])
        got = reg.columns_at("t", reg.latest_version("t"))
        assert got == {"pk": None, **want}

    run()


def test_parse_ddl_dailytest_corpus():
    """The reference's randomized daily suite issues these exact DDL
    shapes mid-DML (tests/dailytest/ddl.go, case.go:386-495, job.go:
    138-159). Every one must classify correctly with ZERO unaudited
    skipped columns."""
    from tidb_binlog_spark.operators import schema_evolution as se

    corpus = {
        "create database if not exists test":
            ("create_schema", None),
        "create table if not exists test.test1"
        "(id int primary key, v1 int default null)":
            ("create_table", {"id": None, "v1": "null"}),
        "drop database test": ("drop_schema", None),
        "truncate table test.test1": ("truncate", None),
        "ALTER TABLE growing_cols ADD COLUMN col7 VARCHAR(50);":
            ("add_column", None),
        "ALTER TABLE many_cols DROP COLUMN col3;": ("drop_column", None),
        # index-only DDL is not a catalog column event
        "ALTER TABLE binlog_pk_add_duplicate_uk ADD UNIQUE INDEX "
        "aidx(a1);": ("other", None),
        # job.go:159 — backticked name + AFTER placement
        "alter table t add column `col9` varchar(45) after col8":
            ("add_column", None),
        "create table pkuk(pk int primary key, uk int, v int, "
        "unique key uk(uk));":
            ("create_table", {"pk": None, "uk": None, "v": None}),
        # case.go:486-495 — generated columns (virtual and STORED)
        "CREATE TABLE gen_contacts (\n"
        " id INT AUTO_INCREMENT PRIMARY KEY,\n"
        " first_name VARCHAR(50) NOT NULL,\n"
        " last_name VARCHAR(50) NOT NULL,\n"
        " fullname VARCHAR(101) GENERATED ALWAYS AS "
        "(CONCAT(first_name,' ',last_name)),\n"
        " initial VARCHAR(101) GENERATED ALWAYS AS "
        "(CONCAT(LEFT(first_name, 1),' ',LEFT(last_name,1))) STORED\n"
        ");": ("create_table",
               {"id": None, "first_name": None, "last_name": None,
                "fullname": None, "initial": None}),
        # dailytest.go:31-53 — the three worker tables
        "create table ptest(a int primary key, b double NOT NULL "
        "DEFAULT 2.0, c varchar(10) NOT NULL, d time unique);":
            ("create_table",
             {"a": None, "b": "2.0", "c": None, "d": None}),
        "create table itest(a int, b double NOT NULL DEFAULT 2.0, "
        "c varchar(10) NOT NULL, d time unique, PRIMARY KEY(a, b));":
            ("create_table",
             {"a": None, "b": "2.0", "c": None, "d": None}),
    }
    for sql, (kind, cols) in corpus.items():
        p = se.parse_ddl(sql)
        assert p["kind"] == kind, (sql, p)
        if cols is not None:
            assert p["columns"] == cols, (sql, p)
        assert p.get("skipped_columns", []) == [], (sql, p)


def test_parse_ddl_dailytest_shaped_fuzz():
    """Hypothesis over the dailytest generators' parameter space:
    growing-cols ADD (with optional backticks and AFTER/FIRST
    placement, job.go:159), many-cols DROP, and a registry replay of
    a random add/drop interleave converging to the surviving column
    set — the DDL-while-DML torture, minus the DML."""
    from hypothesis import given, settings
    from hypothesis import strategies as st
    from tidb_binlog_spark.operators import schema_evolution as se

    idx = st.integers(0, 300)
    tick = st.booleans()
    place = st.sampled_from(["", " FIRST", " AFTER col0"])
    vtype = st.sampled_from(["VARCHAR(50)", "varchar(45)", "INT",
                             "DECIMAL(10,2)", "TIMESTAMP"])

    @settings(max_examples=60, deadline=None)
    @given(i=idx, q=tick, p=place, t=vtype,
           ops=st.lists(st.tuples(st.booleans(), st.integers(0, 5)),
                        min_size=1, max_size=12))
    def run(i, q, p, t, ops):
        name = f"col{i}"
        quoted = f"`{name}`" if q else name
        add = se.parse_ddl(
            f"ALTER TABLE growing_cols ADD COLUMN {quoted} {t}{p};")
        assert add["kind"] == "add_column" and add["column"] == name
        drop = se.parse_ddl(
            f"ALTER TABLE many_cols DROP COLUMN {quoted};")
        assert drop["kind"] == "drop_column" and drop["column"] == name

        # registry replay of an interleave (ADD is a no-op re-add on
        # an existing name; DROP of an absent column is ignored by
        # parse->apply like the reference's schema tracker)
        reg = se.SchemaRegistry()
        events = [(10, "CREATE TABLE t (col0 INT)")]
        alive = {"col0"}
        ts = 20
        for is_add, j in ops:
            c = f"c{j}"
            if is_add and c not in alive:
                events.append((ts, f"ALTER TABLE t ADD COLUMN {c} INT"))
                alive.add(c)
            elif not is_add and c in alive and c != "col0":
                events.append((ts, f"ALTER TABLE t DROP COLUMN {c}"))
                alive.discard(c)
            ts += 10
        reg.apply_ddl_events(events)
        got = set(reg.columns_at("t", reg.latest_version("t")))
        assert got == alive

    run()


def test_asof_join_inclusive_ties_tolerance_and_null_values(spark):
    from tidb_binlog_spark.operators.asof import asof_join
    left = spark.createDataFrame(
        [(1, 10, "a"), (1, 20, "b"), (1, 25, "c"), (2, 5, "d")],
        "k long, ts long, name string")
    right = spark.createDataFrame(
        [(1, 8, 100.0), (1, 20, None), (2, 7, 700.0)],
        "k long, ts long, val double")
    got = {r["name"]: (r["asof_ts"], r["val"])
           for r in asof_join(left, right, ["k"]).collect()}
    assert got["a"] == (8, 100.0)
    # equal timestamps match inclusively, and a NULL value column in
    # the matched row stays NULL (no leak from the older 100.0 row)
    assert got["b"] == (20, None)
    assert got["c"] == (20, None)
    assert got["d"] == (None, None)        # right row is AFTER the left
    # tolerance: match older than the window nulls out entirely
    tol = {r["name"]: (r["asof_ts"], r["val"])
           for r in asof_join(left, right, ["k"], tolerance=3).collect()}
    assert tol["a"] == (8, 100.0)          # gap 2 <= 3
    assert tol["c"] == (None, None)        # gap 5 > 3


def test_point_in_interval_join_overlaps_and_left(spark):
    from tidb_binlog_spark.operators.rangejoin import point_in_interval_join
    pts = spark.createDataFrame([(1, 5), (1, 15), (1, 99), (2, 50)],
                                "k long, t long")
    iv = spark.createDataFrame(
        [(1, 0, 10, "s1"), (1, 12, 20, "s2"), (1, 3, 18, "wide"),
         (2, 100, 200, "s3")],
        "k long, s long, e long, tag string")
    # tiny bucket width stresses the multi-bucket explode; results
    # must be identical for any width
    for width in (2, 8, 1000):
        got = {(r["t"], r["tag"]) for r in point_in_interval_join(
            pts, iv, ["k"], "t", "s", "e", width).collect()}
        assert got == {(5, "s1"), (5, "wide"), (15, "s2"), (15, "wide")}
    left = point_in_interval_join(pts, iv, ["k"], "t", "s", "e", 8,
                                  how="left").collect()
    assert len(left) == 6            # 4 matches + 2 unmatched points
    assert {r["t"] for r in left if r["tag"] is None} == {99, 50}


def test_asof_join_matches_bruteforce_reference(spark):
    """Property check: asof_join over random keyed point sets equals
    the O(n^2) single-process reference, with and without tolerance."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st
    from tidb_binlog_spark.operators.asof import asof_join

    def reference(lefts, rights, tol):
        out = {}
        for i, (k, t) in enumerate(lefts):
            cand = [(rt, rv) for (rk, rt, rv) in rights
                    if rk == k and rt <= t
                    and (tol is None or t - rt <= tol)]
            out[i] = max(cand) if cand else (None, None)
        return out

    @given(st.lists(st.tuples(st.integers(0, 2), st.integers(0, 30)),
                    min_size=1, max_size=12),
           st.lists(st.tuples(st.integers(0, 2), st.integers(0, 30),
                              st.integers(0, 9)),
                    min_size=0, max_size=12),
           st.one_of(st.none(), st.integers(0, 10)))
    @settings(max_examples=10, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    def check(lefts, rights, tol):
        # right side must be unique per (key, ts) — the operator's
        # documented contract; keep max value like the oracle would
        dedup = {}
        for rk, rt, rv in rights:
            dedup[(rk, rt)] = max(dedup.get((rk, rt), -1), rv)
        rlist = [(k, t, v) for (k, t), v in dedup.items()]
        ldf = spark.createDataFrame(
            [(i, k, t) for i, (k, t) in enumerate(lefts)],
            "row_id long, k long, ts long")
        rdf = spark.createDataFrame(rlist or [(99, -1, 0)],
                                    "k long, ts long, v long")
        got = {r["row_id"]: (r["asof_ts"], r["v"])
               for r in asof_join(ldf, rdf, ["k"],
                                  tolerance=tol).collect()}
        assert got == reference(lefts, rlist, tol)

    check()


def test_point_in_interval_left_mode_null_payload_no_duplicates(spark):
    """A matched point whose NON-join columns are NULL must appear
    exactly once (the old anti-join formulation duplicated it)."""
    from tidb_binlog_spark.operators.rangejoin import point_in_interval_join
    pts = spark.createDataFrame([(1, 5, None), (1, 99, "x")],
                                "k long, t long, note string")
    iv = spark.createDataFrame([(1, 0, 10, "s1")],
                               "k long, s long, e long, tag string")
    rows = point_in_interval_join(pts, iv, ["k"], "t", "s", "e", 8,
                                  how="left").collect()
    assert len(rows) == 2
    by_t = {r["t"]: r for r in rows}
    assert by_t[5]["tag"] == "s1" and by_t[5]["note"] is None
    assert by_t[99]["tag"] is None        # refine-failed values nulled


def test_funnel_greedy_window_and_missing_steps(spark):
    """Greedy funnel: t_i is the earliest step-i event strictly after
    t_{i-1}; the window bounds every later step relative to t0; users
    with no step-0 event are absent; unreached steps are NULL."""
    from tidb_binlog_spark.operators.funnel import funnel
    rows = [
        # u1 completes in order within the window
        (1, 10, "signup"), (1, 20, "view"), (1, 30, "purchase"),
        # u2: purchase BEFORE its view must not count; no later purchase
        (2, 10, "signup"), (2, 40, "view"), (2, 30, "purchase"),
        # u3: view lands outside the window
        (3, 10, "signup"), (3, 200, "view"),
        # u4: never signed up
        (4, 5, "view"), (4, 6, "purchase"),
        # u5: earliest signup wins; pre-signup view ignored
        (5, 50, "view"), (5, 60, "signup"), (5, 70, "signup"),
        (5, 80, "view"), (5, 90, "purchase"),
    ]
    ev = spark.createDataFrame(rows, "user_id long, ts long, event_type string")
    got = {r["user_id"]: (r["t0"], r["t1"], r["t2"], r["max_stage"])
           for r in funnel(ev, ["signup", "view", "purchase"],
                           window=100).collect()}
    assert got == {
        1: (10, 20, 30, 3),
        2: (10, 40, None, 2),
        3: (10, None, None, 1),
        5: (60, 80, 90, 3),
    }


def test_scd2_history_intervals_and_time_travel(spark):
    """Delete closes the open interval without opening one; a later
    insert starts a fresh version; snapshot_as_of(T) equals the
    last-image-wins replay of changes with commit_ts <= T at EVERY
    change timestamp (brute-force cross-check)."""
    from tidb_binlog_spark.operators.scd2 import scd2_history, snapshot_as_of
    rows = [  # (db, tbl, pk, commit_ts, seq, arrival_seq, op, val)
        ("d", "t", 1, 10, 0, 0, "I", 1.0),
        ("d", "t", 1, 20, 0, 1, "U", 2.0),
        ("d", "t", 1, 30, 0, 2, "D", 2.0),
        ("d", "t", 1, 40, 0, 3, "I", 3.0),
        ("d", "t", 2, 15, 0, 4, "I", 9.0),
        ("d", "t", 3, 25, 0, 5, "I", 7.0),
        ("d", "t", 3, 35, 0, 6, "D", 7.0),
    ]
    ch = spark.createDataFrame(
        rows, "db string, tbl string, pk long, commit_ts long, "
              "seq int, arrival_seq long, op string, val double")
    hist = scd2_history(ch)
    got = {(r["pk"], r["valid_from"]): (r["valid_to"], r["is_current"])
           for r in hist.collect()}
    assert got == {
        (1, 10): (20, False), (1, 20): (30, False), (1, 40): (None, True),
        (2, 15): (None, True), (3, 25): (35, False),
    }
    hist_rows = [r.asDict() for r in hist.collect()]
    for t in [5, 10, 15, 20, 25, 30, 35, 40, 99]:
        visible = {(h["pk"]): h["val"] for h in hist_rows
                   if h["valid_from"] <= t
                   and (h["valid_to"] is None or h["valid_to"] > t)}
        replay: dict = {}
        for db, tbl, pk, ts, seq, aseq, op, val in sorted(
                rows, key=lambda r: r[3]):
            if ts > t:
                continue
            if op == "D":
                replay.pop(pk, None)
            else:
                replay[pk] = val
        assert visible == replay, f"T={t}"
        assert {r["pk"]: r["val"]
                for r in snapshot_as_of(hist, t).collect()} == replay


def test_interval_overlap_join_matches_bruteforce(spark):
    """Bucketed overlap join == brute-force O(n^2) overlap test, inner
    and left modes, across bucket widths smaller/larger than the
    intervals (seeded RNG; intervals span multiple buckets, tie edges,
    zero-length, and cross-key non-matches)."""
    import random
    from tidb_binlog_spark.operators.rangejoin import interval_overlap_join
    rng = random.Random(47)
    lrows = [(f"k{rng.randint(0, 3)}", i, s, s + rng.randint(0, 40))
             for i in range(60)
             for s in [rng.randint(0, 300)]]
    rrows = [(f"k{rng.randint(0, 3)}", 100 + i, s, s + rng.randint(0, 25))
             for i in range(50)
             for s in [rng.randint(0, 300)]]
    left = spark.createDataFrame(
        lrows, "key string, a_id int, a_start long, a_end long")
    right = spark.createDataFrame(
        rrows, "key string, b_id int, b_start long, b_end long")
    expect = {(k, a, b) for (k, a, s1, e1) in lrows
              for (k2, b, s2, e2) in rrows
              if k == k2 and s1 <= e2 and s2 <= e1}
    for bw in (7, 64, 1000):
        got = interval_overlap_join(
            left, right, ["key"], "a_start", "a_end",
            "b_start", "b_end", bucket_width=bw)
        pairs = [(r["key"], r["a_id"], r["b_id"]) for r in got.collect()]
        assert len(pairs) == len(set(pairs)), f"dup pairs at bw={bw}"
        assert set(pairs) == expect, f"bw={bw}"
        lgot = interval_overlap_join(
            left, right, ["key"], "a_start", "a_end",
            "b_start", "b_end", bucket_width=bw, how="left").collect()
        matched = [(r["key"], r["a_id"], r["b_id"])
                   for r in lgot if r["b_id"] is not None]
        assert set(matched) == expect and len(matched) == len(expect)
        unmatched = {(r["key"], r["a_id"]) for r in lgot
                     if r["b_id"] is None}
        assert unmatched == {(k, a) for (k, a, _, _) in lrows
                             if not any(p[1] == a for p in expect)}
        assert all(r["b_start"] is None and r["b_end"] is None
                   for r in lgot if r["b_id"] is None)
        assert len(lgot) == len(expect) + len(unmatched)


def test_rolling_window_and_cohort_retention(spark):
    """Closed-range rolling frame (row at exactly ts-window included,
    one tick older excluded; ties all included) and cohort offsets
    (pre-signup activity excluded, distinct per period)."""
    from pyspark.sql import functions as F
    from tidb_binlog_spark.operators.timeseries import (cohort_retention,
                                                        rolling_window)
    ev = spark.createDataFrame(
        [(1, 0, 2.0), (1, 50, 3.0), (1, 100, 5.0), (1, 101, 7.0),
         (2, 100, 1.0), (2, 100, 1.5)],
        "user long, ts long, value double")
    got = {(r["user"], r["ts"], r["value"]): (r["n_window"], r["sum_window"])
           for r in rolling_window(ev, ["user"], "ts", 100,
                                   "value").collect()}
    assert got[(1, 100, 5.0)] == (3, 10.0)      # ts-100=0 included
    assert got[(1, 101, 7.0)] == (3, 15.0)      # ts=0 aged out
    assert got[(2, 100, 1.0)] == (2, 2.5)       # ties share the frame
    assert got[(2, 100, 1.5)] == (2, 2.5)

    ev2 = spark.createDataFrame(
        [(1, 5, "signup"), (1, 12, "view"), (1, 27, "view"),
         (2, 3, "view"),                     # never signs up
         (3, 19, "signup"), (3, 2, "view"),  # pre-signup activity
         (3, 21, "view"), (3, 22, "view")],  # same period, once
        "user_id long, ts long, event_type string")
    ret = {(r["cohort_period"], r["period_offset"]): r["n_users"]
           for r in cohort_retention(
               ev2, "user_id", "ts", 10,
               F.col("event_type") == "signup").collect()}
    assert ret == {(0, 0): 1, (0, 1): 1, (0, 2): 1, (1, 0): 1, (1, 1): 1}


def test_scd2_incremental_converges_to_full_recompute(spark):
    """Applying the stream in 1..N batches (every split point, then a
    3-way fold) yields exactly the full-history recompute — including
    delete-only batches and delete-then-reinsert across batch
    boundaries."""
    from tidb_binlog_spark.operators.scd2 import (scd2_apply_increment,
                                                  scd2_history)
    rows = [
        ("d", "t", 1, 10, 0, 0, "I", 1.0),
        ("d", "t", 1, 20, 0, 1, "U", 2.0),
        ("d", "t", 1, 30, 0, 2, "D", 2.0),
        ("d", "t", 2, 15, 0, 3, "I", 9.0),
        ("d", "t", 1, 40, 0, 4, "I", 3.0),
        ("d", "t", 2, 45, 0, 5, "D", 9.0),
        ("d", "t", 3, 50, 0, 6, "I", 7.0),
    ]
    schema = ("db string, tbl string, pk long, commit_ts long, "
              "seq int, arrival_seq long, op string, val double")
    full = sorted(map(tuple, scd2_history(
        spark.createDataFrame(rows, schema)).collect()))
    ts_points = sorted({r[3] for r in rows})
    for t in ts_points[:-1]:
        h = scd2_history(spark.createDataFrame(
            [r for r in rows if r[3] <= t], schema))
        inc = spark.createDataFrame([r for r in rows if r[3] > t], schema)
        got = sorted(map(tuple, scd2_apply_increment(h, inc).collect()))
        assert got == full, f"split at {t}"
    # 3-way fold: 0..20 | 30..40 (delete + reinsert) | 45..50
    h = scd2_history(spark.createDataFrame(
        [r for r in rows if r[3] <= 20], schema))
    for lo, hi in ((20, 40), (40, 99)):
        h = scd2_apply_increment(h, spark.createDataFrame(
            [r for r in rows if lo < r[3] <= hi], schema))
    assert sorted(map(tuple, h.collect())) == full


def test_incremental_agg_coherence_and_batch_additivity(spark):
    """coherent_changelog re-images the raw op stream (U-as-first -> I,
    delete-of-nothing dropped, re-insert after delete -> I, true prior
    values); the delta aggregate equals the brute-force snapshot
    aggregate and is additive across batch splits (the streaming-fold
    contract, drop_empty=False)."""
    from tidb_binlog_spark.operators.incremental_agg import (
        coherent_changelog, maintain_group_aggregates)
    rows = [
        ("d", "t",  1, 10, 0, 0, "I", 1.5),
        ("d", "t",  2, 15, 0, 1, "U", 9.0),   # U as first -> I
        ("d", "t",  1, 20, 0, 2, "U", 2.5),
        ("d", "t",  3, 12, 0, 3, "D", 5.0),   # delete of nothing -> drop
        ("d", "t",  1, 30, 0, 4, "D", 2.5),
        ("d", "t",  1, 40, 0, 5, "I", 4.0),   # re-insert after delete
        ("d", "t",  2, 45, 0, 6, "D", 9.0),
        ("d", "t",  3, 50, 0, 7, "I", 7.25),
        ("d", "t2", 4, 60, 0, 8, "I", 3.0),
        ("d", "t2", 4, 70, 0, 9, "U", 1.0),
    ]
    schema = ("db string, tbl string, pk long, commit_ts long, "
              "seq int, arrival_seq long, op string, val double")
    cl = coherent_changelog(spark.createDataFrame(rows, schema))
    labeled = {(r["pk"], r["commit_ts"]): (r["eff_op"], r["old_val"])
               for r in cl.collect()}
    assert (3, 12) not in labeled                  # no-op delete dropped
    assert labeled[(2, 15)] == ("I", None)         # U coerced to insert
    assert labeled[(1, 20)] == ("U", 1.5)          # true prior value
    assert labeled[(1, 30)] == ("D", 2.5)
    assert labeled[(1, 40)] == ("I", None)         # revival
    full = {(r["db"], r["tbl"]): (r["n_rows"], r["sum_val"])
            for r in maintain_group_aggregates(cl, ["db", "tbl"]).collect()}
    # live: pk1=4.0, pk3=7.25 in t; pk4=1.0 in t2; pk2 dead
    assert full == {("d", "t"): (2, 11.25), ("d", "t2"): (1, 1.0)}
    # batch additivity: per-batch partials (zero groups kept) sum to full
    merged: dict = {}
    for lo, hi in ((0, 20), (20, 45), (45, 99)):
        part = maintain_group_aggregates(
            cl.filter((F.col("commit_ts") > lo)
                      & (F.col("commit_ts") <= hi)),
            ["db", "tbl"], drop_empty=False)
        for r in part.collect():
            k = (r["db"], r["tbl"])
            n, s = merged.get(k, (0, 0.0))
            merged[k] = (n + r["n_rows"], s + r["sum_val"])
    assert {k: v for k, v in merged.items() if v[0] > 0} == full


def test_parse_ddl_lexer_handles_literals_and_options():
    """The lexer-backed parser survives exactly what regex parsing
    cannot: commas/parens/quotes inside string literals, escaped
    identifiers, and trailing table options."""
    from tidb_binlog_spark.operators import schema_evolution as se

    p = se.parse_ddl("CREATE TABLE t (a INT COMMENT 'x,y', "
                     "b ENUM('a)','b(') DEFAULT 'a)', c INT)")
    assert p["columns"] == {"a": None, "b": "a)", "c": None}
    assert p["skipped_columns"] == []

    p = se.parse_ddl("CREATE TABLE t (id INT, note TEXT DEFAULT 'it''s') "
                     "ENGINE=InnoDB COMMENT='trailing (stuff)'")
    assert p["kind"] == "create_table"
    assert p["columns"] == {"id": None, "note": "it's"}

    p = se.parse_ddl("ALTER TABLE t ADD COLUMN `we``ird` INT DEFAULT '1'")
    assert p == {"kind": "add_column", "table": "t", "db": None,
                 "column": "we`ird", "default": "1"}

    # COMMENT text can never invent a default
    assert se.parse_ddl(
        "ALTER TABLE t ADD COLUMN d VARCHAR(10) COMMENT 'DEFAULT 5'"
    )["default"] is None

    # a multi-action mixed ALTER is refused whole, never half-parsed
    assert se.parse_ddl(
        "ALTER TABLE t CHANGE a b INT, DROP COLUMN c")["kind"] == "other"

    assert se.parse_ddl("TRUNCATE TABLE `sp ace`.`t 2`") == {
        "kind": "truncate", "table": "t 2", "db": "sp ace"}


def test_incremental_extrema_delete_retires_max_and_folds(spark):
    """A delete retiring the current MAX is the case pure +/-
    maintenance cannot see; the value multiset handles it, shared
    values keep refcounts, and per-batch aux partials fold by
    addition to the exact whole-history answer."""
    from tidb_binlog_spark.operators.incremental_agg import (
        coherent_changelog, extrema_from_multiset,
        maintain_group_extrema, value_multiset)
    rows = [
        ("d", "t", 1, 10, 0, 0, "I", 9.0),    # max
        ("d", "t", 2, 20, 0, 1, "I", 4.0),
        ("d", "t", 3, 30, 0, 2, "I", 4.0),    # shared value, refcount 2
        ("d", "t", 1, 40, 0, 3, "D", 9.0),    # retire the max
        ("d", "t", 2, 50, 0, 4, "U", 1.0),    # 4.0 refcount 2 -> 1
    ]
    schema = ("db string, tbl string, pk long, commit_ts long, "
              "seq int, arrival_seq long, op string, val double")
    cl = coherent_changelog(spark.createDataFrame(rows, schema))
    got = maintain_group_extrema(cl, ["db", "tbl"]).collect()
    assert [(r["min_val"], r["max_val"], r["n_distinct_live"])
            for r in got] == [(1.0, 4.0, 2)]   # 9.0 gone, 4.0 survives
    # streaming fold: aux partials per ts-band merged by addition
    parts = []
    for lo, hi in ((0, 20), (20, 40), (40, 99)):
        parts.append(value_multiset(
            cl.filter((F.col("commit_ts") > lo)
                      & (F.col("commit_ts") <= hi)), ["db", "tbl"]))
    merged = (parts[0].unionByName(parts[1]).unionByName(parts[2])
              .groupBy("db", "tbl", "v")
              .agg(F.sum("live_count").alias("live_count")))
    folded = extrema_from_multiset(merged, ["db", "tbl"]).collect()
    assert [(r["min_val"], r["max_val"], r["n_distinct_live"])
            for r in folded] == [(1.0, 4.0, 2)]


def test_parse_ddl_property_roundtrip():
    """Fuzz: any mix of hostile column names (backticks, spaces,
    keyword-lookalikes) and defaults (quotes, commas, parens, signs)
    must round-trip through CREATE TABLE and multi-ADD parsing with
    nothing lost and nothing invented."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from tidb_binlog_spark.operators import schema_evolution as se

    plain_name = st.from_regex(r"[A-Za-z_][A-Za-z0-9_]{0,10}", fullmatch=True)
    wild_name = st.text(
        alphabet=st.characters(
            codec="ascii", min_codepoint=32,
            exclude_characters="`"),
        min_size=1, max_size=12).filter(lambda s: s.strip() == s and s)
    name = st.one_of(plain_name, wild_name)
    default = st.one_of(
        st.none(),
        st.integers(-999, 999).map(str),
        st.text(alphabet=st.characters(codec="ascii", min_codepoint=32,
                                       exclude_characters="\\"),
                max_size=10))
    coltype = st.sampled_from(["INT", "BIGINT", "VARCHAR(10)",
                               "DECIMAL(10,2)", "ENUM('a,b','c)d')"])

    def render(nm, tp, dflt):
        quoted = f"`{nm}`" if not nm.isidentifier() else nm
        out = f"{quoted} {tp}"
        if dflt is not None:
            out += " DEFAULT '" + dflt.replace("'", "''") + "'"
        return out

    @settings(max_examples=120, deadline=None)
    @given(st.lists(st.tuples(name, coltype, default),
                    min_size=1, max_size=5,
                    unique_by=lambda t: t[0]))
    def check(cols):
        defs = ", ".join(render(*c) for c in cols)
        want = {nm: d for nm, _, d in cols}
        # lowercase keyword-lookalike UNQUOTED heads are constraint
        # heads by design; quote them like a client would
        p = se.parse_ddl(f"CREATE TABLE t ({defs})")
        assert p["kind"] == "create_table"
        got = dict(p["columns"])
        lost = {k for k in want
                if k not in got
                and (k.split() or [""])[0].lower()
                in se._CONSTRAINT_HEADS and k.isidentifier()}
        for k in lost:      # unquoted constraint-keyword heads skip
            want.pop(k)
        assert got == want, (defs, p)
        assert p["skipped_columns"] == []
        p2 = se.parse_ddl(f"ALTER TABLE t ADD COLUMN ({defs})")
        got2 = dict(p2["columns"])
        assert got2 == want, (defs, p2)

    check()


def test_multiset_quantiles_rank_through_refcounts(spark):
    """Nearest-rank quantiles off the multiset must count every live
    ROW through its value's refcount, not distinct values: 9 rows of
    value 1.0 and one of 100.0 -> p50 = 1.0, p99 = 100.0."""
    from tidb_binlog_spark.operators.incremental_agg import (
        quantiles_from_multiset)
    aux = spark.createDataFrame(
        [("d", "t", 1.0, 9), ("d", "t", 100.0, 1), ("d", "t", 50.0, 0)],
        "db string, tbl string, v double, live_count long")
    r = quantiles_from_multiset(aux, ["db", "tbl"]).collect()[0]
    assert (r["n_live"], r["p50_val"], r["p90_val"], r["p99_val"]) \
        == (10, 1.0, 1.0, 100.0)   # dead 50.0 invisible


def test_join_aggregate_ivm_retier_moves_partial(spark):
    """Aggregate-over-join IVM: a dimension attribute change moves the
    foreign key's WHOLE partial between groups; unmatched fks surface
    as the NULL group; facts never meet the dimension (broadcast join
    over aggregated partials only)."""
    from tidb_binlog_spark.operators.incremental_agg import (
        coherent_changelog, maintain_join_aggregate)
    rows = [
        ("d", "t", 100, 10, 0, 0, "I", 5.0),   # account A
        ("d", "t", 101, 20, 0, 1, "I", 2.0),   # account B
        ("d", "t", 100, 30, 0, 2, "U", 7.0),
        ("d", "t", 102, 40, 0, 3, "I", 1.5),   # account C: no dim row
    ]
    schema = ("db string, tbl string, pk long, commit_ts long, "
              "seq int, arrival_seq long, op string, val double")
    cl = (coherent_changelog(spark.createDataFrame(rows, schema))
          .withColumn("account", F.col("pk")))
    dim1 = spark.createDataFrame(
        [(100, "gold"), (101, "silver")], "account long, tier string")
    view = {r["tier"]: (r["n_rows"], r["sum_val"])
            for r in maintain_join_aggregate(
                cl, dim1, ["account"], ["tier"]).collect()}
    assert view == {"gold": (1, 7.0), "silver": (1, 2.0),
                    None: (1, 1.5)}
    # re-tier account 100: its whole partial moves, facts untouched
    dim2 = spark.createDataFrame(
        [(100, "silver"), (101, "silver")], "account long, tier string")
    df = maintain_join_aggregate(cl, dim2, ["account"], ["tier"])
    view2 = {r["tier"]: (r["n_rows"], r["sum_val"])
             for r in df.collect()}
    assert view2 == {"silver": (2, 9.0), None: (1, 1.5)}
    plan = (df._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0])   # AQE prints both plans
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan
    # shuffles: pk changelog window, fk partials, dim-group regroup
    assert plan.count("Exchange hashpartitioning") <= 3, plan


def test_incremental_moments_match_bruteforce(spark):
    """Second moments maintained through insert/update/delete deltas
    equal the brute-force mean/variance of the surviving rows."""
    import statistics

    from tidb_binlog_spark.operators.incremental_agg import (
        coherent_changelog, maintain_group_moments)
    rows = [
        ("d", "t", 1, 10, 0, 0, "I", 2.0),
        ("d", "t", 2, 20, 0, 1, "I", 8.0),
        ("d", "t", 3, 30, 0, 2, "I", 5.0),
        ("d", "t", 2, 40, 0, 3, "U", 4.0),
        ("d", "t", 3, 50, 0, 4, "D", 5.0),
    ]
    schema = ("db string, tbl string, pk long, commit_ts long, "
              "seq int, arrival_seq long, op string, val double")
    cl = coherent_changelog(spark.createDataFrame(rows, schema))
    r = maintain_group_moments(cl, ["db", "tbl"]).collect()[0]
    live = [2.0, 4.0]
    assert r["n_rows"] == 2 and r["sum_val"] == 6.0
    assert abs(r["mean_val"] - statistics.mean(live)) < 1e-12
    assert abs(r["var_val"] - statistics.pvariance(live)) < 1e-12


def test_temporal_join_exclusive_boundary_and_open_interval(spark):
    """A fact at EXACTLY a version's valid_to belongs to the NEXT
    version ([from, to) exclusivity); facts after the last version hit
    the open current interval; pre-history facts match nothing."""
    from tidb_binlog_spark.operators import rangejoin
    hist = spark.createDataFrame(
        [(1, 10.0, 100, 200), (1, 20.0, 200, None)],
        "pk long, val double, valid_from long, valid_to long")
    cap = 10_000
    h = (hist.withColumn(
            "valid_end",
            F.least(F.coalesce(F.col("valid_to") - 1, F.lit(cap)),
                    F.lit(cap)))
         .filter(F.col("valid_from") <= F.col("valid_end")))
    facts = spark.createDataFrame(
        [(1, 1, 50), (2, 1, 150), (3, 1, 200), (4, 1, 9999)],
        "fact_id long, pk long, fact_ts long")
    got = {r["fact_id"]: r["val"]
           for r in rangejoin.point_in_interval_join(
               facts, h, on=["pk"], point_ts="fact_ts",
               start_col="valid_from", end_col="valid_end",
               bucket_width=256, how="left").collect()}
    assert got == {1: None, 2: 10.0, 3: 20.0, 4: 20.0}


def test_bootstrap_catchup_converges_for_any_split(spark):
    """Full-dump bootstrap + tail catch-up == one-pass apply for EVERY
    split point: seed images re-enter compaction at their own
    commit_ts with seq/arrival_seq = -1, so any genuine tail event on
    the same key outranks them and a key untouched after the split
    survives unchanged. Deletes in the tail must erase bootstrapped
    keys."""
    from tidb_binlog_spark.operators import ordering
    rows = [(1, "s0", 10, "I", 1), (2, "s0", 20, "I", 2),
            (3, "s0", 30, "U", 1, 0, 7.0), (4, "s0", 40, "D", 2),
            (5, "s0", 50, "I", 3), (6, "s0", 60, "U", 3, 0, 9.0)]
    ok = ordering.ordered_stream(make_changes(spark, rows))
    cols = ["db", "tbl", "pk", "commit_ts", "seq", "arrival_seq",
            "op", "val", "row_json"]
    full = {(r["pk"]): (r["commit_ts"], r["val"])
            for r in compaction.apply_snapshot(ok).collect()}
    for t_split in (0, 10, 30, 40, 55, 60):
        base = (compaction.apply_snapshot(
                    ok.filter(F.col("commit_ts") <= t_split))
                .withColumn("seq", F.lit(-1))
                .withColumn("arrival_seq", F.lit(-1)).select(*cols))
        tail = ok.filter(F.col("commit_ts") > t_split).select(*cols)
        final = (compaction.compact_last_image(base.unionByName(tail))
                 .filter(F.col("op") != "D"))
        got = {r["pk"]: (r["commit_ts"], r["val"])
               for r in final.collect()}
        assert got == full, f"diverged at split {t_split}"


def test_txn_fanout_counts_tables_per_txn(spark):
    """Two events of one txn in different tables count as fanout 2;
    single-table txns land in the n_tables=1 bucket."""
    from tidb_binlog_spark.operators.telemetry import txn_fanout
    ch = make_changes(spark, [
        (1, "s0", 10, "I", 1), (2, "s0", 10, "I", 2),
        (3, "s0", 20, "U", 1), (4, "s1", 10, "I", 5)])
    # route the second event of txn ts=10 to another table
    ch = ch.withColumn(
        "tbl", F.when(F.col("arrival_seq") == 2, "t2").otherwise("t"))
    got = {(r["source_id"], r["n_tables"]): (r["n_txns"], r["n_events"],
                                             r["max_txn_events"])
           for r in txn_fanout(ch).collect()}
    assert got[("s0", 2)] == (1, 2, 2)       # the cross-table txn
    assert got[("s0", 1)] == (1, 1, 1)       # ts=20 single-table
    assert got[("s1", 1)] == (1, 1, 1)


def test_schema_adoption_flags_interleaved_versions(spark):
    """v1 and v2 windows overlap (a v1 writer lags behind the DDL) ->
    v1 flagged interleaved; the last version never is."""
    from tidb_binlog_spark.operators.telemetry import schema_adoption
    ch = make_changes(spark, [
        (1, "s0", 10, "I", 1), (2, "s0", 30, "U", 1),   # v1: ts 10..30
        (3, "s1", 20, "I", 2), (4, "s1", 40, "U", 2),   # v2: ts 20..40
    ])
    ch = ch.withColumn(
        "schema_version",
        F.when(F.col("arrival_seq").isin(1, 2), 1).otherwise(2))
    got = {r["schema_version"]: (r["n_events"], r["first_ts"],
                                 r["last_ts"], r["interleaved"])
           for r in schema_adoption(ch).collect()}
    assert got[1] == (2, 10, 30, True)      # v2 started before v1 ended
    assert got[2] == (2, 20, 40, False)


def test_zorder_key_interleaves_and_bounds_spans(spark):
    """zorder_expr: exact Morton interleave on known values; the
    layout report bounds BOTH dimension spans per file — the zone-map
    pruning property a single-column sort cannot give."""
    from tidb_binlog_spark.operators.layout import (zorder_expr,
                                                    zorder_layout_report)
    import pyspark.sql.functions as F
    got = (spark.range(1)
           .select(F.expr(zorder_expr("5", "3", bits=4)).alias("z"))
           .first()["z"])
    # x=5 (0101) on even bits -> 0b00010001; y=3 (0011) on odd bits
    # -> 0b00001010; interleaved = 0b00011011 = 27
    assert got == 27
    rows = [(x, y) for x in range(64) for y in range(64)]
    df = spark.createDataFrame(rows, "xc long, yc long")
    rep = zorder_layout_report(df, "xc", "yc", bits=6, file_bits=4).collect()
    assert sum(r["n_rows"] for r in rep) == 64 * 64
    assert len(rep) == 16
    for r in rep:   # each of 16 z-range files covers a 16x16 tile
        assert r["x_span"] <= 15 and r["y_span"] <= 15


def test_checkpoint_lag_blames_the_slow_source(spark):
    """A source whose checkpoint trails the others shows the lag and
    every OTHER source's rows above the merge watermark count as
    blocked (the k-way merge cannot emit past the slowest source)."""
    from tidb_binlog_spark.operators.telemetry import checkpoint_lag
    rows = [("fast", 10), ("fast", 50), ("slow", 20), ("fast", 40),
            ("slow", 30), ("fast", 45)]
    ok = spark.createDataFrame(rows, "source_id string, commit_ts long")
    got = {r["source_id"]: r for r in checkpoint_lag(ok).collect()}
    assert got["slow"]["checkpoint_ts"] == 30
    assert got["fast"]["lag_ts"] == 0 and got["slow"]["lag_ts"] == 20
    # watermark = 30: fast has 40,45,50 queued above it; slow has none
    assert got["fast"]["n_blocked"] == 3
    assert got["slow"]["n_blocked"] == 0


def test_rolling_anomaly_flags_spike_not_noise(spark):
    from tidb_binlog_spark.operators.timeseries import rolling_anomaly
    vals = [10.0, 10.1, 9.9, 10.0, 10.1, 9.9, 10.0, 500.0, 10.0]
    rows = [("u1", i, float(i), v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(
        rows, "user_id string, event_id long, ts double, value double")
    got = {r["event_id"]: r for r in
           rolling_anomaly(df, ["user_id"], ["event_id"],
                           "value").collect()}
    assert got[7]["is_anomaly"]            # the 500 spike
    assert not got[0]["is_anomaly"]        # empty trailing frame
    assert not got[1]["is_anomaly"]        # n_trail == 1 never flags
    assert not any(got[i]["is_anomaly"] for i in (2, 3, 4, 5, 6))
    # the row AFTER the spike: the spike inflates trailing variance,
    # so a normal value is not flagged
    assert not got[8]["is_anomaly"]


def test_bot_regularity_flags_metronome_not_human(spark):
    """The PRODUCTION operator (telemetry.interarrival_regularity)
    flags a metronome AND a lightly-jittered long-lived bot (CV^2 is
    n-independent — the flag must not get stricter as n grows); a
    human with wild gaps is not flagged; keys under 5 gaps are
    excluded."""
    from tidb_binlog_spark.operators.telemetry import (
        interarrival_regularity)
    rows = []
    for i in range(10):                       # bot: exactly 60s apart
        rows.append((1, i, i * 60_000_000_000))
    human_gaps = [30, 300, 10, 900, 120, 45, 600]
    t = 0
    for i, g in enumerate(human_gaps):        # human: wild gaps
        t += g * 1_000_000_000
        rows.append((2, 100 + i, t))
    rows += [(3, 200, 0), (3, 201, 1_000_000_000)]   # too few gaps
    t = 0
    for i in range(40):                       # jittered bot: 57s/63s
        t += (57 if i % 2 == 0 else 63) * 1_000_000_000
        rows.append((4, 300 + i, t))          # CV^2 = 0.25% < 1%
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts long")
    got = {r["user_id"]: r for r in interarrival_regularity(df).collect()}
    assert got[1]["is_regular"]
    assert got[4]["is_regular"], "n-grown jittered bot must stay flagged"
    assert not got[2]["is_regular"]
    assert 3 not in got
    assert got[1]["mean_gap_s"] == 60 and got[1]["n_gaps"] == 9


def test_bot_regularity_zero_gap_burst_not_flagged(spark):
    """All-zero gaps (sub-second burst collapsing under whole-second
    quantization) have mean 0 — CV is undefined and the squared test
    0 < 0 is false, so a burst is NOT flagged by the regularity
    detector (rate-based burst detection is a different operator:
    events_overlap_bursts). Pinned so a refactor can't silently turn
    division-free algebra into a divide-by-zero."""
    from tidb_binlog_spark.operators.telemetry import (
        interarrival_regularity)
    rows = [(1, i, i * 1000) for i in range(10)]   # 1 microsecond apart
    df = spark.createDataFrame(rows, "user_id long, event_id long, ts long")
    got = interarrival_regularity(df).collect()
    assert len(got) == 1
    assert got[0]["mean_gap_s"] == 0 and not got[0]["is_regular"]


# ---------------------------------------------------------------------------
# OHLC downsample / salt advisor / multi-touch attribution / OOV rate
# ---------------------------------------------------------------------------

def test_ohlc_downsample_matches_naive(spark):
    from tidb_binlog_spark.operators.timeseries import ohlc_downsample
    rows = [("a", i, (i * 37) % 100 * 10**9, float((i * 13) % 50))
            for i in range(60)] + [("b", 100 + i, i * 10**9, float(i))
                                   for i in range(10)]
    df = spark.createDataFrame(
        rows, "event_type string, event_id long, ts long, value double")
    out = ohlc_downsample(df, ["event_type"], "ts", "value",
                          bucket_ns=20 * 10**9,
                          order_cols=["event_id"]).collect()
    naive = {}
    for et, eid, ts, v in rows:
        b = ts - ts % (20 * 10**9)
        naive.setdefault((et, b), []).append((ts, eid, v))
    assert len(out) == len(naive)
    for r in out:
        pts = sorted(naive[(r.event_type, r.bucket_start)])
        assert r.open == pts[0][2] and r.close == pts[-1][2]
        vals = [p[2] for p in pts]
        assert r.high == max(vals) and r.low == min(vals)
        assert r.n_events == len(vals)
        assert abs(r.volume - sum(vals)) < 1e-6


def test_salt_advisor_bounds(spark):
    from tidb_binlog_spark.operators.skew import salt_advisor
    # one cold key (5 writes), one warm (20), one pathological (500)
    rows = ([(i, "s0", 10 + i, "U", 1) for i in range(5)]
            + [(100 + i, "s0", 200 + i, "U", 2) for i in range(20)]
            + [(1000 + i, "s0", 2000 + i, "U", 3) for i in range(500)])
    ch = make_changes(spark, rows)
    out = {r.pk: r for r in salt_advisor(
        ch, target_rows_per_task=8, max_salts=16).collect()}
    assert 1 not in out                       # under target: not flagged
    assert out[2].n_salts == 3                # ceil(20/8)
    assert out[2].projected_rows_per_task <= 8
    assert out[3].n_salts == 16               # capped at max_salts
    # capped key: projected bound is ceil(n/max_salts), may exceed target
    assert out[3].projected_rows_per_task == (500 + 15) // 16


def test_multitouch_credits_sum_to_one_million(spark):
    from tidb_binlog_spark.operators.funnel import multitouch_attribution
    h = 3_600_000_000_000
    rows = [
        (1, 1, 0 * h, "click"), (1, 2, 1 * h, "click"),
        (1, 3, 2 * h, "click"), (1, 4, 5 * h, "purchase"),
        (1, 5, 20 * h, "purchase"),           # no touches in window
        (2, 6, 0 * h, "click"), (2, 7, 3 * h, "purchase"),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, event_id long, ts long, event_type string")
    out = multitouch_attribution(df, window_ns=6 * h)
    rowsx = out.collect()
    per_conv = {}
    for r in rowsx:
        per_conv.setdefault(r.conversion_id, []).append(r)
    assert set(per_conv) == {4, 7}            # conversion 5 had no touches
    assert sum(r.credit_ppm for r in per_conv[4]) == 1_000_000
    assert len(per_conv[4]) == 3
    # floor split 333333 x2 + remainder to the last touch
    by_rank = sorted(per_conv[4], key=lambda r: r.touch_rank)
    assert [r.credit_ppm for r in by_rank] == [333333, 333333, 333334]
    assert per_conv[7][0].credit_ppm == 1_000_000


def test_oov_rate_identities(spark):
    from tidb_binlog_spark.functions.scoring import oov_rate
    docs = spark.createDataFrame(
        [(0, "a b c", "en", "s0", 5), (1, "a b zz", "en", "s1", 6),
         (2, "qq rr a", "en", "s1", 7)],
        "doc_id long, text string, lang string, source string, n_chars long")
    out = {r.stratum: r for r in oov_rate(docs, vocab_size=3).collect()}
    # vocab = top-3 tokens: a(3), b(2), then ties c/qq/rr/zz(1) -> 'c'
    assert out["s0"].oov_tokens == 0 and out["s0"].oov_ppm == 0
    assert out["s1"].total_tokens == 6
    assert out["s1"].oov_tokens == 3          # zz, qq, rr
    assert out["s1"].oov_types == 3
    assert out["s1"].oov_ppm == 500_000


def test_compaction_plan_matches_naive_packing(spark):
    from tidb_binlog_spark.operators.layout import compaction_plan
    rows = [("p0", i, (i * 131) % 70 + 1) for i in range(40)] \
         + [("p1", i, 120) for i in range(5)]
    df = spark.createDataFrame(rows, "part string, file_id long, bytes long")
    out = compaction_plan(df, ["part"], "file_id", "bytes",
                          target_bytes=100).collect()
    naive = {}
    for part, fid, b in sorted(rows):
        key = (part,)
        off = naive.setdefault(part, {"off": 0, "bins": {}})
        bin_id = off["off"] // 100
        off["bins"].setdefault(bin_id, []).append((fid, b))
        off["off"] += b
    for r in out:
        fids = naive[r.part]["bins"][r.bin_id]
        assert r.n_files == len(fids)
        assert r.bin_bytes == sum(b for _, b in fids)
        assert r.first_file == min(f for f, _ in fids)
        assert r.last_file == max(f for f, _ in fids)
    # every planned file is a run of consecutive files: no partition
    # bin overlaps another's [first_file, last_file] range
    by_part = {}
    for r in out:
        by_part.setdefault(r.part, []).append(r)
    for part, bins in by_part.items():
        bins.sort(key=lambda r: r.bin_id)
        for a, b in zip(bins, bins[1:]):
            assert a.last_file < b.first_file


def test_hll_report_merge_and_error(spark):
    from tidb_binlog_spark.functions.scoring import hll_report
    import random
    rng = random.Random(7)
    vocab = [f"w{i}" for i in range(500)]
    rows = [(i, " ".join(rng.choice(vocab) for _ in range(30)),
             "en", f"s{i % 2}", 0) for i in range(120)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, "
              "n_chars long")
    out = hll_report(docs).collect()
    assert {r.stratum for r in out} == {"s0", "s1"}
    for r in out:
        assert r.merge_equal          # union-of-halves == direct registers
        assert 0 < r.n_set <= 64
        assert r.exact_distinct > 0
        # 64-register HLL: relative error should be well inside 40%
        assert r.err_ppm < 400_000


def test_pagerank_star_centrality_and_exact_arithmetic(spark):
    from tidb_binlog_spark.operators.graph import pagerank
    # undirected star: center 0 <-> leaves 1..5, plus a detached pair
    pairs = [(0, i) for i in range(1, 6)] + [(10, 11)]
    edges = spark.createDataFrame(
        [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs],
        "src long, dst long")
    out = {r.node: r for r in pagerank(edges, iters=3).collect()}
    # python replica of the integer recurrence
    deg = {0: 5, 10: 1, 11: 1, **{i: 1 for i in range(1, 6)}}
    ranks = {n: 1_000_000 for n in deg}
    adj = {}
    for a, b in pairs + [(b, a) for a, b in pairs]:
        adj.setdefault(b, []).append(a)
    for _ in range(3):
        ranks = {n: 150_000 + (85 * sum(ranks[s] // deg[s]
                                        for s in srcs)) // 100
                 for n, srcs in adj.items()}
    for n, r in ranks.items():
        assert out[n].rank_micro == r, n
    # the hub out-centralities: center above every leaf
    assert all(out[0].rank_micro > out[i].rank_micro
               for i in range(1, 6))


def test_pagerank_keeps_source_only_nodes(spark):
    """Directed graph: a node with out-edges but NO in-edges must stay
    in the output at base rank (1-d), not vanish after iteration 1,
    and keep contributing its mass (ADVICE r7)."""
    from tidb_binlog_spark.operators.graph import pagerank
    # 0 -> 1 -> 2 -> 1 (node 0 is source-only; 2<->1 cycle)
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 1)], "src long, dst long")
    out = {r.node: r for r in pagerank(edges, iters=3).collect()}
    # nodes with out-edges all present (2 is a dst too; dangling
    # nodes with no out-edges stay out by the documented contract)
    assert set(out) == {0, 1, 2}
    # source-only node holds exactly the (1-d) base rank every round
    assert out[0].rank_micro == 150_000
    # python replica including 0's contribution each iteration
    deg = {0: 1, 1: 1, 2: 1}
    ranks = {0: 1_000_000, 1: 1_000_000, 2: 1_000_000}
    adj = {1: [0, 2], 2: [1], 0: []}
    for _ in range(3):
        ranks = {n: 150_000 + (85 * sum(ranks[s] // deg[s]
                                        for s in srcs)) // 100
                 for n, srcs in adj.items()}
    for n in (0, 1, 2):
        assert out[n].rank_micro == ranks[n], n


def test_rare_feature_edges_symmetric_and_df_bounded(spark):
    from tidb_binlog_spark.operators.graph import rare_feature_edges
    docs = spark.createDataFrame(
        [(0, "alpha beta gamma delta tail0"),
         (1, "alpha beta gamma delta tail1"),
         (2, "zz yy xx ww vv"),
         (3, "unrelated words entirely here now")],
        "doc_id long, text string")
    e = {(r.src, r.dst) for r in rare_feature_edges(docs, n=4).collect()}
    assert (0, 1) in e and (1, 0) in e      # shared rare 4-gram
    assert not any(2 in p or 3 in p for p in e)


def test_representative_points_picks_spike(spark):
    from tidb_binlog_spark.operators.timeseries import representative_points
    rows = [("a", i, i * 10**9, 10.0) for i in range(10)]
    rows[4] = ("a", 4, 4 * 10**9, 99.5)          # the spike
    df = spark.createDataFrame(
        rows, "event_type string, event_id long, ts long, value double")
    out = representative_points(df, ["event_type"], "ts", "value",
                                "event_id", bucket_ns=100 * 10**9).collect()
    assert len(out) == 1
    assert out[0].rep_event_id == 4 and out[0].rep_value == 99.5
    assert out[0].n_events == 10


def test_int8_quantize_report_exactness(spark):
    from tidb_binlog_spark.functions.similarity import int8_quantize_report
    rows = [(0, [1.0, -1.0, 0.5, 0.0]), (1, [0.0, 0.0, 0.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.vec_id: r for r in int8_quantize_report(df).collect()}
    r0 = out[0]
    assert r0.scale_micro == 1_000_000
    # codes: 127, -127, 63 (floor of 63.5), 0
    assert r0.sum_codes == 127 - 127 + 63 + 0
    assert r0.sum_abs_codes == 127 + 127 + 63
    assert r0.n_saturated == 2
    # err: only the 0.5 component truncates (0.5 - 63/127 = ~0.003937)
    assert 3000 < r0.err_micro < 4500
    r1 = out[1]
    assert r1.scale_micro == 0 and r1.sum_codes == 0
    assert r1.n_saturated == 0 and r1.err_micro == 0


def test_partition_stats_merge_proof_holds_and_detects(spark):
    from tidb_binlog_spark.operators.layout import (
        partition_stats_with_merge_proof)
    df = spark.createDataFrame(
        [(p, i, (i * 7) % 40) for p in ("a", "b", "c")
         for i in range(50)],
        "part string, v long, key long")
    out = partition_stats_with_merge_proof(
        df, "part", "v", "key", k=8).collect()
    g = [r for r in out if r.scope == "GLOBAL"]
    assert len(g) == 1 and g[0].merge_ok
    assert g[0].n_rows == 150 and g[0].min_v == 0 and g[0].max_v == 49
    parts = {r.scope: r for r in out if r.scope != "GLOBAL"}
    assert set(parts) == {"a", "b", "c"}
    assert all(r.merge_ok is None and r.k_used == 8
               for r in parts.values())


def test_decayed_topk_recency_beats_stale_volume(spark):
    """A recent-but-small key outranks a stale-but-large one; events
    older than max_halvings half-lives contribute exactly zero."""
    from tidb_binlog_spark.operators.timeseries import decayed_topk
    hl = 100
    t_max = 10_000
    rows = ([(i, 1, t_max) for i in range(3)]                 # 3 fresh
            + [(10 + i, 2, t_max - 2 * hl) for i in range(10)]  # 10 stale
            + [(30 + i, 3, t_max - 25 * hl) for i in range(50)])  # dead
    d = spark.createDataFrame(rows, "event_id long, user_id long, ts long")
    got = {r["user_id"]: r for r in
           decayed_topk(d, "user_id", "ts", half_life_ns=hl,
                        max_halvings=20, k=10).collect()}
    assert got[1]["decayed_micro"] == 3_000_000      # 3 * 1e6
    assert got[2]["decayed_micro"] == 2_500_000      # 10 * 1e6/4
    assert got[3]["decayed_micro"] == 0              # 1e6 >> 25 -> 0
    assert got[1]["rank"] == 1 and got[2]["rank"] == 2
    assert got[1]["n_recent"] == 3 and got[2]["n_recent"] == 0


def test_dml_mix_drift_flags_mass_delete_window(spark):
    """A table whose mix flips from all-inserts to all-deletes trips
    the drift flag (L1 = 2_000_000 ppm); a steady table never does;
    the first window of any table is unflagged (no predecessor)."""
    from tidb_binlog_spark.operators.telemetry import dml_mix_drift
    rows = []
    for i in range(10):                       # steady: always inserts
        rows.append(("db0", "steady", "I", i * 10))
        rows.append(("db0", "steady", "I", 1000 + i * 10))
    for i in range(10):                       # flip: I -> D
        rows.append(("db0", "flip", "I", i * 10))
        rows.append(("db0", "flip", "D", 1000 + i * 10))
    d = spark.createDataFrame(
        rows, "db string, tbl string, op string, commit_ts long")
    got = {(r["tbl"], r["win"]): r
           for r in dml_mix_drift(d, window_ticks=1000).collect()}
    assert not got[("steady", 0)]["drift_flag"]
    assert not got[("steady", 1)]["drift_flag"]
    assert got[("steady", 1)]["drift_ppm"] == 0
    assert not got[("flip", 0)]["drift_flag"]          # first window
    assert got[("flip", 0)]["drift_ppm"] is None
    assert got[("flip", 1)]["drift_flag"]
    assert got[("flip", 1)]["drift_ppm"] == 2_000_000


def test_growth_accounting_lifecycle_classification(spark):
    """User A (weeks 0,1,3): new, retained, churned-into-2,
    resurrected at 3, no churn row past the horizon. User B (week 0
    only): new then churned-into-1."""
    from tidb_binlog_spark.operators.timeseries import growth_accounting
    wk = 100
    rows = [(1, "A", 0), (2, "A", wk), (3, "A", 3 * wk), (4, "A", 3 * wk + 5),
            (5, "B", 1)]
    d = spark.createDataFrame(rows, "event_id long, user_id string, ts long")
    got = {r["week"]: r for r in
           growth_accounting(d, "user_id", "ts", week_ns=wk).collect()}
    assert got[0]["n_new"] == 2 and got[0]["n_active"] == 2
    assert got[0]["n_churned"] == 0
    assert got[1]["n_retained"] == 1 and got[1]["n_churned"] == 1  # B
    assert got[2]["n_active"] == 0 and got[2]["n_churned"] == 1    # A gap
    assert got[3]["n_resurrected"] == 1 and got[3]["n_churned"] == 0
    assert set(got) == {0, 1, 2, 3}


def test_vocab_growth_checkpoints_and_saturation(spark):
    """Checkpoint vocab counts equal the distinct tokens of the doc
    prefix; a flat segment appears where no new tokens arrive."""
    from tidb_binlog_spark.functions.scoring import vocab_growth
    texts = ["a b", "a", "c", "a d"]
    d = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long")
    got = {r["pct"]: r for r in vocab_growth(d).collect()}
    assert [got[p]["docs_seen"] for p in (25, 50, 75, 100)] == [1, 2, 3, 4]
    assert [got[p]["vocab_size"] for p in (25, 50, 75, 100)] == [2, 2, 3, 4]
    assert all(got[p]["n_docs"] == 4 for p in got)


def test_seasonal_residuals_slot_baseline_flags(spark):
    """A spike is judged against its OWN weekly slot (same dow+hour),
    not a flat mean: the busy slot's normal days never flag, the
    spike day flags high, a quiet day flags low."""
    from tidb_binlog_spark.operators.timeseries import seasonal_residuals
    day, hour = 1000, 100
    rows = []
    eid = 0
    # slot (dow=0, hour=0) across days 0,7,14,21: 12,12,12,50 events
    # (enough normal days that the spike does not drag them below
    # half the slot mean)
    for d, n in ((0, 12), (7, 12), (14, 12), (21, 50)):
        for i in range(n):
            rows.append((eid, d * day + i % hour)); eid += 1
    # slot (dow=1, hour=2): 10,10,10,1 -> day 22 is low
    for d, n in ((1, 10), (8, 10), (15, 10), (22, 1)):
        for i in range(n):
            rows.append((eid, d * day + 2 * hour + i % hour)); eid += 1
    df = spark.createDataFrame(rows, "event_id long, ts long")
    got = {(r["day"], r["hour"]): r
           for r in seasonal_residuals(df, "ts", day, hour).collect()}
    assert got[(21, 0)]["is_high"] and not got[(21, 0)]["is_low"]
    assert not got[(0, 0)]["is_high"] and not got[(0, 0)]["is_low"]
    assert got[(22, 2)]["is_low"] and not got[(22, 2)]["is_high"]
    assert got[(0, 0)]["slot_total"] == 86 and got[(0, 0)]["n_days"] == 4


def test_lsh_accuracy_invariants_and_gray_zone(spark):
    """On a corpus with identical pairs, a gray-zone pair and noise:
    tp is bounded by both sides, the ppm ratios are exact, and the
    planted identical pair is caught by both detectors."""
    import tidb_binlog_spark.functions.dedup as dd
    base = " ".join(f"w{i}" for i in range(30))
    half = " ".join(f"w{i}" for i in range(15)) + " " + \
        " ".join(f"x{i}" for i in range(15))
    texts = [base, base, half] + \
        [" ".join(f"n{j}_{i}" for i in range(20)) for j in range(20)]
    d = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long")
    r = dd.lsh_accuracy(d, threshold_ppm=500_000, df_cap=30).collect()[0]
    assert r["n_tp"] <= min(r["n_pred"], r["n_truth"])
    assert r["n_tp"] >= 1          # the identical pair
    if r["n_pred"]:
        assert r["precision_ppm"] == r["n_tp"] * 1_000_000 // r["n_pred"]
    if r["n_truth"]:
        assert r["recall_ppm"] == r["n_tp"] * 1_000_000 // r["n_truth"]
    # determinism: md5-everything means a rerun is bit-identical
    r2 = dd.lsh_accuracy(d, threshold_ppm=500_000, df_cap=30).collect()[0]
    assert r == r2


def test_lsh_accuracy_truth_invariant_under_witness_rule(spark):
    """The multi-witness candidate rule (min_shared) is a pure
    pruning optimization: a J >= 0.5 pair shares many rare shingles,
    so the truth set — and therefore the whole accuracy report — is
    IDENTICAL at min_shared 1 and 3, while single-witness noise pairs
    (sharing exactly one rare shingle, far below the J threshold)
    leave the candidate set."""
    import tidb_binlog_spark.functions.dedup as dd
    base = " ".join(f"w{i}" for i in range(30))
    near = " ".join(f"w{i}" for i in range(27)) + " q1 q2 q3"
    # noise docs share exactly one 3-gram window with base ("w0 w1 w2"
    # appears once) but nothing else — single-witness candidates
    noise = ["w0 w1 w2 " + " ".join(f"z{j}_{i}" for i in range(25))
             for j in range(6)]
    texts = [base, near] + noise
    d = spark.createDataFrame(
        [(i, t, "en", "s", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long")
    r1 = dd.lsh_accuracy(d, df_cap=30, min_shared=1).collect()[0]
    r3 = dd.lsh_accuracy(d, df_cap=30, min_shared=3).collect()[0]
    assert r1 == r3
    assert r3["n_truth"] >= 1      # the near pair survives the rule


def test_lsh_accuracy_identical_tiny_docs_stay_truth(spark):
    """Review repro: two IDENTICAL 4-token docs have only 2 distinct
    3-gram shingles, fewer than min_shared=3 — the witness
    requirement must cap at the pair's possible shingle count, or a
    perfect J=1.0 duplicate is scored as an LSH false positive."""
    import tidb_binlog_spark.functions.dedup as dd
    tiny = "t0 t1 t2 t3"
    noise = [" ".join(f"n{j}_{i}" for i in range(20)) for j in range(8)]
    d = spark.createDataFrame(
        [(i, t, "en", "s", len(t))
         for i, t in enumerate([tiny, tiny] + noise)],
        "doc_id long, text string, lang string, source string, n_chars long")
    r = dd.lsh_accuracy(d, df_cap=30).collect()[0]
    assert r["n_truth"] >= 1       # the identical tiny pair is truth
    assert r["n_tp"] >= 1          # and the LSH catch scores as tp


def test_markov_attribution_hand_computed_chain(spark):
    """Three journeys (A->conv, A->B->conv, B->end) give a chain whose
    4-step removal effects are hand-computable in exact ppm."""
    from tidb_binlog_spark.operators.funnel import markov_attribution
    rows = [(1, 10, "A", 0), (1, 20, "purchase", 1),
            (2, 10, "A", 2), (2, 20, "B", 3), (2, 30, "purchase", 4),
            (3, 10, "B", 5)]
    d = spark.createDataFrame(
        rows, "user_id long, ts long, event_type string, event_id long")
    got = {r["channel"]: r for r in markov_attribution(d).collect()}
    assert set(got) == {"A", "B"}
    assert got["A"]["full_ppm"] == 666666
    assert got["A"]["removed_ppm"] == 166666
    assert got["A"]["drop_ppm"] == 500000
    assert got["B"]["removed_ppm"] == 333333
    assert got["B"]["drop_ppm"] == 333333
    assert got["A"]["share_ppm"] == 600000
    assert got["B"]["share_ppm"] == 399999


def test_redelivery_proof_identical_on_fixture(spark):
    """The in-query exactly-once proof: replaying every 3rd event
    after the stream leaves every table's snapshot byte-identical
    (the order gate absorbs redeliveries)."""
    import __spark_entry__ as m
    rows = m.queries()["cdc_redelivery_proof"](
        spark, "/root/testdata/sf0.001").collect()
    assert rows and all(r["identical"] for r in rows)
    assert all(r["n_once"] == r["n_replayed"] for r in rows)


def test_retrieval_ndcg_perfect_when_all_relevant(spark):
    """Single-source corpus: every retrieved doc is relevant, so
    NDCG is exactly 1e6 ppm and IDCG equals the discount prefix sum
    for the retrieved count."""
    from tidb_binlog_spark.functions.scoring import (
        NDCG_CUM_MICRO, retrieval_ndcg)
    texts = [f"shared topic words alpha beta doc{i} tail{i % 7}"
             for i in range(40)]
    d = spark.createDataFrame(
        [(i, t, "en", "only", len(t)) for i, t in enumerate(texts)],
        "doc_id long, text string, lang string, source string, n_chars long")
    rows = retrieval_ndcg(d, query_mod=10, k=5).collect()
    assert rows
    for r in rows:
        assert r["ndcg_ppm"] == 1_000_000
        assert r["n_relevant"] == r["n_retrieved"]
        assert r["idcg_micro"] == NDCG_CUM_MICRO[
            min(r["n_retrieved"], 5) - 1]


def test_activity_gini_hand_computed(spark):
    """Two users with counts (1, 9): Gini = 0.4 exactly; uniform
    counts give Gini 0; Lorenz shares are exact ppm."""
    from tidb_binlog_spark.operators.timeseries import activity_gini
    rows = [(i, 1) for i in range(1)] + [(100 + i, 2) for i in range(9)]
    d = spark.createDataFrame(
        [(eid, u) for eid, u in rows], "event_id long, user_id long")
    got = {r["decile"]: r for r in activity_gini(d).collect()}
    assert all(r["gini_ppm"] == 400_000 for r in got.values())
    assert got[5]["n_events"] == 1 and got[5]["cum_events_ppm"] == 100_000
    assert got[10]["n_events"] == 9 and got[10]["cum_events_ppm"] == 1_000_000
    # uniform activity -> zero inequality
    u = spark.createDataFrame([(i, i % 5) for i in range(25)],
                              "event_id long, user_id long")
    assert all(r["gini_ppm"] == 0 for r in activity_gini(u).collect())


def test_holt_forecast_hand_computed_and_clamped(spark):
    """Series (10, 1) per window: level/trend follow the exact
    halving recursion (truncating division on the negative trend) and
    the 3-step forecast clamps at zero. A single-window series keeps
    trend 0."""
    from tidb_binlog_spark.operators.timeseries import holt_forecast
    rows = ([(i, "down", i) for i in range(10)]          # win 0: 10
            + [(100, "down", 1000)]                      # win 1: 1
            + [(200, "flat", 0)])                        # one window
    d = spark.createDataFrame(rows, "event_id long, event_type string, ts long")
    got = {r["event_type"]: r
           for r in holt_forecast(d, "event_type", "ts",
                                  window_ns=1000).collect()}
    down = got["down"]
    # l0=10000,b0=0; l1=(1000+10000+0)//2=5500; b1=trunc(-4500/2)=-2250
    assert down["level_milli"] == 5500 and down["trend_milli"] == -2250
    assert down["f1_milli"] == 3250 and down["f2_milli"] == 1000
    assert down["f3_milli"] == 0    # clamped (would be -1250)
    flat = got["flat"]
    assert flat["n_windows"] == 1
    assert flat["level_milli"] == 1000 and flat["trend_milli"] == 0
    assert flat["f3_milli"] == 1000


def test_peak_concurrency_carries_across_midnight(spark):
    """A session spanning the day boundary counts toward the next
    day's base (carry-in), and same-day overlap peaks are exact."""
    from tidb_binlog_spark.operators.timeseries import peak_concurrency
    rows = ([(i, 1, 50 + 90 * i) for i in range(11)]        # u1 [50,950]
            + [(100, 2, 900), (101, 2, 980), (102, 2, 1060),
               (103, 2, 1100)]                              # u2 [900,1100]
            + [(200, 3, 1050)])                             # u3 [1050]
    d = spark.createDataFrame(rows, "event_id long, user_id long, ts long")
    got = {r["day"]: r for r in
           peak_concurrency(d, gap_ns=100, day_ns=1000).collect()}
    assert got[0]["peak_concurrency"] == 2      # u1 + u2 overlap
    assert got[0]["carry_in"] == 0
    assert got[1]["carry_in"] == 1              # u2 still open
    assert got[1]["peak_concurrency"] == 2      # u2 + u3


def test_conversion_latency_nearest_rank(spark):
    """Two converters at step 1 (latencies 10, 50) give p50=10,
    p90=50; the single step-2 converter pins all quantiles at 20."""
    from tidb_binlog_spark.operators.funnel import conversion_latency
    rows = [(1, "A", "signup", 0), (2, "A", "view", 10),
            (3, "A", "purchase", 30),
            (4, "B", "signup", 0), (5, "B", "view", 50)]
    d = spark.createDataFrame(
        rows, "event_id long, user_id string, event_type string, ts long")
    got = {r["step"]: r for r in conversion_latency(
        d, ["signup", "view", "purchase"]).collect()}
    s1 = got[1]
    assert s1["transition"] == "signup->view" and s1["n_users"] == 2
    assert (s1["min_ns"], s1["p50_ns"], s1["p90_ns"], s1["max_ns"]) \
        == (10, 10, 50, 50)
    s2 = got[2]
    assert s2["n_users"] == 1
    assert (s2["min_ns"], s2["p50_ns"], s2["p90_ns"], s2["max_ns"]) \
        == (20, 20, 20, 20)


def test_ddl_risk_audit_tiers_and_skips(spark):
    """Destructive / additive / operational classification with skip
    accounting: DROP TABLE is destructive and applied, LOCK TABLES is
    operational and skipped, ADD COLUMN is additive."""
    from tidb_binlog_spark.operators.ddl import risk_audit
    rows = [(0, "db0", "DROP TABLE t"),
            (50, "db1", "LOCK TABLES t WRITE"),
            (100, "db0", "ALTER TABLE t ADD COLUMN c INT"),
            (150, "db1", "ALTER TABLE t ADD COLUMN d INT"),
            (200, "db0", "TRUNCATE TABLE t")]
    d = spark.createDataFrame(
        rows, "arrival_seq long, db string, ddl_sql string")
    got = {(r["risk_tier"], r["ddl_kind"]): r
           for r in risk_audit(d).collect()}
    assert got[("destructive", "drop_table")]["n_stmts"] == 1
    assert got[("destructive", "drop_table")]["n_skipped"] == 0
    assert got[("destructive", "truncate")]["n_stmts"] == 1
    assert got[("operational", "other")]["n_skipped"] == 1
    add = got[("additive", "add_column")]
    assert add["n_stmts"] == 2 and add["n_dbs"] == 2
    assert add["first_seq"] == 100 and add["last_seq"] == 150


def test_rfm_segments_quintiles_and_labels(spark):
    """Five users engineered into distinct quintiles: the most
    recent+frequent lands in champions, the stale single-event user
    in dormant; segment user counts sum to the population."""
    from tidb_binlog_spark.operators.timeseries import rfm_segments
    rows = []
    eid = 0
    # user u: u events, last at t=1000*u, each worth u dollars
    for u in range(1, 6):
        for j in range(u):
            rows.append((eid, u, 1000 * u - j, float(u))); eid += 1
    d = spark.createDataFrame(
        rows, "event_id long, user_id long, ts long, value double")
    got = rfm_segments(d).collect()
    by_seg = {}
    for r in got:
        by_seg.setdefault(r["segment"], 0)
        by_seg[r["segment"]] += r["n_users"]
    assert sum(by_seg.values()) == 5
    # users 4 and 5 score >=4 on every dimension -> champions
    champs = {(r["r_score"], r["f_score"], r["m_score"])
              for r in got if r["segment"] == "champions"}
    assert champs == {(4, 4, 4), (5, 5, 5)}
    # user 1: rank 1 everywhere -> scores (1,1,1) -> dormant
    assert any(r["segment"] == "dormant" and r["r_score"] == 1
               for r in got)


def test_dau_wau_mau_trailing_windows(spark):
    """Users active on scattered days: WAU/MAU count trailing 7/30-day
    distinct actives, DAU only the day itself, stickiness exact ppm."""
    from tidb_binlog_spark.operators.timeseries import dau_wau_mau
    day = 1000
    rows = [(1, 1, 0), (2, 2, 0),            # day 0: users 1,2
            (3, 1, 5 * day),                 # day 5: user 1
            (4, 3, 10 * day)]                # day 10: user 3
    d = spark.createDataFrame(rows, "event_id long, user_id long, ts long")
    got = {r["day"]: r for r in dau_wau_mau(d, day_ns=day).collect()}
    assert got[0]["dau"] == 2 and got[0]["wau"] == 2 and got[0]["mau"] == 2
    assert got[5]["dau"] == 1 and got[5]["wau"] == 2   # {u1,u2}: day 0
    assert got[5]["mau"] == 2
    assert got[10]["dau"] == 1 and got[10]["wau"] == 2  # day5 + day10
    assert got[10]["mau"] == 3                          # users 1,2,3
    assert got[10]["stickiness_ppm"] == 1_000_000 // 3


def test_cusum_changepoint_detects_level_shift(spark):
    """A 10->30 level shift peaks CUSUM exactly at the last pre-shift
    window and trips the flag; a steady series stays at zero."""
    from tidb_binlog_spark.operators.timeseries import cusum_changepoint
    rows = []
    eid = 0
    for win in range(20):                  # shift: 10/window then 30
        n = 10 if win < 10 else 30
        for i in range(n):
            rows.append((eid, "shift", win * 100 + i % 100)); eid += 1
    for win in range(20):                  # steady: always 10
        for i in range(10):
            rows.append((eid, "steady", win * 100 + i % 100)); eid += 1
    d = spark.createDataFrame(rows, "event_id long, event_type string, ts long")
    got = {r["event_type"]: r for r in
           cusum_changepoint(d, window_ns=100).collect()}
    sh = got["shift"]
    # cusum_t = W*S_t - t*T peaks at |20*100 - 10*400| = 2000 at win 9
    assert sh["max_abs_cusum"] == 2000 and sh["changepoint_win"] == 9
    assert sh["shift_detected"]
    st = got["steady"]
    assert st["max_abs_cusum"] == 0 and not st["shift_detected"]


def test_asof_diff_matches_independent_snapshots(spark):
    """The added/removed/changed/unchanged counts agree with two
    independently computed last-image snapshots at the same T1/T2."""
    import __spark_entry__ as m
    from pyspark.sql import functions as F
    from tidb_binlog_spark.operators import compaction, ordering
    from tidb_binlog_spark.sources.changestream import change_stream
    sf = "/root/testdata/sf0.001"
    got = {(r["db"], r["tbl"], r["change_type"]): r["n_keys"]
           for r in m.queries()["cdc_asof_diff"](spark, sf).collect()}
    ch = change_stream(spark, sf)
    mx = ch.agg(F.max("commit_ts")).first()[0]
    t1, t2 = mx * 2 // 5, mx * 4 // 5
    ok = ordering.ordered_stream(ch)
    snap = {}
    for t in (t1, t2):
        snap[t] = {((r["db"], r["tbl"]), r["pk"]): r["val"]
                   for r in compaction.apply_snapshot(
                       ok.filter(F.col("commit_ts") <= t)).collect()}
    want = {}
    keys = set(snap[t1]) | set(snap[t2])
    for (tblkey, pk) in keys:
        if (tblkey, pk) not in snap[t1]:
            c = "added"
        elif (tblkey, pk) not in snap[t2]:
            c = "removed"
        elif snap[t1][(tblkey, pk)] != snap[t2][(tblkey, pk)]:
            c = "changed"
        else:
            c = "unchanged"
        k = (tblkey[0], tblkey[1], c)
        want[k] = want.get(k, 0) + 1
    assert got == want and sum(want.values()) > 0


def test_did_uplift_hand_computed(spark):
    """Treated users gain +2.0 after the midpoint, control stays
    flat: DiD = 2000 milli exactly."""
    import __spark_entry__ as m
    rows = [(1, 0, 0, 1.0), (2, 0, 100, 1.0),
            (3, 1, 0, 1.0), (4, 1, 100, 3.0)]
    d = spark.createDataFrame(
        rows, "event_id long, user_id long, ts long, value double")
    from tidb_binlog_spark.operators import timeseries  # noqa: F401
    # replicate the q body on a local frame (the q reads parquet)
    from pyspark.sql import functions as F
    e = d.select((F.col("user_id") % 2 == 1).alias("treated"),
                 F.col("ts"),
                 F.expr("CAST(floor(value * 1000) AS BIGINT)").alias("v"))
    mid = e.agg(F.expr("(MIN(ts) + MAX(ts)) DIV 2").alias("mid"))
    e = (e.crossJoin(F.broadcast(mid))
         .withColumn("after", F.col("ts") >= F.col("mid")))
    cells = (e.groupBy("treated", "after")
             .agg(F.count(F.lit(1)).alias("n"),
                  F.sum("v").cast("bigint").alias("s")))
    got = {(r["treated"], r["after"]): r["s"] // r["n"]
           for r in cells.collect()}
    did = (got[(True, True)] - got[(True, False)]) \
        - (got[(False, True)] - got[(False, False)])
    assert did == 2000


def test_write_amplification_closed_form(spark):
    """The rewrite-output statement counts equal the closed form
    n_ins + 2*n_upd + n_del for every table (amp_check all true)."""
    import __spark_entry__ as m
    rows = m.queries()["cdc_write_amplification"](
        spark, "/root/testdata/sf0.001").collect()
    assert rows and all(r["amp_check"] for r in rows)
    for r in rows:
        assert r["amp_ppm"] >= 1_000_000   # never below 1 stmt/row


def test_basket_lift_hand_computed(spark):
    """Two brands always together lift above independence; a brand
    appearing everywhere has lift exactly 1e6 ppm with anything."""
    import __spark_entry__ as m
    from pyspark.sql import functions as F
    # reproduce the operator body on a local frame
    rows = [  # orders: A+B always co-occur; C in every order
        (1, "A"), (1, "B"), (1, "C"),
        (2, "A"), (2, "B"), (2, "C"),
        (3, "C"), (3, "D"),
        (4, "C"), (4, "D")]
    ob = spark.createDataFrame(rows, "o long, brand string").distinct()
    n = ob.agg(F.countDistinct("o").cast("bigint").alias("n_orders"))
    c = ob.groupBy("brand").agg(F.count(F.lit(1)).alias("c"))
    pairs = (ob.alias("a").join(
                 ob.alias("b"),
                 (F.col("a.o") == F.col("b.o"))
                 & (F.col("a.brand") < F.col("b.brand")))
             .groupBy(F.col("a.brand").alias("ba"),
                      F.col("b.brand").alias("bb"))
             .agg(F.count(F.lit(1)).alias("c_ab")))
    j = (pairs.join(c.select(F.col("brand").alias("ba"),
                             F.col("c").alias("c_a")), "ba")
         .join(c.select(F.col("brand").alias("bb"),
                        F.col("c").alias("c_b")), "bb")
         .crossJoin(F.broadcast(n))
         .withColumn("lift_ppm",
                     F.expr("(c_ab * n_orders * 1000000) "
                            "DIV (c_a * c_b)")))
    got = {(r["ba"], r["bb"]): r["lift_ppm"] for r in j.collect()}
    assert got[("A", "B")] == 2_000_000     # 2*4/(2*2)
    assert got[("A", "C")] == 1_000_000     # independent of universal C
    assert got[("C", "D")] == 1_000_000
