"""Randomized replication equivalence — the dailytest analog
(SURVEY §5): seeded random op workloads over PK'd tables, replayed by
the engine, compared against a straightforward driver-side simulation
(our stand-in for sync_diff_inspector against a real MySQL).
"""

from __future__ import annotations

import random

import pytest

from tests.conftest import make_changes
from tidb_binlog_spark.operators import compaction, ordering
from tidb_binlog_spark.plans.pipeline import ReplicationConfig, build_pipeline


def _random_workload(seed: int, n_ops: int = 300, n_pks: int = 20):
    rng = random.Random(seed)
    rows, cts = [], 0
    for i in range(n_ops):
        cts += rng.randint(1, 5)
        op = rng.choice(["I", "U", "U", "D"])   # update-heavy like dailytest
        pk = rng.randrange(n_pks)
        rows.append((i, f"s{i % 3}", cts, op, pk, 0, round(rng.uniform(0, 100), 2)))
    return rows


def _simulate(rows):
    """Reference semantics in 20 lines: last-writer-wins per pk, D
    removes. (Ops arrive in ascending commit_ts here by construction.)"""
    state = {}
    for _, _, cts, op, pk, _, val in sorted(rows, key=lambda r: r[2]):
        if op == "D":
            state.pop(pk, None)
        else:
            state[pk] = val
    return state


def test_random_replay_matches_simulation(spark):
    for seed in range(3):
        rows = _random_workload(seed)
        ch = make_changes(spark, rows)
        snap = compaction.apply_snapshot(ordering.ordered_stream(ch))
        got = {r["pk"]: r["val"] for r in snap.collect()}
        assert got == _simulate(rows), f"seed {seed}"


def test_random_replay_through_full_pipeline(spark):
    rows = _random_workload(99)
    ch = make_changes(spark, rows)
    out = build_pipeline(ch, ReplicationConfig(compact=True))
    got = {r["pk"]: r["val"] for r in out.filter("op <> 'D'").collect()}
    assert got == _simulate(rows)


def test_compact_wide_stitching_randomized(spark):
    """compact_wide's whole-map stitch rules (merge.go:69-127 over
    Values/OldValues) against a direct simulation: final image = last
    event's values; old image = first update's old_values AFTER the
    last delete, reported only when the merged op is U."""
    rng = random.Random(23)
    rows, cts = [], 0
    for i in range(300):
        cts += 1
        op = rng.choice(["I", "U", "U", "D"])
        pk = rng.randrange(10)
        vals = {"pk": str(pk), "val": str(round(rng.uniform(0, 9), 1)),
                "k": rng.choice(["a", "b", "c"])}
        old = ({"pk": str(pk), "val": str(round(rng.uniform(0, 9), 1)),
                "k": rng.choice(["x", "y"])} if op == "U" else None)
        rows.append(("d", "t", pk, op, cts, 0, i, vals, old))
    ch = spark.createDataFrame(
        rows, "db string, tbl string, pk long, op string, commit_ts long, "
              "seq int, arrival_seq long, values map<string,string>, "
              "old_values map<string,string>")
    from tidb_binlog_spark.operators import compaction as comp
    out = comp.compact_wide(ch)
    got = {}
    for r in out.collect():
        got.setdefault(int(r["pk"]), {})[r["col"]] = (
            r["merged_op"], r["final_val"], r["first_old_val"])

    # simulation
    seqs: dict[int, list] = {}
    for _, _, _, op, cts_, _, _, vals, old in sorted(rows, key=lambda r: r[4]):
        seqs.setdefault(int(vals["pk"]), []).append((op, vals, old))
    for pk, seq in seqs.items():
        ops = [o for o, _, _ in seq]
        last_d = max((i for i, o in enumerate(ops) if o == "D"), default=None)
        last_i = max((i for i, o in enumerate(ops) if o == "I"), default=None)
        if ops[-1] == "D":
            want_op = "D"
        elif last_i is not None and (last_d is None or last_i > last_d):
            want_op = "I"
        else:
            want_op = "U"
        final = seq[-1][1]
        first_old = None
        if want_op == "U":
            for i, (o, _, old) in enumerate(seq):
                if o == "U" and (last_d is None or i > last_d):
                    first_old = old
                    break
        for col in ("pk", "val", "k"):
            want = (want_op, final.get(col),
                    first_old.get(col) if first_old else None)
            assert got[pk][col] == want, f"pk {pk} col {col}"


def test_random_bloom_membership_never_false_negative(spark):
    """Randomized corpora (overlapping seen/new, duplicates inside
    both, tiny filters to force false positives): a seen doc is ALWAYS
    bloom-positive, and admission (NOT seen_exact) always equals the
    plain hash anti-join — the contract that makes the pre-filter safe
    to deploy at any m/k sizing."""
    from tidb_binlog_spark.functions.dedup import bloom_membership

    def docs(texts, start=0):
        return spark.createDataFrame(
            [(start + i, t) for i, t in enumerate(texts)],
            "doc_id long, text string")

    for seed in range(3):
        rng = random.Random(1000 + seed)
        vocab = [f"w{j}" for j in range(30)]
        mk = lambda: " ".join(rng.choice(vocab)  # noqa: E731
                              for _ in range(rng.randint(1, 8)))
        seen_texts = [mk() for _ in range(60)]
        new_texts = ([rng.choice(seen_texts) for _ in range(20)]
                     + [mk() for _ in range(40)])
        seen, new = docs(seen_texts), docs(new_texts, start=1000)
        out = bloom_membership(new, seen, m_bits=128,
                               k_hashes=3).collect()
        seen_set = set(seen_texts)
        for r in out:
            t = new_texts[r["doc_id"] - 1000]
            if t in seen_set:
                assert r["maybe_seen"] and r["seen_exact"], \
                    f"seed {seed}: false negative on doc {r['doc_id']}"
            assert r["seen_exact"] == (t in seen_set)
            assert r["false_positive"] == (
                r["maybe_seen"] and not r["seen_exact"])


# -- both apply paths against the single path's statements -------------

_PATH_SETUP = (
    # a: PK-only, so the SQL applier takes the batch path
    "CREATE TABLE IF NOT EXISTS a (pk INTEGER PRIMARY KEY, val REAL, s TEXT)",
    # b: a sink UNIQUE key, so it keeps the single, causality-routed path
    "CREATE TABLE IF NOT EXISTS b (pk INTEGER PRIMARY KEY, val REAL, k TEXT)",
    "CREATE UNIQUE INDEX IF NOT EXISTS uk_bk ON b(k)",
)


def _model_step(state, tbl, pk, op, image, safe):
    """One event as the single path executes it: safe mode applies
    I as REPLACE and U as DELETE + REPLACE; strict mode applies INSERT
    (generated only for a missing key), UPDATE (a missing row stays
    missing) and DELETE."""
    rows = state[tbl]
    if op == "D":
        rows.pop(pk, None)
    elif safe or op == "I" or pk in rows:
        rows[pk] = image


def _image(tbl, pk, val, s):
    return (val, s) if tbl == "a" else (val, f"k{pk}")


def _path_rows(spark, events):
    import json
    full = []
    for arrival, cts, tbl, pk, op, val, s in events:
        rj = json.dumps({"s": s} if s is not None else {}) \
            if tbl == "a" else json.dumps({"k": f"k{pk}"})
        full.append((arrival, "s0", cts, cts - 1, op, "db0", tbl, pk, 0, 1,
                     val, rj))
    from tidb_binlog_spark.streaming.pipeline import CHANGE_SCHEMA
    return spark.createDataFrame(full, CHANGE_SCHEMA)


def _downstream(db_dir):
    import os
    import sqlite3

    from tidb_binlog_spark.sinks import jdbc
    conn = sqlite3.connect(os.path.join(db_dir, jdbc.SHARED_DB_NAME))
    try:
        return {t: {pk: (v, x) for pk, v, x in conn.execute(
                    f"SELECT pk, val, {c} FROM {t}")}
                for t, c in (("a", "s"), ("b", "k"))}
    finally:
        conn.close()


def _catalog(db_dir):
    import os
    import sqlite3

    from tidb_binlog_spark.sinks import catalog as cat_mod
    from tidb_binlog_spark.sinks import jdbc

    def fetch(schema, table):
        conn = sqlite3.connect(os.path.join(db_dir, jdbc.SHARED_DB_NAME))
        try:
            return cat_mod.fetch_table_info_sqlite(conn, schema, table)
        finally:
            conn.close()
    return cat_mod.SinkCatalog(fetch)


@pytest.mark.parametrize("seed", [0, 1, 2, 3])
def test_apply_paths_match_single_path_model(spark, tmp_path, monkeypatch,
                                             seed):
    """Seeded property test of the SQL applier's two paths. A random
    initial downstream, random per-key I/U/D histories (D->I, U on a
    missing row, I on a live row in safe mode) over a PK-only table
    (batch path) next to a UK table (single path), cut into random
    micro-batches, safe mode on for even seeds and off for odd ones.
    The downstream must equal a driver-side model that executes the
    single path's statements one by one; in strict mode an INSERT on a
    live key must still raise. The batch path's chunk size is drawn
    too, so a key's DELETE and INSERT can share a chunk of several."""
    import os
    import sqlite3

    from tidb_binlog_spark.operators.safe_mode import SafeModeWindow
    from tidb_binlog_spark.sinks import jdbc, sqlgen
    from tidb_binlog_spark.streaming.pipeline import SqlBatchApplier

    rng = random.Random(5150 + seed)
    safe = seed % 2 == 0
    monkeypatch.setattr(sqlgen, "BATCH_KEYS", rng.choice([2, 3, 128]))
    db_dir = str(tmp_path / "db")
    jdbc.ensure_downstream(db_dir, _PATH_SETUP)
    state = {"a": {}, "b": {}}
    conn = sqlite3.connect(os.path.join(db_dir, jdbc.SHARED_DB_NAME))
    for tbl in ("a", "b"):
        for pk in rng.sample(range(10), 4):
            img = _image(tbl, pk, round(rng.uniform(0, 9), 1), f"i{pk}")
            conn.execute(f"INSERT INTO {tbl} VALUES (?, ?, ?)", (pk, *img))
            state[tbl][pk] = img
    conn.commit()
    conn.close()

    events, cts = [], 100
    for i in range(60):
        tbl, pk = rng.choice("ab"), rng.randrange(10)
        op = rng.choice("IUD")
        if op == "I" and pk in state[tbl] and not safe:
            op = rng.choice("UD")       # strict: the duplicate is below
        val = None if rng.random() < 0.1 else round(rng.uniform(0, 99), 2)
        s = rng.choice([None, f"v{i}", f"it's {i}"])
        cts += rng.randint(1, 3)
        events.append((i, cts, tbl, pk, op, val, s))
        _model_step(state, tbl, pk, op, _image(tbl, pk, val, s), safe)

    window = SafeModeWindow(configured=True) if safe \
        else SafeModeWindow(duration_s=0.0)
    applier = SqlBatchApplier(db_dir, setup_sql=_PATH_SETUP, num_workers=3,
                              window=window, catalog=_catalog(db_dir))
    cuts = sorted(rng.sample(range(1, len(events)), rng.randint(0, 3)))
    for lo, hi in zip([0, *cuts], [*cuts, len(events)]):
        applier.apply(_path_rows(spark, events[lo:hi]))
    assert _downstream(db_dir) == state, f"seed {seed} (safe={safe})"
    assert jdbc.load_checkpoint(db_dir)[0] == cts, f"seed {seed}"

    if not safe:
        live = sorted(state["a"])
        assert live, f"seed {seed}: no live batch-path key to duplicate"
        dup = [(100, cts + 1, "a", rng.choice(live), "I", 1.0, None)]
        with pytest.raises(Exception, match="(?i)unique|integrity"):
            applier.apply(_path_rows(spark, dup))
