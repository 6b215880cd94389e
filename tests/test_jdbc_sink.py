"""End-to-end executed-SQL sink: change stream -> safe-mode rewrite ->
statement generation -> per-worker execution into SQLite -> downstream state
equals the engine's own snapshot (the sync-diff check against a real
SQL database, reference tests/_utils/check_data).
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F

from tests.conftest import make_changes
from tidb_binlog_spark.operators import compaction, ordering, safe_mode
from tidb_binlog_spark.sinks import jdbc, sqlgen


def test_sqlite_apply_matches_snapshot(spark, tmp_path):
    rng = random.Random(11)
    rows, cts = [], 0
    for i in range(250):
        cts += 1
        rows.append((i, "s0", cts, rng.choice(["I", "U", "U", "D"]),
                     rng.randrange(12), 0, round(rng.uniform(0, 99), 2)))
    ch = make_changes(spark, rows)

    # loader path: idempotent safe-mode ops -> statements -> workers
    rewritten = safe_mode.safe_mode_rewrite(ch)
    stmts = sqlgen.generate_sql(rewritten, dialect="sqlite") \
        .withColumn("worker_id", F.pmod(F.col("pk"), F.lit(3)))
    db_dir = str(tmp_path / "dbs")
    jdbc.apply_statements(
        stmts, db_dir, num_workers=3,
        setup_sql=("CREATE TABLE IF NOT EXISTS `t` "
                   "(pk INTEGER PRIMARY KEY, val REAL)",))

    applied = jdbc.read_applied(spark, db_dir, "`t`", ["pk", "val"])
    got = {r["pk"]: round(r["val"], 2) for r in applied.collect()}

    snap = compaction.apply_snapshot(ordering.ordered_stream(ch))
    want = {r["pk"]: round(r["val"], 2) for r in snap.collect()}
    assert got == want


def test_sqlite_reapply_is_idempotent(spark, tmp_path):
    ch = make_changes(spark, [(1, "s0", 10, "I", 1, 0, 2.0),
                              (2, "s0", 20, "U", 1, 0, 5.0)])
    rewritten = safe_mode.safe_mode_rewrite(ch)
    stmts = sqlgen.generate_sql(rewritten, dialect="sqlite") \
        .withColumn("worker_id", F.lit(0))
    db_dir = str(tmp_path / "dbs")
    setup = ("CREATE TABLE IF NOT EXISTS `t` (pk INTEGER PRIMARY KEY, val REAL)",)
    jdbc.apply_statements(stmts, db_dir, num_workers=1, setup_sql=setup)
    jdbc.apply_statements(stmts, db_dir, num_workers=1, setup_sql=setup)  # replay
    applied = jdbc.read_applied(spark, db_dir, "`t`", ["pk", "val"]).collect()
    assert [(r["pk"], r["val"]) for r in applied] == [(1, 5.0)]


def test_transient_failures_retry_to_convergence(spark, tmp_path):
    """Injected transient errors (first 2 attempts per statement fail)
    must be retried until the downstream still converges to the oracle
    snapshot — pkg/loader/load.go:40-45 retry semantics."""
    ch = make_changes(spark, [(1, "s0", 10, "I", 1, 0, 2.0),
                              (2, "s0", 20, "U", 1, 0, 5.0),
                              (3, "s0", 30, "I", 2, 0, 7.0)])
    rewritten = safe_mode.safe_mode_rewrite(ch)
    stmts = sqlgen.generate_sql(rewritten, dialect="sqlite") \
        .withColumn("worker_id", F.lit(0))
    db_dir = str(tmp_path / "dbs")

    def flaky(counts={}):
        def inject(sql_text):
            n = counts.get(sql_text, 0)
            counts[sql_text] = n + 1
            if n < 2:
                raise RuntimeError(f"transient #{n}: {sql_text[:30]}")
        return inject

    jdbc.apply_statements(
        stmts, db_dir, num_workers=1,
        setup_sql=("CREATE TABLE IF NOT EXISTS `t` "
                   "(pk INTEGER PRIMARY KEY, val REAL)",),
        retry=jdbc.RetryPolicy(max_retries=5, backoff_s=0.001),
        inject=flaky())
    applied = jdbc.read_applied(spark, db_dir, "`t`", ["pk", "val"])
    assert {r["pk"]: r["val"] for r in applied.collect()} == {1: 5.0, 2: 7.0}


def test_retry_exhaustion_raises(spark, tmp_path):
    ch = make_changes(spark, [(1, "s0", 10, "I", 1, 0, 2.0)])
    stmts = sqlgen.generate_sql(
        safe_mode.safe_mode_rewrite(ch), dialect="sqlite") \
        .withColumn("worker_id", F.lit(0))

    def always_fail(sql_text):
        raise RuntimeError("permanently down")

    import pytest
    with pytest.raises(Exception):
        jdbc.apply_statements(
            stmts, str(tmp_path / "dbs"), num_workers=1,
            setup_sql=("CREATE TABLE IF NOT EXISTS `t` "
                       "(pk INTEGER PRIMARY KEY, val REAL)",),
            retry=jdbc.RetryPolicy(max_retries=2, backoff_s=0.001),
            inject=always_fail)


def test_refresh_hook_fires_once_then_converges(spark, tmp_path):
    """ErrColumnNotExists analog: the first failure triggers the
    table-info refresh hook (executor.go:336-405), which fixes the
    schema; the retry then succeeds."""
    ch = make_changes(spark, [(1, "s0", 10, "I", 1, 0, 3.0)])
    stmts = sqlgen.generate_sql(
        safe_mode.safe_mode_rewrite(ch), dialect="sqlite") \
        .withColumn("worker_id", F.lit(0))
    db_dir = str(tmp_path / "dbs")

    def refresh(conn, sql_text, exc):
        # "refresh table info": create the missing table
        conn.execute("CREATE TABLE IF NOT EXISTS `t` "
                     "(pk INTEGER PRIMARY KEY, val REAL)")

    # no setup_sql: the table is missing until the refresh hook runs
    jdbc.apply_statements(
        stmts, db_dir, num_workers=1,
        retry=jdbc.RetryPolicy(max_retries=3, backoff_s=0.001,
                               on_refresh=refresh))
    applied = jdbc.read_applied(spark, db_dir, "`t`", ["pk", "val"])
    assert {r["pk"]: r["val"] for r in applied.collect()} == {1: 3.0}


def test_refresh_retries_non_transient_error_once(spark, tmp_path):
    """A NON-transient driver error (ProgrammingError — the
    MySQL-driver class ErrColumnNotExists surfaces as) must still get
    exactly one post-refresh retry: the reference refreshes the table
    info and re-runs the statement (loader/executor.go:336-405); only
    if it fails AGAIN is the error fatal. Before the fix the
    is_transient check raised before the post-refresh attempt."""
    class ProgrammingError(Exception):
        pass   # name is what default_is_transient classifies on

    assert not jdbc.default_is_transient(ProgrammingError())

    ch = make_changes(spark, [(1, "s0", 10, "I", 1, 0, 3.0)])
    stmts = sqlgen.generate_sql(
        safe_mode.safe_mode_rewrite(ch), dialect="sqlite") \
        .withColumn("worker_id", F.lit(0))
    db_dir = str(tmp_path / "dbs")

    state = {"refreshed": False, "refresh_calls": 0}

    def inject(sql_text):
        # stale catalog: every execute fails with the deterministic
        # driver error until the refresh hook has run
        if not state["refreshed"]:
            raise ProgrammingError(f"no such column: {sql_text[:30]}")

    def refresh(conn, sql_text, exc):
        state["refresh_calls"] += 1
        state["refreshed"] = True

    jdbc.apply_statements(
        stmts, db_dir, num_workers=1,
        setup_sql=("CREATE TABLE IF NOT EXISTS `t` "
                   "(pk INTEGER PRIMARY KEY, val REAL)",),
        retry=jdbc.RetryPolicy(max_retries=3, backoff_s=0.001,
                               on_refresh=refresh),
        inject=inject)
    applied = jdbc.read_applied(spark, db_dir, "`t`", ["pk", "val"])
    assert {r["pk"]: r["val"] for r in applied.collect()} == {1: 3.0}

    # a second statement batch re-arms the per-statement refresh;
    # with no refresh hook the same error class must still be fatal
    state["refreshed"] = False
    import pytest
    with pytest.raises(Exception) as ei:
        jdbc.apply_statements(
            stmts, db_dir, num_workers=1,
            retry=jdbc.RetryPolicy(max_retries=3, backoff_s=0.001),
            inject=inject)
    assert "ProgrammingError" in str(ei.getrepr())


def test_colliding_worker_ids_use_separate_connections(spark, tmp_path):
    """Two distinct worker_ids hashed into one Spark partition must
    still commit as separate workers (the connection-per-worker
    contract): one cursor row per worker next to the topic floor, all
    in the one downstream database."""
    ch = make_changes(spark, [(1, "s0", 10, "I", 1, 0, 1.0),
                              (2, "s0", 20, "I", 2, 0, 2.0),
                              (3, "s0", 30, "I", 3, 0, 3.0),
                              (4, "s0", 40, "I", 4, 0, 4.0)])
    stmts = sqlgen.generate_sql(
        safe_mode.safe_mode_rewrite(ch), dialect="sqlite") \
        .withColumn("worker_id", F.pmod(F.col("pk"), F.lit(4)))
    db_dir = str(tmp_path / "dbs")
    # num_workers=1: ALL worker ids land in one partition
    jdbc.apply_statements(
        stmts, db_dir, num_workers=1,
        setup_sql=("CREATE TABLE IF NOT EXISTS `t` "
                   "(pk INTEGER PRIMARY KEY, val REAL)",),
        checkpoint_ts=40)
    import os as _os
    import sqlite3
    assert [f for f in _os.listdir(db_dir) if f.endswith(".db")] == \
        [jdbc.SHARED_DB_NAME]
    conn = sqlite3.connect(_os.path.join(db_dir, jdbc.SHARED_DB_NAME))
    cursors = sorted(conn.execute(
        f"SELECT topic_name, ts FROM {jdbc.CKPT_TABLE}").fetchall())
    conn.close()
    assert cursors == [("default", 40), ("default@0", 40),
                       ("default@1", 40), ("default@2", 40),
                       ("default@3", 40)]
    applied = jdbc.read_applied(spark, db_dir, "`t`", ["pk", "val"])
    assert {r["pk"]: r["val"] for r in applied.collect()} == \
        {1: 1.0, 2: 2.0, 3: 3.0, 4: 4.0}


def test_wide_model_end_to_end_sqlite(spark, tmp_path):
    """Map row model all the way to an executed downstream: wide events
    -> generate_sql_wide (PRIMARY-key WHERE from old_values on update,
    row image on delete) -> per-worker apply into SQLite -> final state
    check."""
    schema = ("db string, tbl string, op string, commit_ts long, "
              "seq int, sub_seq int, "
              "values map<string,string>, old_values map<string,string>")
    rows = [
        ("d", "t", "I", 10, 0, 0, {"pk": "1", "val": "a", "k": "x"}, None),
        ("d", "t", "I", 20, 0, 0, {"pk": "2", "val": "b", "k": "y"}, None),
        ("d", "t", "U", 30, 0, 0, {"pk": "1", "val": "a2", "k": "x2"},
         {"pk": "1", "val": "a", "k": "x"}),
        ("d", "t", "D", 40, 0, 0, {"pk": "2", "val": "b", "k": "y"}, None),
        # k absent from the image -> renders as SQL NULL
        ("d", "t", "I", 50, 0, 0, {"pk": "3", "val": "c"}, None),
    ]
    ch = spark.createDataFrame(rows, schema)
    info = sqlgen.TableInfo(columns=("pk", "val", "k"),
                            unique_keys=(("PRIMARY", ("pk",)),))
    stmts = (sqlgen.generate_sql_wide(ch, info, dialect="sqlite")
             .withColumn("worker_id",
                         F.pmod(F.element_at("values", "pk").cast("long"),
                                F.lit(2))))
    db_dir = str(tmp_path / "dbs")
    jdbc.apply_statements(
        stmts, db_dir, num_workers=2,
        setup_sql=("CREATE TABLE IF NOT EXISTS `t` "
                   "(pk TEXT PRIMARY KEY, val TEXT, k TEXT)",))
    applied = jdbc.read_applied(spark, db_dir, "`t`", ["pk", "val", "k"])
    got = {r["pk"]: (r["val"], r["k"]) for r in applied.collect()}
    assert got == {"1": ("a2", "x2"), "3": ("c", None)}


def test_escaping_roundtrips_arbitrary_strings(spark, tmp_path):
    """Property: any string value survives statement generation and
    SQLite execution byte-for-byte (the parameterized-statement safety
    contract of pkg/loader/model.go, held by literal escaping here).
    Hypothesis drives quotes, backslashes, unicode, and SQL fragments
    through the full generate -> execute -> read path."""
    from hypothesis import given, settings, HealthCheck
    from hypothesis import strategies as st

    tricky = st.text(
        alphabet=st.characters(blacklist_categories=("Cs",),
                               blacklist_characters="\x00"),
        min_size=0, max_size=40)

    example_no = iter(range(10**9))

    @settings(max_examples=15, deadline=None,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(vals=st.lists(tricky, min_size=1, max_size=4, unique=True))
    def run(vals):
        rows = [("d", "t", "I", i * 10, 0, 0, i, v)
                for i, v in enumerate(vals)]
        ch = spark.createDataFrame(
            rows, "db string, tbl string, op string, commit_ts long, "
                  "seq int, sub_seq int, pk long, val string")
        stmts = sqlgen.generate_sql(
            ch, pk_cols=("pk",), value_cols=("pk", "val"),
            dialect="sqlite").withColumn("worker_id", F.lit(0))
        # dir must be unique PER EXAMPLE, not per content: hypothesis
        # can generate the same vals twice (or replay while shrinking),
        # and re-applying inserts into an existing db violates the pk —
        # the historical flake in this test (r2/r4)
        db_dir = str(tmp_path / f"dbs_{next(example_no)}")
        jdbc.apply_statements(
            stmts, db_dir, num_workers=1,
            setup_sql=("CREATE TABLE IF NOT EXISTS `t` "
                       "(pk INTEGER PRIMARY KEY, val TEXT)",))
        applied = jdbc.read_applied(spark, db_dir, "`t`", ["pk", "val"])
        got = {r["pk"]: r["val"] for r in applied.collect()}
        assert got == {i: v for i, v in enumerate(vals)}

    run()


def test_execute_ddl_replay_is_tolerated(tmp_path):
    """Crash-replay of a DDL (restart between the DDL commit and the
    immediate checkpoint save) must converge: re-executing an applied
    ALTER/CREATE/DROP is swallowed as already-applied, while a
    genuinely broken DDL still raises."""
    import os
    import sqlite3

    import pytest
    from tidb_binlog_spark.sinks import jdbc

    db_dir = str(tmp_path / "db")
    jdbc.ensure_downstream(db_dir, (
        "CREATE TABLE IF NOT EXISTS t (pk INTEGER PRIMARY KEY)",))
    jdbc.execute_ddl(db_dir, "ALTER TABLE t ADD COLUMN c TEXT")
    # replay: same DDL again -> duplicate column, tolerated
    jdbc.execute_ddl(db_dir, "ALTER TABLE t ADD COLUMN c TEXT")
    # replayed drop of an already-dropped column: tolerated
    jdbc.execute_ddl(db_dir, "ALTER TABLE t DROP COLUMN c")
    jdbc.execute_ddl(db_dir, "ALTER TABLE t DROP COLUMN c")
    conn = sqlite3.connect(os.path.join(db_dir, jdbc.SHARED_DB_NAME))
    cols = [r[1] for r in conn.execute("PRAGMA table_info(t)")]
    conn.close()
    assert cols == ["pk"]
    # a genuinely malformed DDL still surfaces
    with pytest.raises(Exception):
        jdbc.execute_ddl(db_dir, "ALTER TABLZZZ t ADD COLUMN x",
                         retry=jdbc.RetryPolicy(max_retries=1,
                                                backoff_s=0))
    # tolerance is scoped to the DDL's own effect: an ADD COLUMN
    # against a MISSING table is divergence, not a replay, and raises
    with pytest.raises(Exception):
        jdbc.execute_ddl(db_dir, "ALTER TABLE missing ADD COLUMN x TEXT",
                         retry=jdbc.RetryPolicy(max_retries=1,
                                                backoff_s=0))
