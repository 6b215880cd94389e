"""Statement-executing sink: the loader executor analog.

Reference: pkg/loader/executor.go:179-443 executes the generated
statements against the downstream over N workers, each worker applying
its causality group's statements in order; pkg/loader/load.go:40-45
retries DML 100x and DDL 5x with 1s backoff; executor.go:336-405
refreshes the cached table info on ErrColumnNotExists and retries once
more.

Spark form: statements are repartitioned by worker id and each
partition executes its statements IN ORDER through a DB-API
connection. The downstream is ONE database — the reference's topology
(executor.go: N workers, one MySQL) — and its checkpoint table lives
in it, committed with the rows (arbiter/checkpoint.go). The local
target is the SQLite file <db_dir>/downstream.db; a production target
swaps ``_connect`` for a MySQL/JDBC driver, nothing else changes.

Ordering contract: within a partition the rows MUST already be sorted
by (commit_ts, seq, sub_seq) — repartition + sortWithinPartitions is
the caller's job (provided by ``apply_statements``).

The streaming SQL applier hands this sink both of its apply paths in
one call. Single-path rows are one statement per event, with a
causality group as worker. Batch-path rows are merged keys routed by
key; each worker applies a table's keys in pk order as the multi-row
statements of ``sqlgen.chunk_statements``, with ``?`` parameters, in
chunks of up to ``sqlgen.BATCH_KEYS`` keys (see _apply_merged).

Hash-partitioning note: two distinct worker_ids can land in the same
Spark partition; run_partition therefore groups rows by worker_id and
commits each worker's rows and cursor as its own transaction, one
after another — the one-connection-per-worker contract holds
regardless of the hash layout.
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import sqlgen

# reference retry policy (pkg/loader/load.go:40-45)
MAX_DML_RETRY = 100
MAX_DDL_RETRY = 5

# downstream checkpoint table (arbiter/checkpoint.go:40-78): the
# savepoint lives IN the target DB and commits atomically with the
# applied rows, so a crash can never separate data from cursor.
CKPT_TABLE = "_binlog_checkpoint"
CKPT_SETUP = (f"CREATE TABLE IF NOT EXISTS {CKPT_TABLE}("
              f"topic_name TEXT PRIMARY KEY, ts BIGINT NOT NULL, "
              f"status INT NOT NULL)")
STATUS_RUNNING = 0   # arbiter/server.go StatusRunning
STATUS_NORMAL = 1    # graceful shutdown (server.go:220)

# the downstream database: every worker connects to this one file;
# per-worker cursors live under "<topic>@<worker_id>" rows of
# CKPT_TABLE, next to the plain "<topic>" floor row
SHARED_DB_NAME = "downstream.db"


def _connect(db_dir: str, create: bool = True):
    """Open the downstream database. SQLite serializes concurrent
    writers through its file lock; the busy timeout makes a writer
    wait for a sibling's commit instead of failing. With ``create``
    off, a downstream that was never set up gives None instead of a
    new empty file."""
    import sqlite3
    path = os.path.join(db_dir, SHARED_DB_NAME)
    if not create and not os.path.exists(path):
        return None
    conn = sqlite3.connect(path)
    conn.execute("PRAGMA busy_timeout=30000")
    return conn


class RetryPolicy:
    """Retry/backoff policy for transient downstream errors.

    ``max_retries`` per statement, sleeping ``backoff_s`` between
    attempts (the reference sleeps 1s; tests shrink it). ``on_refresh``
    is the ErrColumnNotExists hook: called once per failing statement
    before the next attempt, giving the caller a chance to refresh
    downstream table info / re-create a missing column
    (executor.go:336-405 evict-and-refresh)."""

    def __init__(self, max_retries: int = MAX_DML_RETRY,
                 backoff_s: float = 1.0,
                 on_refresh=None,
                 is_transient=None):
        self.max_retries = max_retries
        self.backoff_s = backoff_s
        self.on_refresh = on_refresh
        self.is_transient = is_transient if is_transient is not None \
            else default_is_transient


def default_is_transient(exc: Exception) -> bool:
    """Retryability classification — the analog of the reference's
    retryable-error-code check (pkg/sql retries only connection/lock
    errors). Schema and constraint violations are deterministic:
    retrying a syntax error or duplicate key 100x just stalls the
    worker. Name-based so no DB driver import is required."""
    name = type(exc).__name__
    if name in ("IntegrityError", "ProgrammingError", "DataError",
                "NotSupportedError", "TypeError"):
        return False
    return True


def _execute_with_retry(conn, sql_text: str, policy: RetryPolicy,
                        inject=None, params=()) -> None:
    refreshed = False
    attempt = 0
    while True:
        try:
            if inject is not None:
                inject(sql_text)   # test hook: raises to simulate a flake
            conn.execute(sql_text, params)
            return
        except Exception as exc:
            # the refresh hook fires once per statement, mirroring the
            # single evict-and-refresh the reference does for
            # ErrColumnNotExists (loader/executor.go singleExecRetry:
            # refresh table info, then re-run the statement). The
            # post-refresh retry happens REGARDLESS of transience —
            # an unknown-column ProgrammingError is deterministic
            # against the stale catalog but may succeed against the
            # refreshed one.
            if policy.on_refresh is not None and not refreshed:
                refreshed = True
                policy.on_refresh(conn, sql_text, exc)
                if attempt < policy.max_retries:
                    attempt += 1
                    time.sleep(policy.backoff_s)
                    continue
            if attempt >= policy.max_retries or not policy.is_transient(exc):
                # name the statement SHAPE in the raised error — a
                # worker failure at scale is undebuggable from the
                # bare driver-side "constraint failed" text alone.
                # Verb + target only, never literals: the full text
                # carries row values, which must not leak into logs /
                # error trackers if this helper fronts a real
                # database (ADVICE r11).
                if hasattr(exc, "add_note"):
                    head = " ".join(sql_text.split()[:3])
                    exc.add_note(f"statement shape: {head[:120]} ... "
                                 f"({len(sql_text)} chars)")
                raise
            attempt += 1
            time.sleep(policy.backoff_s)


def _apply_merged(conn, tbl: str, keys: list, batch_keys: int,
                  policy: RetryPolicy, inject=None) -> None:
    """One table's merged keys in pk order, in chunks of ``batch_keys``
    keys, or fewer where a chunk's UPDATE (2 * len(cols) - 1 parameters
    per key) would pass the connection's variable limit."""
    import sqlite3
    cols = tuple(keys[0]["value_cols"])
    limit = conn.getlimit(sqlite3.SQLITE_LIMIT_VARIABLE_NUMBER)
    n = max(1, min(batch_keys, limit // (2 * len(cols) - 1)))
    keys = sorted(keys, key=lambda k: (k["pk"] is not None, k["pk"]))
    for i in range(0, len(keys), n):
        for text, params in sqlgen.chunk_statements(tbl, cols, keys[i:i + n]):
            _execute_with_retry(conn, text, policy, inject, params)


def apply_statements(stmts: DataFrame, db_dir: str,
                     num_workers: int = 4,
                     setup_sql: tuple[str, ...] = (),
                     retry: RetryPolicy | None = None,
                     inject=None,
                     checkpoint_ts: int | None = None,
                     topic: str = "default") -> None:
    """Execute the ``sql_text`` column per worker, partitioned by
    worker id.

    stmts: columns (worker_id, commit_ts, seq, sub_seq, sql_text).
    Per-worker order is (commit_ts, seq, sub_seq) — exactly the
    per-causality-group order guarantee of the reference's dispatch.
    Rows with a ``value_cols`` array are the batch path's merged keys
    (tbl, op, pre_delete, image), applied after them (_apply_merged).
    Transient failures are retried per ``retry`` (default: the
    reference's 100x policy with a 10ms local backoff).

    Every worker is a connection to the ONE downstream database
    (<db_dir>/downstream.db). Routing only decides execution order and
    parallelism, so causality-group worker ids (which vary per batch)
    are safe, and sink-side UNIQUE constraints span all rows. SQLite
    serializes the writers via its file lock (busy_timeout); a real
    MySQL executes them concurrently. Workers sharing a Spark
    partition apply sequentially (group-by-worker first) so one
    partition never holds two open transactions against the file.

    ``inject``: optional callable(sql_text) raised into every execute —
    the deterministic transient-failure injector used by tests.

    ``checkpoint_ts``: the batch watermark. When set, each worker
    REPLACEs it into the downstream checkpoint table in the SAME
    transaction as its data (arbiter/checkpoint.go Save) — the commit
    makes rows + cursor atomic, so ``load_checkpoint`` (min over the
    per-worker ``topic@wid`` rows and the ``topic`` floor) is always
    the last FULLY-applied batch after any crash. Never regresses
    (MAX against the stored ts).
    """
    os.makedirs(db_dir, exist_ok=True)
    setup = list(setup_sql)
    if checkpoint_ts is not None:
        setup.append(CKPT_SETUP)
    policy = retry if retry is not None else RetryPolicy(backoff_s=0.01)

    ckpt_upsert = (f"INSERT INTO {CKPT_TABLE}(topic_name, ts, status) "
                   f"VALUES (?, ?, ?) ON CONFLICT(topic_name) DO "
                   f"UPDATE SET ts = MAX(ts, excluded.ts), "
                   f"status = excluded.status")

    # read here: the sink workers do not see a patched module constant
    batch_keys = sqlgen.BATCH_KEYS
    has_keys = "value_cols" in stmts.columns

    def run_partition(rows) -> None:
        # one txn per worker, applied sequentially: a partition must
        # never hold two open write txns on the same file
        by_wid: dict = {}
        for row in rows:
            by_wid.setdefault(row["worker_id"], []).append(row)
        for wid, wrows in by_wid.items():
            conn = _connect(db_dir)
            try:
                # setup through the retry policy too: CREATE IF NOT
                # EXISTS is idempotent, and when every worker reaches
                # its first write simultaneously (warm cache upstream)
                # a sibling's minutes-long batch txn holds the file
                # lock far past busy_timeout — r12 caught this as a
                # raw "database is locked" from the unprotected setup
                # loop at 100M events
                for s in setup:
                    _execute_with_retry(conn, s, policy, None)
                merged: dict = {}
                for row in wrows:
                    if has_keys and row["value_cols"] is not None:
                        merged.setdefault(row["tbl"], []).append(row)
                    else:
                        _execute_with_retry(conn, row["sql_text"],
                                            policy, inject)
                for tbl, keys in merged.items():
                    _apply_merged(conn, tbl, keys, batch_keys, policy,
                                  inject)
                if checkpoint_ts is not None:
                    conn.execute(ckpt_upsert,
                                 (f"{topic}@{wid}", int(checkpoint_ts),
                                  STATUS_RUNNING))
                conn.commit()
            finally:
                conn.close()

    (stmts
     .repartition(num_workers, F.col("worker_id"))
     .sortWithinPartitions("commit_ts", "seq", "sub_seq")
     .foreachPartition(run_partition))

    if checkpoint_ts is not None:
        # barrier passed: every busy worker committed data+cursor
        # atomically above. Idle workers (no rows this batch) still
        # need their cursor advanced or they pin the min forever; a
        # crash RIGHT HERE only leaves a conservative cursor -> the
        # batch replays under safe mode, which is idempotent.
        save_checkpoint(db_dir, checkpoint_ts, topic)


def save_checkpoint(db_dir: str, ts: int, topic: str = "default") -> None:
    """Advance every downstream cursor to ``ts`` (never regresses —
    MAX against the stored value): the plain ``topic`` floor row and
    every per-worker ``topic@wid`` row (the apply barrier has passed,
    so raising idle/stale workers is correct). Used by the post-apply
    idle-worker sweep and by the streaming DDL barrier, which saves
    the checkpoint IMMEDIATELY after a DDL executes
    (drainer/syncer.go:234-238 savePoint)."""
    conn = _connect(db_dir)
    try:
        conn.execute(CKPT_SETUP)
        conn.execute(
            f"INSERT INTO {CKPT_TABLE}(topic_name, ts, status) "
            f"VALUES (?, ?, ?) ON CONFLICT(topic_name) DO "
            f"UPDATE SET ts = MAX(ts, excluded.ts)",
            (topic, int(ts), STATUS_RUNNING))
        conn.execute(
            f"UPDATE {CKPT_TABLE} SET ts = MAX(ts, ?) "
            f"WHERE topic_name LIKE ? || '@%'",
            (int(ts), topic))
        conn.commit()
    finally:
        conn.close()


def _applied_fragments_for(ddl_sql: str) -> tuple[str, ...]:
    """Error fragments that can only mean "this exact DDL already took
    effect downstream" — seen when a crash lands between the DDL
    commit and the immediate checkpoint save, so the restart replays
    it. Scoped to the DDL's own shape: an ADD COLUMN replay hitting
    'duplicate column name' is the DDL's own effect, but a 'no such
    table' there is genuine divergence and must raise."""
    u = " ".join(ddl_sql.split()).upper()
    if u.startswith("ALTER") and " ADD " in u:
        return ("duplicate column name",)
    if " DROP COLUMN " in u:
        return ("no such column",)
    if u.startswith("CREATE"):
        return ("already exists",)
    if u.startswith("DROP"):
        return ("no such table", "no such index", "no such view")
    if u.startswith("RENAME") or " RENAME TO " in u:
        return ("no such table", "already exists")
    return ()


def execute_ddl(db_dir: str, ddl_sql: str,
                retry: RetryPolicy | None = None,
                catalog=None, table: str | None = None) -> None:
    """DDL through the executed-SQL sink: the reference flushes pending
    DMLs, then runs the DDL with its own 5x retry budget
    (pkg/loader/load.go:40-45 maxDDLRetryCount, load.go:476-500
    execDDL) and refreshes the cached table info afterwards. The DDL
    runs on the downstream database — a never-set-up downstream gets
    it too (and raises if it needs a missing table) rather than being
    skipped; ``catalog.evict`` makes the next statement build see the
    new schema (executor.go:336-405).

    A crash between the DDL's commit and the immediate checkpoint save
    makes the restart re-execute it; errors that can only be THIS
    DDL's own prior effect (scoped per DDL kind by
    _applied_fragments_for — e.g. 'duplicate column name' for an ADD
    COLUMN) are swallowed so the replay converges instead of wedging
    the stream; anything else ('no such table' on an ADD) still
    raises. Matching errors are classified non-transient so the
    replay is a true no-op, not 5 retries with backoff first."""
    import sqlite3
    frags = _applied_fragments_for(ddl_sql)

    def is_transient(exc: Exception) -> bool:
        if any(f in str(exc).lower() for f in frags):
            return False
        return default_is_transient(exc)

    policy = retry if retry is not None else RetryPolicy(
        max_retries=MAX_DDL_RETRY, backoff_s=0.01,
        is_transient=is_transient)
    conn = _connect(db_dir)
    try:
        try:
            _execute_with_retry(conn, ddl_sql, policy)
        except sqlite3.OperationalError as e:
            msg = str(e).lower()
            if not any(f in msg for f in frags):
                raise
        conn.commit()
    finally:
        conn.close()
    if catalog is not None and table is not None:
        catalog.evict("main", table)


def ensure_downstream(db_dir: str, setup_sql: tuple[str, ...] = ()) -> None:
    """Create the downstream database up front with ``setup_sql``
    applied (idempotent CREATE IF NOT EXISTS). The streaming DDL
    barrier needs this: a DDL arriving before any DML (an ALTER first
    in the log) must find the tables the setup declares."""
    os.makedirs(db_dir, exist_ok=True)
    conn = _connect(db_dir)
    try:
        for s in setup_sql:
            conn.execute(s)
        conn.commit()
    finally:
        conn.close()


def load_checkpoint(db_dir: str, topic: str = "default") -> tuple[int, int]:
    """Restart cursor: the MIN over the per-worker ``topic@wid`` rows
    and the ``topic`` floor — any worker that died pre-commit holds
    the previous batch's ts, so the min is the last batch every worker
    completed (arbiter Load + server.go:126-136 resume-from-
    checkpoint). Returns (ts, status); (-1, STATUS_NORMAL) when there
    is no checkpoint yet. Never creates the downstream."""
    import sqlite3
    conn = _connect(db_dir, create=False)
    if conn is None:
        return -1, STATUS_NORMAL
    try:
        found = conn.execute(
            f"SELECT MIN(ts), MIN(status) FROM {CKPT_TABLE} "
            f"WHERE topic_name = ? OR topic_name LIKE ? || '@%'",
            (topic, topic)).fetchone()
    except sqlite3.OperationalError:
        found = None            # checkpoint table never created
    finally:
        conn.close()
    if found is None or found[0] is None:
        return -1, STATUS_NORMAL
    return int(found[0]), int(found[1])


def finalize_checkpoint(db_dir: str, topic: str = "default") -> None:
    """Graceful shutdown: mark the saved checkpoints StatusNormal
    (arbiter/server.go:218-236) so the next start knows no replay /
    safe-mode window is needed. Never creates the downstream."""
    import sqlite3
    conn = _connect(db_dir, create=False)
    if conn is None:
        return
    try:
        conn.execute(
            f"UPDATE {CKPT_TABLE} SET status = ? WHERE topic_name = ? "
            f"OR topic_name LIKE ? || '@%'",
            (STATUS_NORMAL, topic, topic))
        conn.commit()
    except sqlite3.OperationalError:
        pass                    # checkpoint table never created
    finally:
        conn.close()


def read_applied(spark, db_dir: str, table: str, columns: list[str]) -> DataFrame:
    """Read one downstream table back into a DataFrame (the downstream
    state, for sync-diff-style verification)."""
    import pandas as pd

    conn = _connect(db_dir, create=False)
    if conn is None:
        raise FileNotFoundError(
            f"no downstream database {SHARED_DB_NAME} in {db_dir}")
    try:
        frame = pd.read_sql_query(
            f"SELECT {', '.join(columns)} FROM {table}", conn)
    finally:
        conn.close()
    return spark.createDataFrame(frame)
