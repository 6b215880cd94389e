"""Structured Streaming assembly of the replication pipeline.

Batch operators (operators/*) are reused verbatim inside foreachBatch —
the standard Spark recipe for sinks needing transactional/MERGE
semantics (SURVEY §3 lifecycle mapping):

    readStream(change log) -> foreachBatch{
        order gate -> filter/route -> SnapshotTable.apply
                                      (last image per key) }

Reference parity:
- PullCommitBinlog from a saved cursor  = file/kafka source + Spark
  streaming checkpoint (pump/storage/storage.go:1114-1258);
- fake-binlog heartbeat keeping merge alive = watermark advancement +
  empty-batch progress (drainer/syncer.go:199-272,324-333);
- checkpoint-after-success               = SnapshotTable writes its
  ts checkpoint atomically with the data, and re-applying a replayed
  micro-batch is idempotent (exactly-once recipe).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..operators import compaction, ordering
from ..sinks.table_sink import SnapshotTable

CHANGE_SCHEMA = T.StructType([
    T.StructField("arrival_seq", T.LongType()),
    T.StructField("source_id", T.StringType()),
    T.StructField("commit_ts", T.LongType()),
    T.StructField("start_ts", T.LongType()),
    T.StructField("op", T.StringType()),
    T.StructField("db", T.StringType()),
    T.StructField("tbl", T.StringType()),
    T.StructField("pk", T.LongType()),
    T.StructField("seq", T.IntegerType()),
    T.StructField("schema_version", T.LongType()),
    T.StructField("val", T.DoubleType()),
    T.StructField("row_json", T.StringType()),
])


def read_change_stream(spark: SparkSession, source_dir: str,
                       max_files_per_trigger: int | None = None) -> DataFrame:
    """File-landing-zone source: each dropped file is a pump segment.
    Spark's file source tracks consumed files in the checkpoint — the
    replay-from-cursor contract of PullCommitBinlog."""
    reader = spark.readStream.schema(CHANGE_SCHEMA)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(source_dir)


def start_change_stream(spark: SparkSession, source_dir: str, on_batch,
                        checkpoint_dir: str, available_now: bool = True,
                        max_files_per_trigger: int | None = None):
    """Start one streaming query over a change landing zone:
    ``on_batch(df, batch_id)`` runs each micro-batch (foreachBatch),
    Spark's checkpoint at ``checkpoint_dir`` records the consumed
    files, and ``available_now`` drains what has landed, then stops.
    Every streaming sink of the package starts through here. Returns
    the StreamingQuery."""
    writer = (read_change_stream(spark, source_dir,
                                 max_files_per_trigger=max_files_per_trigger)
              .writeStream
              .foreachBatch(on_batch)
              .option("checkpointLocation", checkpoint_dir))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_apply_stream(spark: SparkSession, source_dir: str, table_root: str,
                     checkpoint_dir: str, available_now: bool = True,
                     relay_dir: str | None = None):
    """The DML replication path as one streaming query. Returns the
    StreamingQuery (caller awaits termination).

    With ``relay_dir`` set, every micro-batch is WAL'd to the relay log
    before the downstream apply and the run is marked inconsistent
    until the caller's graceful stop (``relay.mark_consistent()`` after
    awaitTermination); a crashed run is recovered by
    ``sinks.relay.feed_by_relay_if_needed`` before restarting — which
    this function calls first when a relay log is present."""
    from ..sinks.relay import RelayLog, feed_by_relay_if_needed
    table = SnapshotTable(spark, table_root)
    relay = RelayLog(relay_dir) if relay_dir else None
    if relay is not None:
        feed_by_relay_if_needed(spark, relay, table)
        relay.mark_inconsistent()

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        # persist the micro-batch: the order gate's carry aggregate and
        # the main path both read it (single source scan + exact input
        # metrics)
        batch_df = batch_df.persist()
        try:
            if relay is not None:
                relay.append(batch_df)      # WAL before apply
            # FAKE heartbeats only move the order state; they are
            # never rows of the table
            ok = (ordering.ordered_stream(batch_df)
                  .filter(F.col("op") != "FAKE"))
            # D rows must reach the sink (they delete). The apply's own
            # window keeps the last image per key over the stored rows
            # and the batch, so the batch needs no compaction of its own.
            table.apply_batch(ok)
        finally:
            batch_df.unpersist()

    return start_change_stream(spark, source_dir, apply_batch,
                               checkpoint_dir, available_now)


class _WalWrite:
    """One micro-batch's relay WAL write, run on a pyspark
    InheritableThread so the batch's job group and local properties
    carry over. ``join`` waits for it and re-raises its error (once);
    with no relay it is a no-op."""

    def __init__(self, relay, batch: DataFrame):
        self._thread = self._error = None
        if relay is not None:
            from pyspark import InheritableThread
            self._thread = InheritableThread(
                target=self._run, args=(relay, batch), daemon=True)
            self._thread.start()

    def _run(self, relay, batch: DataFrame) -> None:
        try:
            relay.append(batch)
        except BaseException as e:      # surfaced by join()
            self._error = e

    def join(self) -> None:
        if self._thread is not None:
            self._thread.join()
        err, self._error = self._error, None
        if err is not None:
            raise err


class SqlBatchApplier:
    """The executed-SQL micro-batch applier — the body of
    run_sql_apply_stream's foreachBatch, factored out so the relay
    recovery path (feed_sql_by_relay_if_needed) replays a crashed
    window through the IDENTICAL machinery: resume filter, order
    gate, config filter/route stages, DDL barriers with immediate
    checkpoints, one statement build per statement shape (catalog
    width + sink unique keys), shared-downstream apply.

    A shape's statements take one of two paths (see _apply_dml). With
    no sink unique key, the batch path merges the events by primary
    key; the sink workers apply multi-row statements per chunk of keys,
    no causality step: DELETE for a key that ends deleted; in safe
    mode REPLACE for the rest; in strict mode INSERT (after the key's
    DELETE when the batch holds an earlier D) or UPDATE of the image.
    With a unique key, the single path applies one statement per event
    (INSERT / UPDATE / DELETE, or REPLACE / DELETE + REPLACE in safe
    mode), routed by causality group.

    The relay WAL write runs in the background: it only has to land
    before the batch's first downstream side effect (relayer.WriteBinlog
    precedes loader input; nothing orders it before merging, ordering
    or statement translation). The batch census, statement build and
    causality run while the WAL is written, and every statement apply,
    DDL, checkpoint save, cache release and return goes through the
    WAL barrier first — a failed WAL write re-raises there, before
    anything reached the downstream.

    The driver learns what it needs about a DDL-free batch in ONE
    collect (the census, over the raw batch): the watermark, the order
    gate's carry, the DDL count and each DML table's row count and
    commit-ts range. The order gate then runs as stages of the apply
    job. A batch whose census counts a DDL row makes a second collect,
    the gated DDL barriers. After a batch applies, the resume cursor
    moves to its watermark, so every batch filters as a restart
    would."""

    # DDL rows are collect()ed per batch to sequence barriers; DDL is
    # rare by nature, so this is bounded in any sane stream — the cap
    # makes the contract explicit instead of letting a runaway DDL
    # storm (e.g. a migration script replayed into the stream) OOM
    # the driver (VERDICT r7 item 7).
    MAX_DDL_PER_BATCH = 10_000

    def __init__(self, db_dir: str, setup_sql: tuple[str, ...] = (),
                 num_workers: int = 2, window=None, sync_ddl: bool = True,
                 catalog=None, cfg=None, resume_ts: int = -1,
                 relay=None):
        from ..operators import safe_mode as sm
        from ..sinks import jdbc
        # DDL and checkpoints need the setup tables before any DML
        jdbc.ensure_downstream(db_dir, setup_sql)
        self.db_dir = db_dir
        self.setup_sql = setup_sql
        self.num_workers = num_workers
        self.window = window if window is not None else sm.SafeModeWindow()
        self.sync_ddl = sync_ddl
        self.catalog = catalog
        self.cfg = cfg
        self.resume_ts = resume_ts
        self.relay = relay

    def _table_shape(self, tbl: str):
        """Statement shape of one table: (value columns, sink unique
        keys). The value columns are the sink catalog's CURRENT column
        list, so a mid-stream ADD/DROP COLUMN widens/narrows the very
        next sub-batch (executor.go:336-405 refresh-on-DDL); the unique
        keys are the non-PRIMARY ones whose columns the statement
        writes. Static ((pk, val), ()) when no catalog is wired or the
        table is not created yet (setup_sql width)."""
        if self.catalog is None:
            return ("pk", "val"), ()
        try:
            info = self.catalog.table_info("main", tbl)
        except LookupError:
            return ("pk", "val"), ()
        cols = tuple(info.columns)
        uks = tuple((name, uk_cols) for name, uk_cols in info.unique_keys
                    if name != "PRIMARY" and set(uk_cols) <= set(cols))
        return cols, uks

    def _census(self, fresh: DataFrame):
        """The batch's one driver round trip, over the resume-filtered
        RAW batch, before any order gate exists. Returns (watermark,
        gate carry, DDL row count, {tbl: (rows, min commit_ts, max
        commit_ts)}).

        The watermark is the raw batch's max commit_ts — FAKE
        heartbeats and rows the gate will reject count — and None when
        the batch lies entirely at or below the cursor. The carry is
        ordering.carry_from_maxima of the per-(source, arrival bucket)
        maxima, so the gate derives none in its plan. The DDL count
        (0 unless sync_ddl) and the per-table figures count the rows
        that pass the config's row-wise filters, judged on their source
        db/tbl, under their routed table name (plans.pipeline.row_mapping,
        as the gated path), but before the gate; the loopback filter,
        which drops whole txns, is left out. Gating and loopback only
        drop rows, so these are upper bounds of the gated rows: a table
        listed may have no gated row, and its range may be wider than
        its gated rows'. meeting() and the causality max_edges only
        need bounds.

        The two small aggregates, per (source, bucket) and per table,
        are the grouping sets of one aggregate: the batch is scanned
        once, where a union of aggregates scans it once per branch."""
        keep = F.col("op") != "FAKE"
        target_tbl = F.col("tbl")
        if self.cfg is not None:
            from ..plans.pipeline import row_mapping
            pred, _, target_tbl = row_mapping(fresh, self.cfg)
            if pred is not None:
                keep = keep & pred
        # a row without a table has no statement to build
        dml = keep & (F.col("op") != "DDL") & target_tbl.isNotNull()
        ddl = keep & (F.col("op") == "DDL") & F.lit(self.sync_ddl)
        cts = F.col("commit_ts")
        rows = (fresh
                .withColumn("_b", ordering.arrival_bucket_of())
                .withColumn("_tbl", target_tbl)
                .groupingSets([["source_id", "_b"], ["_tbl"]],
                              "source_id", "_b", "_tbl")
                .agg(F.grouping("_tbl").alias("per_bucket"),
                     F.max(cts).alias("_bmax"),
                     F.count(F.when(dml, 1)).alias("n"),
                     F.min(F.when(dml, cts)).alias("lo"),
                     F.max(F.when(dml, cts)).alias("hi"),
                     F.count(F.when(ddl, 1)).alias("n_ddl"))
                .collect())
        maxima = [r for r in rows if r["per_bucket"]]
        per_tbl = [r for r in rows if not r["per_bucket"]]
        wm = max((r["_bmax"] for r in maxima), default=None)
        tables = {r["_tbl"]: (r["n"], r["lo"], r["hi"])
                  for r in per_tbl if r["n"]}
        return (wm, ordering.carry_from_maxima(maxima),
                sum(r["n_ddl"] for r in per_tbl), tables)

    def _ddl_rows(self, ok: DataFrame) -> list:
        """The gated DDL rows in commit_ts order — the batch's second
        round trip, made only when the census counted a DDL row."""
        from ..operators import ddl as ddl_mod
        cap = self.MAX_DDL_PER_BATCH
        # limit(cap+1) bounds what ever reaches the driver; the
        # overflow check turns a silent OOM into a clear error.
        rows = (ddl_mod.prep_for_apply(
                    ok.filter(F.col("op") == "DDL")
                      .withColumn("ddl_sql", F.col("row_json")))
                .select("commit_ts", "db", "tbl", "ddl_sql", "should_skip")
                .limit(cap + 1)
                .collect())
        if len(rows) > cap:
            raise RuntimeError(
                f"SqlBatchApplier: batch carries more than "
                f"{cap} DDL events — refusing to collect a DDL "
                f"storm onto the driver; split the stream or "
                f"raise SqlBatchApplier.MAX_DDL_PER_BATCH")
        return sorted(rows, key=lambda r: r["commit_ts"])

    def _apply_dml(self, seg: DataFrame, ckpt_ts: int, tables: dict,
                   wal: _WalWrite) -> None:
        """Order-gated DML sub-batch -> safe-mode rewrite -> one
        statement build per statement shape -> parallel apply.
        ``tables`` maps each table that may have rows in ``seg`` to an
        upper bound of its batch row count (from the census).

        Shapes split two ways, as the loader's execDMLs does
        (executor.go:273-334): a shape with no sink unique key takes
        the batch path — merge by primary key, each merged key routed
        by (db, tbl, pk) with no causality step, since merged keys are
        disjoint; the sink worker builds the multi-row statements
        (sqlgen.chunk_statements). Every other shape takes the single
        path: one statement per event, causality-routed. Both land in
        one apply_statements call, so each worker still commits its
        rows and its cursor in one transaction."""
        from ..operators import causality
        from ..operators import safe_mode as sm
        from ..sinks import jdbc, sqlgen
        if not tables:
            wal.join()
            jdbc.save_checkpoint(self.db_dir, ckpt_ts)
            return
        if self.window.active():
            prepared = sm.safe_mode_rewrite(seg)
        else:
            prepared = seg.withColumn("sub_seq", F.lit(0))
        prepared = prepared.filter(F.col("tbl").isNotNull())
        # tables that share a shape share one projection: without a
        # catalog, or with every table at one width, the whole
        # sub-batch is a single pass over the gated rows
        shapes: dict = {}
        for tbl in tables:
            shapes.setdefault(self._table_shape(tbl), []).append(tbl)
        stmts = txn_keys = batch = None
        max_edges = 0
        for (cols, uks), shape_tables in shapes.items():
            part = (prepared if len(shapes) == 1
                    else prepared.filter(F.col("tbl").isin(shape_tables)))
            # columns beyond the typed (pk, val) ride the row image —
            # extracted as strings for either path's statement builder
            for c in cols:
                if c not in ("pk", "val"):
                    part = part.withColumn(
                        c, F.get_json_object(F.col("row_json"), f"$.{c}"))
            if not uks:
                b = (compaction.merge_by_pk(part, cols)
                     .withColumn("value_cols", F.array(*map(F.lit, cols))))
                batch = b if batch is None else batch.unionByName(
                    b, allowMissingColumns=True)
                continue
            s = sqlgen.generate_sql(part, dialect="sqlite",
                                    value_cols=cols) \
                      .select("commit_ts", "seq", "sub_seq", "pk", "sql_text")
            # causality keys: every PK/UK key-string the statements
            # touch (pkg/loader/model.go:459-512) — (db, tbl, pk)
            # always; each sink-side UNIQUE key's column values too
            # (NULL when they are all empty; causality_groups drops
            # NULL keys), so txns with different PKs colliding on a UK
            # serialize onto one worker in commit order
            # (causality.go:31-99)
            key_cols = [F.concat_ws("\x01", F.col("db"), F.col("tbl"),
                                    F.lit("pk"), F.col("pk").cast("string"))]
            for uk_name, uk_cols in uks:
                key_cols.append(F.when(
                    F.concat_ws("", *[F.col(c) for c in uk_cols]) != "",
                    F.concat_ws("\x01", F.col("db"), F.col("tbl"),
                                F.lit(uk_name),
                                *[F.col(c).cast("string") for c in uk_cols])))
            keys = part.select(F.col("commit_ts").alias("txn_id"),
                               F.explode(F.array(*key_cols)).alias("key"))
            stmts = s if stmts is None else stmts.unionByName(s)
            txn_keys = keys if txn_keys is None else txn_keys.unionByName(keys)
            # edge bound: the rewrite turns a U into two rows, and each
            # row yields its PK key plus one key per UK
            max_edges += (2 * sum(tables[t] for t in shape_tables)
                          * (1 + len(uks)))
        routed = None
        if stmts is not None:
            if max_edges > causality.LOCAL_CC_MAX_EDGES:
                # the distributed CC fixpoint rescopes the session-wide
                # shuffle-partition conf: no WAL query may plan under it
                wal.join()
            # conflict-free dispatch replaces pmod(pk): whole txns route
            # by causality group, so cross-txn key conflicts apply in
            # commit order while disjoint groups parallelize
            # (load.go:508-575)
            routed = causality.conflict_free_partitions(
                stmts, txn_keys, num_workers=self.num_workers,
                txn_col="commit_ts", max_edges=max_edges)
        if batch is not None:
            # merged keys are disjoint, so each routes by its own key with
            # no causality group; the worker builds the statements
            batch = (batch
                     .withColumn("worker_id", F.pmod(
                         F.xxhash64("db", "tbl", "pk"),
                         F.lit(self.num_workers)))
                     .withColumn("seq", F.lit(0))
                     .withColumn("sub_seq", F.lit(0))
                     .drop("db"))
            routed = (batch if routed is None
                      else routed.unionByName(batch,
                                              allowMissingColumns=True))
        wal.join()
        # every worker writes the one downstream database, so the
        # worker ids, which vary per batch, decide only execution order
        # and parallelism, never where a row lives
        jdbc.apply_statements(routed, self.db_dir, self.num_workers,
                              setup_sql=self.setup_sql,
                              checkpoint_ts=ckpt_ts)

    def apply(self, batch_df: DataFrame) -> None:
        # persist the RAW batch first: the relay WAL and the filtered
        # main path both read it (one source scan, not two)
        batch_df = batch_df.persist()
        # WAL in the background; the barrier (wal.join) precedes every
        # downstream side effect, and the finally below joins it on
        # every exit path before the cached batch is released
        wal = _WalWrite(self.relay, batch_df)
        try:
            self._apply_gated(batch_df, wal)
        finally:
            wal.join()
            batch_df.unpersist()

    def _apply_gated(self, batch_df: DataFrame, wal: _WalWrite) -> None:
        """Resume filter, the census, the order gate with the census's
        carry and the routes, then the DML segments between DDL
        barriers; last, the cursor moves to the batch watermark.

        The gated frame is persisted and its DDL rows collected only
        when the census counted a DDL row: a DDL-free batch makes one
        collect, and its gate runs as stages of the apply job. A table
        on the single path reads the gated rows twice (causality, then
        apply), so it persists them too."""
        from ..sinks import jdbc
        catalog = self.catalog
        fresh = batch_df.filter(F.col("commit_ts") > self.resume_ts)
        wm, carry, n_ddl, tables = self._census(fresh)
        if wm is None:                  # batch fully below the cursor
            return
        # FAKE heartbeats advance the watermark (the census reads the
        # raw batch) but must never reach the statement builder —
        # generate_sql has no case for them and would emit NULL
        # sql_text.
        ok = (ordering.ordered_stream(fresh, carry=carry)
              .filter(F.col("op") != "FAKE"))
        if self.cfg is not None:
            from ..plans.pipeline import apply_filters_and_routes
            ok = apply_filters_and_routes(ok, self.cfg)
            if "target_db" in ok.columns:
                # the statement sink writes the ROUTED identity
                ok = (ok.withColumn("db", F.col("target_db"))
                      .withColumn("tbl", F.col("target_tbl"))
                      .drop("target_db", "target_tbl"))
        if n_ddl or any(self._table_shape(t)[1] for t in tables):
            ok = ok.persist()
        try:
            ddl_rows = self._ddl_rows(ok) if n_ddl else []
            # DDL events (op = 'DDL', statement text in row_json) split
            # the batch into barriers: DML below the DDL applies first,
            # then the DDL runs downstream with the catalog evicted
            # and the checkpoint saved IMMEDIATELY, then the next
            # sub-batch builds statements against the POST-DDL schema
            # (drainer/syncer.go:433-537; pkg/loader/load.go:401-496).
            # A segment builds statements only for the tables whose
            # census commit-ts range meets it.
            dml = ok.filter(F.col("op") != "DDL")

            def meeting(lo, hi=None):
                return {t: n for t, (n, t_lo, t_hi) in tables.items()
                        if t_hi > lo and (hi is None or t_lo < hi)}

            lo = self.resume_ts
            for d in ddl_rows:
                hi = int(d["commit_ts"])
                seg = dml.filter((F.col("commit_ts") > lo)
                                 & (F.col("commit_ts") < hi))
                # (_apply_dml has passed the WAL barrier)
                self._apply_dml(seg, hi - 1, meeting(lo, hi), wal)
                if not d["should_skip"]:
                    # the sqlite downstream is a single-database file,
                    # so the mysql-wire `USE db;` prefix (apply_sql) is
                    # moot — the raw statement applies as is
                    jdbc.execute_ddl(self.db_dir, d["ddl_sql"],
                                     catalog=catalog, table=d["tbl"])
                elif catalog is not None:
                    # skipped DDL still evicts the cached downstream
                    # info (syncer.go shouldSkip path: empty sql forces
                    # the table-info refresh)
                    catalog.evict("main", d["tbl"])
                jdbc.save_checkpoint(self.db_dir, hi)
                lo = hi
            self._apply_dml(dml.filter(F.col("commit_ts") > lo), int(wm),
                            meeting(lo), wal)
        finally:
            ok.unpersist()
        # the next batch filters at the saved checkpoint, as a restart
        # would: a late row at or below it must not overwrite a newer
        # image
        self.resume_ts = int(wm)


def feed_sql_by_relay_if_needed(spark: SparkSession, relay, db_dir: str,
                                setup_sql: tuple[str, ...] = (),
                                num_workers: int = 2,
                                sync_ddl: bool = True,
                                catalog=None, cfg=None) -> dict:
    """drainer/relay.go feedByRelayLogIfNeed for the executed-SQL
    sink: no-op when the last shutdown was graceful; otherwise relay
    events ABOVE the downstream cursor replay through the SAME batch
    applier in FORCED safe mode (relay.go:83 SetSafeMode(true) — the
    REPLACE/DELETE+REPLACE rewrite makes the replay idempotent), the
    cursor advances, and the log is marked consistent. Returns
    {replayed, checkpoint}."""
    from ..operators import safe_mode as sm
    from ..sinks import jdbc
    if relay.is_consistent():
        return {"replayed": 0,
                "checkpoint": jdbc.load_checkpoint(db_dir)[0]}
    ck, _status = jdbc.load_checkpoint(db_dir)
    pending = relay.read(spark, start_ts=ck).drop("ts_bucket").persist()
    try:
        n = pending.count()
        if n:
            applier = SqlBatchApplier(
                db_dir, setup_sql=setup_sql, num_workers=num_workers,
                window=sm.SafeModeWindow(),       # forced safe mode
                sync_ddl=sync_ddl, catalog=catalog, cfg=cfg,
                resume_ts=ck)
            applier.apply(pending)
    finally:
        pending.unpersist()
    relay.mark_consistent()
    return {"replayed": int(n),
            "checkpoint": jdbc.load_checkpoint(db_dir)[0]}


def run_sql_apply_stream(spark: SparkSession, source_dir: str, db_dir: str,
                         checkpoint_dir: str,
                         safe_window=None,
                         num_workers: int | None = None,
                         setup_sql: tuple[str, ...] = (),
                         available_now: bool = True,
                         initial_commit_ts: int = -1,
                         sync_ddl: bool | None = None,
                         catalog=None,
                         cfg=None,
                         relay_dir: str | None = None,
                         max_files_per_trigger: int | None = None):
    """The executed-SQL replication path (loader -> MySQL analog,
    SQLite-backed locally) with the reference's auto safe-mode window:
    batches applied while ``safe_window.active()`` are rewritten
    I -> REPLACE / U -> DELETE+REPLACE so re-application after a crash
    converges (drainer/syncer.go:180-197 + executor.go:407-443); after
    the window, statements apply verbatim.

    The savepoint is the DOWNSTREAM checkpoint table
    (sinks/jdbc.CKPT_TABLE, arbiter/checkpoint.go): each worker commits
    the batch watermark atomically with its rows. On start, events at
    or below the stored cursor are filtered out (arbiter
    server.go:126-136 resume), and a cursor left in StatusRunning (=
    crash) keeps the safe-mode window active regardless of clock.

    ``sync_ddl``: rows with op = 'DDL' (statement text in row_json)
    act as barriers inside each micro-batch — DML below the DDL's
    commit_ts applies first, the DDL executes downstream, the
    checkpoint saves immediately (syncer.go:234-238), and later DML
    builds statements against the post-DDL schema.

    ``catalog``: an optional sinks.catalog.SinkCatalog over the
    downstream database. When wired, (a) statement width per table
    follows the LIVE downstream schema (a mid-stream ADD COLUMN widens
    the very next sub-batch, with non-(pk,val) columns extracted from
    the row image), and (b) a table with a sink-side UNIQUE key takes
    the single path, whose causality keys include every UK's values,
    so UK-colliding txns serialize in commit order.

    Two apply paths, split per table as the loader's execDMLs does
    (pkg/loader/executor.go:273-334). Tables with no sink UNIQUE key
    (every table when no catalog is wired) take the batch path: events
    merge by primary key (compaction.merge_by_pk), and each sink worker
    applies its share of the keys as multi-row DELETE / INSERT / UPDATE
    statements, or DELETE / REPLACE in safe mode, per chunk of up to
    128 keys (sqlgen.chunk_statements). The other tables take the
    single path: one statement per event, dispatched by causality
    group (conflict_free_partitions, pkg/loader/causality.go:31-99),
    NOT pmod(pk): a whole txn lands on one worker, and txns linked by
    any shared PK/UK key-string share a group — per-group commit order
    with cross-group parallelism, the loader's exact guarantee.

    ``cfg``: an optional plans.pipeline.ReplicationConfig (the
    drainer.toml surface). When set it drives the declarative stages
    inside each micro-batch — ignore-ts, loopback, allow/block,
    event-kind rules, table routing (the SAME
    apply_filters_and_routes the batch plan uses) — and overrides
    sync_ddl / num_workers / initial_commit_ts from its
    sync-ddl / worker-count / initial-commit-ts keys. Routed DDL
    executes under its routed (db, tbl) for catalog purposes; the
    statement text itself is not rewritten (document your routes
    accordingly, as the reference's pb sink does).
    """
    from ..operators import safe_mode as sm
    from ..sinks import jdbc

    # cfg fills only what the caller left UNSET — an explicit
    # sync_ddl=False or num_workers=N always wins over the config
    if sync_ddl is None:
        sync_ddl = cfg.sync_ddl if cfg is not None else True
    if num_workers is None:
        num_workers = cfg.worker_count if cfg is not None else 2
    if cfg is not None and initial_commit_ts < 0:
        initial_commit_ts = cfg.initial_commit_ts

    # relay WAL (drainer/relay.go): recover a crashed run from the
    # relay log BEFORE resuming — re-applies relay events above the
    # downstream cursor in forced safe mode, then marks inconsistent
    # for the run ahead (the caller marks consistent after a graceful
    # awaitTermination, exactly like run_apply_stream's relay flow)
    from ..sinks.relay import RelayLog
    relay = RelayLog(relay_dir) if relay_dir else None
    if relay is not None:
        feed_sql_by_relay_if_needed(
            spark, relay, db_dir, setup_sql=setup_sql,
            num_workers=num_workers, sync_ddl=sync_ddl,
            catalog=catalog, cfg=cfg)
        relay.mark_inconsistent()

    resume_ts, status = jdbc.load_checkpoint(db_dir)
    if resume_ts < 0 <= initial_commit_ts:
        # drainer -initial-commit-ts (drainer/config.go:240): with no
        # saved checkpoint, start replication strictly after the
        # configured tso instead of from the beginning of the log
        resume_ts = initial_commit_ts
    if safe_window is not None:
        window = safe_window
    elif resume_ts >= 0 and status == jdbc.STATUS_NORMAL:
        # clean shutdown last time: no auto safe-mode window
        # (arbiter/server.go:129-141 enables the 5-min window only
        # after an abnormal quit)
        window = sm.SafeModeWindow(duration_s=0.0)
    else:
        window = sm.SafeModeWindow()

    applier = SqlBatchApplier(db_dir, setup_sql=setup_sql,
                              num_workers=num_workers, window=window,
                              sync_ddl=sync_ddl, catalog=catalog,
                              cfg=cfg, resume_ts=resume_ts, relay=relay)
    # FLOOR the cursor before the first apply: without a plain topic
    # row, a worker that crashes pre-commit on the FIRST batch leaves
    # no cursor at all, and load_checkpoint's min over the other
    # workers' fresh topic@wid rows would skip the crashed worker's
    # rows forever. MAX-upsert never lowers an existing one.
    jdbc.save_checkpoint(db_dir, resume_ts)

    return start_change_stream(spark, source_dir,
                               lambda df, _bid: applier.apply(df),
                               checkpoint_dir, available_now,
                               max_files_per_trigger)
