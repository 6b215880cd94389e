"""Declarative replication pipeline — the drainer-config equivalent.

A user of the reference configures drainer.toml (filter rules, route
rules, ignore-ts, safe mode, loopback channel — drainer/config.go:61-132)
and gets the §3.1 lifecycle. ``ReplicationConfig`` + ``build_pipeline``
is the same contract on Spark: one declarative object, one composed
DataFrame plan. Catalyst sees the WHOLE pipeline as a single query, so
filters push down through the stack and projections prune at the scan —
the optimizer advantage a hand-wired stage chain (the reference's
channel-connected goroutines) cannot get.

Stage order mirrors drainer/syncer.go:335-539:
  order gate -> loopback -> ignore-ts -> allow/block -> event rules
  -> route -> pk-change split -> (safe mode) -> compact -> apply
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators import batching, compaction, filters, ordering, router, safe_mode


# drainer -ignore-schemas default (drainer/config.go:246): system
# schemas never replicate unless the operator overrides the list
DEFAULT_IGNORE_SCHEMAS = ("INFORMATION_SCHEMA", "PERFORMANCE_SCHEMA",
                          "mysql")


@dataclass
class ReplicationConfig:
    # pkg/filter/filter.go rules: (db_pattern, tbl_pattern); ~regex or exact
    do_tables: list[tuple[str, str]] | None = None
    ignore_tables: list[tuple[str, str]] | None = None
    # schema-level rules: replicate-do-db / ignore-schemas
    # (drainer/config.go:99,108 — db-only patterns through the same
    # pkg/filter allow-then-block evaluation)
    do_dbs: list[str] | None = None
    ignore_schemas: tuple[str, ...] = DEFAULT_IGNORE_SCHEMAS
    # (db_pattern, tbl_pattern, [ops]) event-kind rules
    event_rules: list[tuple[str, str, list[str]]] = field(default_factory=list)
    ignore_commit_ts: list[int] = field(default_factory=list)
    # (db_wild, tbl_wild, target_db, target_tbl)
    route_rules: list[tuple[str, str, str, str]] = field(default_factory=list)
    loopback_mark: tuple[str, str] | None = None      # (mark_db, mark_tbl)
    safe_mode: bool = False
    compact: bool = True
    # sync-ddl=false drops DDL events entirely (drainer/syncer.go:514)
    sync_ddl: bool = True
    # operational knobs for the sink stage (drainer/config.go:242-248
    # defaults): events per apply batch, parallel appliers, dialect
    txn_batch: int = 20
    worker_count: int = 16
    db_type: str = "mysql"          # mysql | tidb | oracle | file | kafka
    # channel id stamped on loopback mark rows (config.go:245)
    channel_id: int = 0
    # binlog-filter v2 rule matching mode (config.go:128); the
    # allow/block lists stay case-insensitive regardless
    case_sensitive: bool = False
    # start strictly after this tso when no checkpoint exists
    # (drainer -initial-commit-ts, config.go:240)
    initial_commit_ts: int = -1

    def __post_init__(self):
        if any(not s for s in self.ignore_schemas):
            # config.go:402: "empty schema name in `ignore-schemas`"
            raise ValueError("empty schema name in ignore-schemas config")


def row_mapping(df: DataFrame, cfg: ReplicationConfig):
    """How the config maps a row to the sink: (keep, target_db,
    target_tbl), all evaluated on the row's SOURCE db/tbl. ``keep`` is
    the row-wise filters as one predicate, or None when there are none:
    ignore-ts, allow/block, sync-ddl drop, event-kind rules. That is
    every filter of apply_filters_and_routes but the loopback filter,
    which drops whole txns. The targets are the routed names (the
    source names when no rule matches)."""
    keep = []
    if cfg.ignore_commit_ts:
        keep.append(~F.col("commit_ts").isin(list(cfg.ignore_commit_ts)))
    do_rules = list(cfg.do_tables or []) + \
        [(d, "") for d in (cfg.do_dbs or [])]
    ignore_rules = list(cfg.ignore_tables or []) + \
        [(s, "") for s in cfg.ignore_schemas]
    if do_rules or ignore_rules:
        keep.append(filters.allow_block_predicate(do_rules or None,
                                                  ignore_rules))
    if not cfg.sync_ddl and "op" in df.columns:
        keep.append(F.col("op") != "DDL")
    if cfg.event_rules:
        keep.append(filters.event_kinds_predicate(cfg.event_rules,
                                                  cfg.case_sensitive))
    target_db, target_tbl = router.route_columns(cfg.route_rules or [])
    return (reduce(lambda a, b: a & b, keep) if keep else None,
            target_db, target_tbl)


def apply_filters_and_routes(df: DataFrame,
                             cfg: ReplicationConfig) -> DataFrame:
    """The config-driven filter/route stages shared by the batch plan
    (build_pipeline) and the streaming SQL runner
    (streaming.pipeline.run_sql_apply_stream(cfg=...)): loopback,
    ignore-ts, allow/block, sync-ddl drop, event-kind rules, table
    routing — everything between the order gate and the
    compact/apply stage. The filters and routes are row_mapping's."""
    if cfg.loopback_mark:
        # the loopback filter drops whole txns, so it runs before a
        # row-wise filter could drop their mark row; it commutes with
        # ignore-ts, which drops whole txns too
        df = batching.loopback_filter(df, *cfg.loopback_mark)
    keep, target_db, target_tbl = row_mapping(df, cfg)
    if keep is not None:
        df = df.filter(keep)
    if cfg.route_rules:
        df = (df.withColumn("target_db", target_db)
              .withColumn("target_tbl", target_tbl))
    return df


def build_pipeline(changes: DataFrame, cfg: ReplicationConfig) -> DataFrame:
    """Compose the full replication dataflow as ONE DataFrame plan."""
    df = ordering.ordered_stream(changes)
    df = apply_filters_and_routes(df, cfg)
    if "old_pk" in df.columns:
        df = safe_mode.split_pk_change(df)
    if cfg.compact:
        df = compaction.compact_last_image(df)
    if cfg.safe_mode:
        df = safe_mode.safe_mode_rewrite(df)
    return df
