"""Global commit-ts ordering, duplicate skip, disorder detection,
multi-source k-way merge with a min-watermark gate.

Reference semantics:
- the whole pipeline's invariant is globally ascending commit_ts
  (drainer/merge.go:236-335);
- a *duplicate* binlog (one transaction) is skipped; a *disorder* one
  is counted and logged, never applied out of order
  (drainer/merge.go:318-329). ``classify_disorder`` states this rule
  once for every applier; the oracle's ``_ok_cte`` restates it in SQL;
- the merger only emits up to min over sources of max(commit_ts)
  (every live source must have shown an item ≥ that ts) — the global
  low-watermark (drainer/merge.go:268-297); fake binlogs (heartbeats)
  keep idle sources advancing (pump/server.go:467-526).

Spark-first design: the reference funnels everything through ONE merger
thread; we instead express order as data (window over arrival order per
source for monotonicity accounting, global sort only where the sink
truly needs total order). At 100 TB the total order is applied per
partition of the causal key, never as a single global sort.

The per-source running max spans arrival buckets through a carry: the
max commit_ts of each source's earlier buckets. ``classify_disorder``
derives it in its own plan, or takes it precomputed from a caller that
already aggregates the batch (``bucket_maxima`` -> ``carry_from_maxima``,
the SQL applier's census), which keeps the gate to its two exchanges.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def distributed_rank(df: DataFrame, order_cols: list[str],
                     out_col: str = "rk",
                     group_col: str | None = None) -> DataFrame:
    """Exact global ROW_NUMBER() over ``order_cols`` WITHOUT the
    single-task global window (`Window.orderBy` with no partition
    moves the whole frame to one task — Spark itself warns).

    Two phases, the assign_txn_batches carry pattern generalized to
    arbitrary sort keys:
      1. range-repartition on the full order key — Spark's sampled
         RangePartitioner, the same machinery as a distributed
         ORDER BY, so value skew is handled by sampling instead of a
         fixed bucket width; row_number within each range partition
         (window partitioned by partition id — parallel);
      2. per-partition row counts (n_partitions tiny rows) carry a
         running offset, broadcast back: rank = offset + within.

    ``order_cols`` must be a TOTAL order (append a unique tiebreak
    column): then the composed rank equals the global row_number
    regardless of where the sampled boundaries land — partitioning
    is physical only, the result is deterministic. The repartitioned
    frame is persisted so phase 1 and the counts read ONE boundary
    sample (both phases reread it; recomputing could re-sample).

    ``group_col`` ranks WITHIN each group value independently (rank
    restarts at 1 per group) while still paying ONE range shuffle for
    the whole frame: the range key is (group, *order_cols), the
    within-window and counts key on (partition, group), and the
    offset carry joins on the group — N independent rank frames for
    the price of one (rfm_segments melts its three metric dimensions
    through this instead of three separate shuffles).
    """
    from ..cache import managed_persist
    gcols = [group_col] if group_col else []
    part = managed_persist(
        df.repartitionByRange(*[F.col(c) for c in gcols + order_cols])
          .withColumn("_pid", F.spark_partition_id()))
    w_in = Window.partitionBy("_pid", *gcols).orderBy(*order_cols)
    counts = part.groupBy("_pid", *gcols) \
                 .agg(F.count(F.lit(1)).alias("_n"))
    # offset carry as a triangular broadcast self-join over the
    # (n_partitions x n_groups)-row counts frame (p^2 pairs per
    # group — trivial and parallel), NOT an unpartitioned window:
    # the whole point here is zero single-task stages.
    lower = counts.select(
        F.col("_pid").alias("_pid2"),
        *[F.col(g).alias(f"_{g}2") for g in gcols],
        F.col("_n").alias("_n2"))
    cond = F.col("_pid2") < F.col("_pid")
    for g in gcols:
        cond = cond & (F.col(f"_{g}2") == F.col(g))
    offsets = (counts.join(F.broadcast(lower), cond, "left")
               .groupBy("_pid", *gcols)
               .agg(F.coalesce(F.sum("_n2"), F.lit(0)).alias("_off")))
    return (part.withColumn("_within", F.row_number().over(w_in))
            .join(F.broadcast(offsets), ["_pid", *gcols])
            .withColumn(out_col,
                        (F.col("_off") + F.col("_within")).cast("long"))
            .drop("_pid", "_within", "_off"))


# Width of the arrival-order buckets the per-source running max is
# split over (phase 1 of classify_disorder's two-phase max).
ARRIVAL_BUCKET = 1 << 20


def arrival_bucket_of(arrival_bucket: int = ARRIVAL_BUCKET) -> Column:
    """The arrival bucket ``_b`` of a row."""
    return F.floor(F.col("arrival_seq") / arrival_bucket)


def bucket_maxima(changes: DataFrame,
                  arrival_bucket: int = ARRIVAL_BUCKET) -> DataFrame:
    """One row per (source_id, arrival bucket ``_b``): its max
    commit_ts ``_bmax``. The input of classify_disorder's carry (the
    SQL applier's census computes the same rows as one grouping set of
    its aggregate)."""
    return (changes
            .select("source_id", "arrival_seq", "commit_ts")
            .withColumn("_b", arrival_bucket_of(arrival_bucket))
            .groupBy("source_id", "_b")
            .agg(F.max("commit_ts").alias("_bmax")))


def carry_from_maxima(rows) -> dict:
    """The carry of collected ``bucket_maxima`` rows: {(source_id,
    bucket): max commit_ts of the source's EARLIER buckets}, only for
    buckets that have an earlier one. A batch whose every source sits
    in one bucket has an empty carry."""
    carry, run = {}, {}
    for src, b, bmax in sorted((r["source_id"], r["_b"], r["_bmax"])
                               for r in rows):
        if src in run:
            carry[(src, b)] = run[src]
            run[src] = max(run[src], bmax)
        else:
            run[src] = bmax
    return carry


def _lookup(pairs: dict, key: Column) -> Column:
    """``pairs[key]`` as a literal map lookup (NULL when absent)."""
    return F.create_map(*[x for k, v in pairs.items()
                          for x in (F.lit(k), F.lit(v).cast("long"))])[key]


def classify_disorder(changes: DataFrame,
                      arrival_bucket: int = ARRIVAL_BUCKET,
                      carry: dict | None = None,
                      cursor: dict | None = None) -> DataFrame:
    """Tag each row ok / disorder / duplicate by the one order rule.
    The unit is the binlog, one transaction (drainer/merge.go:318-329):
    the rows sharing (source_id, start_ts, commit_ts), kept in ``seq``
    order (PAPER.md §1.1 items 1-2).

    - duplicate: the row's transaction is not the first to arrive at
      its commit_ts (first by arrival_seq, source_id), or an earlier
      row repeats its (source_id, start_ts, commit_ts, seq): a
      redelivery;
    - disorder: otherwise, an earlier row of its source has a strictly
      larger commit_ts, or the row is at or below its source's
      ``cursor`` (the applied commit_ts a streaming caller stores
      between batches);
    - ok: every other row. Every row of an ok transaction is ok.

    The per-source running max is a TWO-PHASE max so one source's whole
    history never funnels through a single task (the reference's
    single-merger bottleneck, drainer/merge.go:236):
      1. within (source, arrival-range bucket): running prefix max —
         windows partitioned by (source, bucket), parallel;
      2. the running max of the earlier buckets' maxima (the carry).
    max(carry_in, within_bucket_prev) == the global per-source prefix
    max, exactly. The two duplicate windows share one exchange on
    commit_ts and one sort.

    ``carry`` is phase 2 computed beforehand: ``carry_from_maxima`` of
    this frame's ``bucket_maxima`` at the same ``arrival_bucket``. It is
    applied as a literal lookup, so the plan holds only the two
    exchanges. Without it the plan derives the carry itself: the bucket
    maxima, a window over them per source and a broadcast join back.
    """
    w_in = (Window.partitionBy("source_id", "_b").orderBy("arrival_seq")
            .rowsBetween(Window.unboundedPreceding, -1))
    # the rows of one commit_ts in (source, start_ts, seq) order: a
    # redelivery follows its first copy. The owner, the transaction of
    # the row first by (arrival_seq, source_id), is an aggregate over
    # the whole partition, so its window reuses that sort
    w_copy = (Window.partitionBy("commit_ts")
              .orderBy("source_id", "start_ts", "seq", "arrival_seq"))
    w_ts = Window.partitionBy("commit_ts")
    bucketed = changes.withColumn("_b", arrival_bucket_of(arrival_bucket))
    if carry is None:
        # the carry aggregate re-reads only 3 columns of the source
        # lineage (column pruning reaches the scan); persisting the
        # full stream here costs more than the pruned re-scan at every
        # tested scale. Callers that cannot afford ANY second source
        # pass (streaming micro-batches with input metrics) persist the
        # batch before calling.
        w_carry = (Window.partitionBy("source_id").orderBy("_b")
                   .rowsBetween(Window.unboundedPreceding, -1))
        carry_df = (bucket_maxima(changes, arrival_bucket)
                    .withColumn("carry_in", F.max("_bmax").over(w_carry))
                    .select("source_id", "_b", "carry_in"))
        bucketed = bucketed.join(F.broadcast(carry_df), ["source_id", "_b"])
    elif carry:
        bucketed = bucketed.withColumn("carry_in", _lookup(
            {f"{src}\x01{b}": m for (src, b), m in carry.items()},
            F.concat_ws("\x01", "source_id", F.col("_b").cast("string"))))
    else:
        bucketed = bucketed.withColumn("carry_in", F.lit(None).cast("long"))
    below_cursor = (F.col("commit_ts") <= _lookup(cursor, F.col("source_id"))
                    if cursor else F.lit(False))
    return (
        bucketed
        .withColumn("_prev", F.greatest(
            "carry_in", F.max("commit_ts").over(w_in)))
        .withColumn("_prior", F.lag(F.struct(
            "source_id", "start_ts", "seq")).over(w_copy))
        .withColumn("_owner", F.min(F.struct(
            "arrival_seq", "source_id", "start_ts")).over(w_ts))
        .withColumn(
            "order_status",
            F.when(~F.col("_owner.source_id").eqNullSafe(F.col("source_id"))
                   | ~F.col("_owner.start_ts").eqNullSafe(F.col("start_ts"))
                   | F.col("_prior").eqNullSafe(
                       F.struct("source_id", "start_ts", "seq")),
                   F.lit("duplicate"))
             .when((F.col("commit_ts") < F.col("_prev")) | below_cursor,
                   F.lit("disorder"))
             .otherwise(F.lit("ok")))
        .drop("_prev", "_prior", "_owner", "carry_in", "_b")
    )


def ordered_stream(changes: DataFrame,
                   carry: dict | None = None,
                   cursor: dict | None = None) -> DataFrame:
    """The emit-able stream: duplicates skipped, disorder quarantined
    (routed to a metric/dead-letter stream, not applied out of order).
    Returns only rows that participate in the ordered apply.
    ``carry`` and ``cursor`` as in classify_disorder.
    """
    return (classify_disorder(changes, carry=carry, cursor=cursor)
            .filter(F.col("order_status") == "ok"))


def source_watermarks(changes: DataFrame) -> DataFrame:
    """Per-source max commit_ts (= the pump's maxCommitTS cursor,
    pump/storage/storage.go:278-325)."""
    return changes.groupBy("source_id").agg(
        F.max("commit_ts").alias("source_max_ts"),
        F.count(F.lit(1)).alias("n_events"),
    )


def merge_watermark(changes: DataFrame) -> DataFrame:
    """The global low-watermark: min over sources of max(commit_ts).
    Single tiny aggregate — broadcastable everywhere it's needed."""
    return source_watermarks(changes).agg(
        F.min("source_max_ts").alias("watermark"))


def kway_merge(changes: DataFrame) -> DataFrame:
    """Union-of-sources merge gated at the low-watermark: emit exactly
    the events with commit_ts <= min(max commit_ts per source), ordered.

    The reference blocks until every source has a head item
    (drainer/merge.go:268-297); in batch form that contract is "only
    emit what every source has caught up past". Events beyond the
    watermark stay parked for the next batch.
    """
    wm = merge_watermark(changes)
    # cross-join with a 1-row aggregate => Catalyst broadcasts it.
    gated = ordered_stream(changes).crossJoin(F.broadcast(wm))
    return (gated.filter(F.col("commit_ts") <= F.col("watermark"))
                 .drop("watermark"))


def checkpoint_ts(changes: DataFrame, unmatched_p: DataFrame | None = None) -> DataFrame:
    """Savepoint advancement: the highest commit_ts such that everything
    at or below it is fully applied (drainer/syncer.go:199-286). With a
    set of still-unresolved prewrites, the checkpoint cannot pass the
    earliest unresolved start_ts.
    """
    wm = merge_watermark(changes)
    if unmatched_p is None:
        return wm.select(F.col("watermark").alias("checkpoint_ts"))
    earliest_pending = unmatched_p.agg(F.min("start_ts").alias("min_pending"))
    return (wm.crossJoin(earliest_pending)
              .select(F.when(F.col("min_pending").isNotNull()
                             & (F.col("min_pending") <= F.col("watermark")),
                             F.col("min_pending") - 1)
                       .otherwise(F.col("watermark"))
                       .alias("checkpoint_ts")))
