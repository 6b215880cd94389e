"""Causality grouping: transactions that touch overlapping keys must
apply in order; disjoint groups may apply in parallel.

Reference: pkg/loader/causality.go:31-99 builds a key -> group map over
every PK/UK key-string a txn touches (old and new images,
pkg/loader/model.go:459-512); conflicting groups force a flush barrier;
the group label routes the txn to a worker.

Spark-first: this is connected components on the bipartite txn↔key
graph, with an ADAPTIVE physical strategy (the same size-gated shape
as Spark's broadcast-join threshold). Graphs up to LOCAL_CC_MAX_EDGES
— the common case after LSH banding or causality bucketing — are
collected once and labeled on the driver by a vectorized numpy
min-label fixpoint; anything larger runs alternating min-label
propagation on the cluster (a fixed-point loop of two shuffles per
iteration) — converges in O(diameter) iterations; each iteration is a
plain groupBy/join so it scales horizontally. Both paths produce the
identical min-txn_id labeling; the Python union-find
(_local_components) is only the test oracle they are checked against.
The final group id becomes the repartition key for the parallel
apply, giving the reference's "per-key order is sufficient" guarantee
at cluster scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..session import pow2_partitions, scoped_shuffle_partitions

# Edge-count gate at or below which components are solved on the
# driver instead of by the distributed fixpoint loop. Rationale (the
# autoBroadcastJoinThreshold pattern — adapt the physical strategy to
# the measured relation size, keep the distributed plan for anything
# big): the candidate graph after LSH banding / causality bucketing is
# typically orders of magnitude smaller than the corpus, and each
# distributed min-propagation round costs two shuffles of FIXED
# scheduler latency regardless of size — ~0.7 s/round x ~7 rounds
# measured at bench scale on a 39k-edge graph (ROUNDLOG r10), i.e.
# ~6 s to label a graph a driver pass solves in <50 ms.
#
# The gate was set at the crossover of the driver path it first
# guarded, a Python union-find at ~6 us/edge: by 2M edges that lost
# to the loop (12.3 s vs 4.8 s on a conflict-pair graph), at 500k it
# still won (3.3 s vs 4.5 s). The numpy fixpoint that replaced it
# (r12) tied the loop on ~6M-edge batches, so the gate stays at 500k
# rather than make a 6M-row driver collect the default (SCALING.md,
# "SQL-apply profile at 100M events"). SqlBatchApplier's early
# wal.join() reads the same constant; tests patch it to force a path.
LOCAL_CC_MAX_EDGES = 500_000

# distributed fixpoint rounds before causality_groups raises
CC_MAX_ITER = 50

# largest labeling (rows = txns) stamp_workers broadcasts: 8M txns is
# ~200MB serialized; past it the stamp takes the shuffle join
STAMP_BROADCAST_MAX_GROUPS = 8_000_000


def _local_components_np(txn, kinv, n_keys):
    """Vectorized driver CC over the bipartite txn<->key edge list
    (r12: the 100M-event apply profile measured the DISTRIBUTED
    fixpoint as 66% of per-batch time at ~6M edges — far above the
    old 500k python-union-find gate, far below where the driver
    actually runs out of road). Same min-label fixpoint as both other
    paths, computed with sort-once + np.minimum.reduceat grouped mins
    and pointer jumping per round (labels are txn ids, so jumping is
    one searchsorted gather).

    txn: int64 edge txn ids; kinv: int64 key codes 0..n_keys-1 (every
    code present at least once — pandas factorize output). Returns
    (unique txn ids, their component labels = min txn of component).
    """
    import numpy as np
    ut, tinv = np.unique(txn, return_inverse=True)
    korder = np.argsort(kinv, kind="stable")
    kbounds = np.flatnonzero(
        np.r_[True, kinv[korder][1:] != kinv[korder][:-1]])
    torder = np.argsort(tinv, kind="stable")
    tbounds = np.flatnonzero(
        np.r_[True, tinv[torder][1:] != tinv[torder][:-1]])
    tlab = ut.copy()
    for _ in range(64):
        # key label = min over its edges' txn labels (groups arrive
        # in code order 0..n_keys-1 because factorize covers every
        # code); txn label = min(own, min over its keys' labels)
        klab = np.minimum.reduceat(tlab[tinv][korder], kbounds)
        new = np.minimum(tlab, np.minimum.reduceat(
            klab[kinv][torder], tbounds))
        # pointer jumping: a label IS a txn id, so shortcut through
        # that txn's current label
        new = np.minimum(new, tlab[np.searchsorted(ut, new)])
        if np.array_equal(new, tlab):
            return ut, tlab
        tlab = new
    raise RuntimeError(
        "local causality CC did not converge in 64 rounds — "
        "component diameter beyond pointer-jumped bounds "
        "(corrupt edge list?)")


def _local_components(rows) -> "pandas.DataFrame":
    """Driver-side union-find over collected (txn_id, key) rows.

    Produces exactly the distributed loop's fixpoint: every txn with at
    least one non-null key appears once, labeled with the minimum
    txn_id of its connected component in the bipartite txn<->key graph.
    """
    import pandas as pd

    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:          # path compression
            parent[x], x = root, parent[x]
        return root

    for txn_id, key in rows:
        t, k = ("t", txn_id), ("k", key)   # namespaced bipartite nodes
        if t not in parent:
            parent[t] = t
        if k not in parent:
            parent[k] = k
        ra, rb = find(t), find(k)
        if ra != rb:
            parent[rb] = ra

    group_min: dict = {}
    txns = [n for n in parent if n[0] == "t"]
    roots = {t: find(t) for t in txns}
    for t, r in roots.items():
        tid = t[1]
        cur = group_min.get(r)
        if cur is None or tid < cur:
            group_min[r] = tid
    return pd.DataFrame(
        {"txn_id": [t[1] for t in txns],
         "group_id": [group_min[roots[t]] for t in txns]})


def causality_groups(txn_keys: DataFrame,
                     max_edges: int | None = None) -> DataFrame:
    """txn_keys: (txn_id BIGINT, key STRING) one row per key a txn
    touches. Returns (txn_id, group_id) where group_id = min txn_id of
    the connected component.

    Adaptive physical strategy (r10): one cheap count on the persisted
    edge frame picks between the driver's numpy fixpoint (at most
    LOCAL_CC_MAX_EDGES edges) and the distributed min-propagation
    fixpoint (everything else). Both paths compute the identical
    min-txn_id component labeling; tests/test_operators.py asserts
    their equality, and the Python union-find oracle's, on randomized
    graphs; tests/test_gates_both_sides.py runs the oracle on both.

    ``max_edges``: an upper bound on the distinct (txn_id, key) rows
    the caller already knows (e.g. from the rows it built the keys
    from). At or below LOCAL_CC_MAX_EDGES the edges are collected
    straight to the driver — no persist, no count.

    Distributed path: each iteration's labels are localCheckpoint'ed —
    this both caches the data (the convergence check would otherwise
    re-execute the whole lineage every round) and TRUNCATES the logical
    plan; without it the plan nests one join deeper per iteration and
    deep components OOM the driver on plan construction alone. The loop
    RAISES if the fixpoint isn't reached within CC_MAX_ITER — a silently
    split component would let order-dependent txns apply in parallel,
    the exact corruption this operator prevents.
    """
    # null txn_id rows must go too: the distributed joins would drop
    # them silently but toPandas would surface them as float64/NaN
    # labels on the local path — filter both so the paths agree.
    edges = txn_keys.select("txn_id", "key").distinct() \
                    .filter(F.col("txn_id").isNotNull()
                            & F.col("key").isNotNull())
    if max_edges is not None and max_edges <= LOCAL_CC_MAX_EDGES:
        return _local_groups(txn_keys, edges)
    edges.persist()
    try:
        return _causality_groups_on_edges(txn_keys, edges)
    finally:
        edges.unpersist()


def _cc_shuffle_partitions(n_edges: int) -> int:
    """Deployment-sizing rule applied to the fixpoint's OWN input:
    next power of two of edge-rows/1M in [32, 1024]. The iterative CC
    runs 4 shuffles per round over the EDGE frame, whose size is set
    by the micro-batch, not the corpus — r13 measured the same-size
    graph (~10-16M edge rows) costing 20-33 s at 32 partitions (sf10
    run) but 96-119 s at the event-sized 128 (sf100 run): with ~100k
    rows/task, per-task scheduling overhead dominates every round and
    AQE cannot help because each localCheckpoint materializes the
    full partitioning. Numbers in SCALING.md."""
    return pow2_partitions(n_edges, 1_000_000, 32, 1024)


def _local_groups(txn_keys, edges):
    """Driver path: collect the edges (Arrow batch transfer) and label
    them with the numpy min-label fixpoint (r12) — the python
    union-find (_local_components) stays as the parity oracle in
    tests."""
    import numpy as np
    import pandas as pd
    id_type = txn_keys.schema["txn_id"].dataType
    epdf = edges.toPandas()
    schema = T.StructType([T.StructField("txn_id", id_type),
                           T.StructField("group_id", id_type)])
    if epdf.empty:
        return txn_keys.sparkSession.createDataFrame([], schema=schema)
    kcodes, _ = pd.factorize(epdf["key"])
    ut, lab = _local_components_np(
        epdf["txn_id"].to_numpy(np.int64),
        kcodes.astype(np.int64), int(kcodes.max()) + 1)
    pdf = pd.DataFrame({"txn_id": ut, "group_id": lab})
    return txn_keys.sparkSession.createDataFrame(pdf, schema=schema)


def _causality_groups_on_edges(txn_keys, edges):
    n_edges = edges.count()
    if n_edges <= LOCAL_CC_MAX_EDGES:
        return _local_groups(txn_keys, edges)

    # scoped shuffle sizing for the fixpoint rounds (see
    # _cc_shuffle_partitions). The session conf is restored after the
    # loop; every round's labels are localCheckpoint'ed, so downstream
    # consumers never re-execute these shuffles under the restored
    # conf. Single-driver pipelines run one foreachBatch at a time,
    # which is the context this operator executes in.
    with scoped_shuffle_partitions(txn_keys.sparkSession,
                                   _cc_shuffle_partitions(n_edges)):
        return _cc_fixpoint(edges)


def _cc_fixpoint(edges):
    labels = edges.select("txn_id").distinct() \
                  .withColumn("label", F.col("txn_id")).localCheckpoint()

    # Pointer jumping (label-of-label shortcutting) was A/B-measured
    # here in r10 and REJECTED as the DEFAULT: it halves the
    # propagation rounds (7 -> 4 on the chain-heavy consensus graph)
    # but adds a label-map self-join shuffle per round, netting SLOWER
    # at both bench scale (5.9 -> 6.2s, fixed-overhead-dominated) and
    # 100x (70.1 -> 87.5s, where the label map is no longer small
    # relative to the round cost). Plain min-propagation stays the
    # default; pointer jumping kicks in ONLY as the deep-component
    # fallback below (plain rounds advance a label one txn-hop per
    # round, so a chain of diameter d needs ~d rounds and would RAISE
    # past CC_MAX_ITER; with jumping, labels shortcut through their
    # current root, giving O(log d) rounds — the convergence safety
    # net, paid only when the graph is actually deep).
    jump_after = 16
    prev_sum, converged = None, False
    for it in range(CC_MAX_ITER):
        lk = (edges.join(labels, "txn_id")
                   .groupBy("key").agg(F.min("label").alias("key_label")))
        new_labels = (edges.join(lk, "key")
                      .groupBy("txn_id")
                      .agg(F.min("key_label").alias("label")))
        if it >= jump_after:
            lmap = labels.select(F.col("txn_id").alias("_l_txn"),
                                 F.col("label").alias("_l_lab"))
            new_labels = (new_labels
                          .join(lmap, new_labels["label"] == lmap["_l_txn"],
                                "left")
                          .select("txn_id",
                                  F.least("label", "_l_lab").alias("label")))
        new_labels = new_labels.localCheckpoint()
        s = new_labels.agg(F.sum("label").alias("s")).collect()[0]["s"]
        labels = new_labels
        # s is None <=> the label frame is empty (empty micro-batch):
        # already at the (empty) fixpoint.
        if s is None or (prev_sum is not None and s == prev_sum):
            converged = True
            break
        prev_sum = s
    if not converged:
        raise RuntimeError(
            f"causality_groups did not converge in {CC_MAX_ITER} rounds; "
            f"raise CC_MAX_ITER (component diameter exceeds it)")
    return labels.withColumnRenamed("label", "group_id")


def stamp_workers(changes: DataFrame, groups: DataFrame,
                  num_workers: int = 16,
                  txn_col: str = "commit_ts",
                  max_groups: int | None = None) -> DataFrame:
    """Stamp a (txn_id, group_id) labeling onto the statement frame as
    (group_id, worker_id) — the join half of
    :func:`conflict_free_partitions`, split out so a traced run can
    time the CC fixpoint and the big-frame stamp separately.

    worker_id is computed on the SMALL groups frame before the join
    (one row per txn, not per statement) and the join side is
    broadcast-hinted when the labeling fits (one row per txn —
    bounded by the micro-batch's txn count, not corpus size), so the
    statement frame keeps its partitioning instead of shuffling
    through a sort-merge join (r13 A/B at 10M events; numbers in
    SCALING.md). The count guarding the hint is cheap: the
    distributed fixpoint localCheckpoints its final labels and the
    local gate builds them on the driver; ``max_groups``, a bound on
    the labeling's rows the caller already knows, skips it when the
    bound is within the cap. Past the cap (STAMP_BROADCAST_MAX_GROUPS)
    the stamp falls back to the shuffle join rather than force an
    oversized broadcast. Unmatched txns (no key rows) fall
    back to singleton groups and get the same hash, applied post-join
    on the big frame only for NULL rows."""
    small = groups.select(
        F.col("txn_id"),
        F.col("group_id"),
        F.pmod(F.xxhash64(F.col("group_id")),
               F.lit(num_workers)).alias("worker_id"))
    cap = STAMP_BROADCAST_MAX_GROUPS
    if (max_groups is not None and max_groups <= cap) \
            or groups.count() <= cap:
        small = F.broadcast(small)
    out = changes.join(small,
                       changes[txn_col] == small.txn_id, "left") \
                 .drop("txn_id")
    # txns with no key rows: singleton groups (their own id) — a NULL
    # group would hash every unmatched txn onto one worker
    out = out.withColumn("group_id",
                         F.coalesce(F.col("group_id"), F.col(txn_col)))
    return out.withColumn(
        "worker_id",
        F.coalesce(F.col("worker_id"),
                   F.pmod(F.xxhash64(F.col("group_id")),
                          F.lit(num_workers))))


def conflict_free_partitions(changes: DataFrame, txn_keys: DataFrame,
                             num_workers: int = 16,
                             txn_col: str = "commit_ts",
                             max_edges: int | None = None) -> DataFrame:
    """Stamp each change with its causality group and a worker id
    (hash of group % workers) — the Spark analog of loader's
    hash-to-16-workers dispatch (pkg/loader/load.go:508-575). A
    repartition on worker_id then gives per-group ordered, cross-group
    parallel apply.

    `txn_col` must be the SAME txn identity used to build `txn_keys`.
    Txns with no key rows are singleton groups (their own id) — a NULL
    group would hash every unmatched txn onto one worker.
    ``max_edges`` bounds the distinct (txn_id, key) rows (see
    :func:`causality_groups`); every labeled txn has at least one
    edge, so it bounds the labeling's rows too.
    """
    return stamp_workers(changes,
                         causality_groups(txn_keys, max_edges=max_edges),
                         num_workers=num_workers, txn_col=txn_col,
                         max_groups=max_edges)
