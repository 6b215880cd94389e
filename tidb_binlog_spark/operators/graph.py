"""Graph analytics over document/key relationship graphs: join-based
power iteration (PageRank) in exact integer arithmetic.

The reference has no graph operator; the replica's data does — the
near-dup/shared-content graph over a corpus (canonical selection wants
the most *central* doc of a neighborhood, not just the min-id one),
and the UK-conflict graph the causality map already builds
(operators/causality.py is the connected-components half; this is the
centrality half).

Spark-first shape: PageRank is the textbook join-based power
iteration — per iteration ONE src-keyed equi-join (ranks are
node-sized, far smaller than edges; AQE broadcasts them when they
fit) and ONE dst-keyed map-side-combinable aggregate. No mutable
state, no driver loops over data; iterations unroll into a linear
Catalyst plan. At 100 TB the edge list is shuffled once onto src and
reused every iteration (persist), exactly the classic Pregel/GraphX
cost model expressed in DataFrames.

Determinism: ranks live in integer MICRO-units; contributions are
``rank DIV outdeg`` and damping is ``(d * sum) DIV 100`` — exact
BIGINT algebra both engines reproduce bit-for-bit (floor-division
mass loss is the documented price; centrality ORDER is what the
consumer reads).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from tidb_binlog_spark.cache import managed_persist
from tidb_binlog_spark.session import (pow2_partitions,
                                       scoped_shuffle_partitions)


def rare_feature_edges(docs: DataFrame, n: int = 4,
                       min_df: int = 2, max_df: int = 3) -> DataFrame:
    """Doc-doc edges via shared RARE n-gram shingles (df in
    [min_df, max_df]): two documents sharing a rare phrase are far
    more likely related than ones sharing stopwords — the df cap is
    also the scale bound (a shingle with df <= k fans out to at most
    k*(k-1) edges, so the self-join is bounded per key and never
    quadratic in the corpus).
    """
    from tidb_binlog_spark.functions.text import (ngram_zip_expr,
                                                   with_tokens)
    # ONE corpus pass, pinned to sh-hash partitioning and persisted:
    # the df count, the rare filter, and the per-shingle doc
    # collection are all sh-keyed, so every step downstream of the one
    # explicit exchange is exchange-free (hashpartitioning(sh)
    # satisfies their clustered distributions — the r13 term-index
    # pin-partitioning recipe, scoring.py). The r13 form re-derived
    # this subtree on both sides of an sh-keyed self-join (grams ->
    # dfreq -> rare -> grams JOIN rare JOIN other), tokenizing the
    # corpus twice and shuffling the gram frame three times (r14,
    # guide §2.4). The collect_list runs only on df-filtered shingles,
    # so its buffer is bounded by max_df — a hot stopword shingle
    # never materializes its doc list.
    grams = managed_persist(
        with_tokens(docs.select("doc_id", "text"))
        .select("doc_id", F.explode(
            F.expr(ngram_zip_expr(n))).alias("sh"))
        .repartition(F.col("sh"))
        # dedup AFTER the exchange: hash(sh) clusters (doc_id, sh)
        # too, so the dropDuplicates aggregate reuses the same
        # partitioning instead of adding its own (doc_id, sh) shuffle
        .dropDuplicates(["doc_id", "sh"]))
    rare = (grams.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
            .filter((F.col("df") >= min_df) & (F.col("df") <= max_df))
            .select("sh"))
    # per rare shingle: <= max_df docs => <= max_df*(max_df-1) ordered
    # pairs, exploded in-row — the self-join IS this explode
    groups = (grams.join(rare, "sh")
              .groupBy("sh").agg(F.collect_list("doc_id").alias("ds")))
    return (groups
            .select(F.explode(F.expr(
                "flatten(transform(ds, x -> "
                "  transform(filter(ds, y -> y != x), "
                "            y -> struct(x AS src, y AS dst))))"))
                .alias("e"))
            .select("e.src", "e.dst")
            .distinct())


def _pr_shuffle_partitions(n_edges: int) -> int:
    """Shuffle sizing for the power-iteration rounds, from the loop's
    OWN input (the causality-fixpoint recipe, operators/causality.py
    _cc_shuffle_partitions): the per-round dst aggregate shuffles
    edge-count rows whatever the session width is, so a rare-shingle
    graph of ~70k edges fanned to the session's 32 partitions pays
    ~10 near-empty tasks of scheduling per shuffle per round. Next
    power of two of edges/500k in [4, 1024]: ~70k edges -> 4, the
    causality-scale 10-16M -> 32 (matching its measured optimum),
    capped where block count would start to quadratic-degrade
    (guide §2.2)."""
    return pow2_partitions(n_edges, 500_000, 4, 1024)


def pagerank(edges: DataFrame, iters: int = 3,
             damping_pct: int = 85) -> DataFrame:
    """Fixed-iteration PageRank in integer micro-units over a
    directed edge list (run it on a symmetric edge set for undirected
    graphs). rank_0 = 1e6 for every node with out-edges; each
    iteration: contrib = rank DIV outdeg along each edge, then
    rank' = (100-d)*10^4 + (d * sum(contrib)) DIV 100.

    The rounds execute EAGERLY, each under a shuffle-partition count
    sized to the edge list (r14, guide §2.2/§5): every round's ranks
    are localCheckpoint'ed, truncating the unrolled lineage (the r13
    3-iteration plan re-derived rounds 1-2 inside round 3's subtree
    whenever AQE couldn't stitch reuse) and letting the scoped conf
    actually bind (a lazily returned plan would re-plan under the
    caller's restored conf). The session conf is restored before
    returning; the checkpointed rounds never re-execute downstream.

    Returns (node, rank_micro, outdeg) after ``iters`` rounds.
    """
    edges = managed_persist(edges.select("src", "dst"))
    n_edges = edges.count()   # materializes the persist once, up front
    with scoped_shuffle_partitions(edges.sparkSession,
                                   _pr_shuffle_partitions(n_edges)):
        deg = managed_persist(
            edges.groupBy("src").agg(F.count(F.lit(1)).alias("outdeg")))
        base = (100 - damping_pct) * 10_000
        ranks = deg.select(
            F.col("src").alias("node"),
            F.lit(1_000_000).cast("bigint").alias("rank_micro"))
        for _ in range(iters):
            sums = (edges.join(deg, "src")
                    .join(ranks, edges["src"] == ranks["node"])
                    .select(F.col("dst"),
                            F.expr("rank_micro DIV outdeg").alias("c"))
                    .groupBy("dst")
                    .agg(F.expr("CAST(sum(c) AS BIGINT)").alias("s")))
            # left-join back onto the FULL node set (deg): a node with
            # out-edges but no in-edges keeps its (1-d) base rank and
            # its outgoing contribution instead of silently vanishing
            # after iteration 1 (only relevant for directed graphs; on
            # symmetric edge sets every src is also a dst and the join
            # is total).
            ranks = (deg.select(F.col("src").alias("node"))
                     .join(sums, F.col("node") == F.col("dst"), "left")
                     .select("node",
                             F.expr(f"CAST({base} + ({damping_pct} * "
                                    "coalesce(s, CAST(0 AS BIGINT))) "
                                    "DIV 100 AS BIGINT)")
                             .alias("rank_micro"))
                     .localCheckpoint())
    return (ranks.join(deg, ranks["node"] == deg["src"])
            .select("node", "rank_micro", "outdeg"))
