"""Similarity search over embedding columns: brute-force cosine top-k
(the exactness baseline) and sign-random-projection LSH bucketing (the
scale path), plus embedding-cosine near-duplicate detection.

Scale design:
- brute force is a broadcast join of the (small) query set against the
  full corpus — one scan, no shuffle of the corpus side; top-k is a
  per-query window (shuffle keyed by query id);
- LSH assigns every vector a 16-bit sign bucket in a single narrow
  projection; near-dup / search then joins within buckets only;
- all vector math is sequential double-precision folds (F.aggregate),
  bit-identical across engines, no Python per row.

At real scale the corpus side would be bucketed/partitioned by the LSH
key at write time so queries prune partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import session
from ..cache import managed_persist

# sequential fold dot product / norms over array<float> cast to double.
DOT = ("aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
       "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)")
NORM = ("sqrt(aggregate(transform({a}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
        "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v))")


def cosine_expr(a: str, b: str) -> str:
    return (f"({DOT.format(a=a, b=b)}) / "
            f"(({NORM.format(a=a)}) * ({NORM.format(a=b)}))")


def cosine_prenorm_expr(a: str, b: str, norm_a: str, norm_b: str) -> str:
    """cosine with precomputed norms: bit-identical to cosine_expr
    (same IEEE ops — dot / (norm_a * norm_b)) but the O(d) norm folds
    run once per VECTOR instead of once per PAIR. The pair join then
    does one fold instead of three."""
    return f"({DOT.format(a=a, b=b)}) / (({norm_a}) * ({norm_b}))"


def with_norm(df: DataFrame, vec_col: str = "embedding",
              out_col: str = "_norm") -> DataFrame:
    return df.withColumn(out_col, F.expr(NORM.format(a=vec_col)))


def brute_force_topk(embeddings: DataFrame, query_mod: int | None = 100,
                     k: int = 10) -> DataFrame:
    """Exact cosine top-k: query set = vec_id % query_mod == 0 (a
    deterministic sample standing in for user queries), ranked per
    query by (similarity desc, vec_id) for stable ties.

    ``query_mod=None`` derives a FIXED-size query sample
    (sampled_query_mod, ~64 queries at any corpus): the exact scan is
    Q x N by definition, so a corpus-proportional Q makes the whole
    baseline quadratic — the r8 sweep measured the fixed mod=100 form
    at 621x time at 100x rows. With the fixed sample the scan stays
    Theta(N): the role of an exact baseline is a statistically
    sufficient audit, not a corpus-wide serving path (that is what
    the IVF/IVFPQ siblings are for)."""
    from pyspark.sql import Window
    from .text import spread
    if query_mod is None:
        query_mod = sampled_query_mod(embeddings)
    e = with_norm(spread(embeddings), "embedding", "e_norm")
    q = (with_norm(embeddings.filter(F.col("vec_id") % query_mod == 0),
                   "embedding", "q_norm")
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("q_emb"), "q_norm"))
    joined = (e.crossJoin(F.broadcast(q))
              .filter(F.col("vec_id") != F.col("query_id"))
              .withColumn("cosine", F.expr(cosine_prenorm_expr(
                  "q_emb", "embedding", "q_norm", "e_norm"))))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (joined.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "vec_id", "cosine", "rank"))


# 6 planes = 64 buckets: sized for the fixture corpora (500-2k vectors)
# so buckets actually collide; a real deployment sizes planes ~log2(n/B)
# for target bucket size B.
N_PLANES = 6


def lsh_plane_expr(dims: int = 64, planes: int = N_PLANES, vec: str = "embedding") -> str:
    """Sign-random-projection bucket: plane p's weight for dim d is
    +-1 by the top bit of md5(p:d) — a deterministic pseudo-random
    hyperplane shared with the oracle. Returns a '0'/'1' string key."""
    proj = (f"aggregate(sequence(0, {dims - 1}), CAST(0.0 AS DOUBLE), "
            f"(acc, d) -> acc + CAST({vec}[d] AS DOUBLE) * "
            f"(CASE WHEN substring(md5(concat(CAST(p AS STRING), ':', CAST(d AS STRING))), 1, 1) >= '8' "
            f"THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END))")
    return (f"array_join(transform(sequence(0, {planes - 1}), "
            f"p -> CASE WHEN ({proj}) > 0 THEN '1' ELSE '0' END), '')")


def lsh_buckets(embeddings: DataFrame, dims: int = 64) -> DataFrame:
    from .text import spread
    return spread(embeddings).withColumn("bucket", F.expr(lsh_plane_expr(dims)))


def lsh_topk(embeddings: DataFrame, query_mod: int = 100, k: int = 5,
             dims: int = 64,
             max_bucket_size: int | None = None) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH
    bucket, then exact cosine rank within the bucket.

    Default is UNCAPPED (exact within the bucket, oracle-identical);
    ``max_bucket_size`` bounds the CANDIDATE side of the bucket join
    (a corpus with one vector duplicated 10^6 times would otherwise
    put every copy in one bucket and go quadratic against its
    queries). Queries are drawn from the uncapped set — a cap never
    silently drops a query, only tail candidates — and deployments
    pair it with dedup.bucket_cap_report on the bucketed corpus so
    truncation is never silent."""
    from pyspark.sql import Window
    from .dedup import cap_buckets
    b = managed_persist(with_norm(lsh_buckets(embeddings, dims), "embedding", "e_norm"))
    q = (b.filter(F.col("vec_id") % query_mod == 0)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("q_emb"),
                 F.col("e_norm").alias("q_norm"),
                 F.col("bucket").alias("q_bucket")))
    cand = cap_buckets(b, ["bucket"], max_bucket_size, order_col="vec_id")
    joined = (cand.join(q, (F.col("bucket") == F.col("q_bucket"))
                     & (F.col("vec_id") != F.col("query_id")))
              .withColumn("cosine", F.expr(cosine_prenorm_expr(
                  "q_emb", "embedding", "q_norm", "e_norm"))))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (joined.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "vec_id", "cosine", "rank"))


def sqrt_centroid_mod(embeddings: DataFrame,
                      id_col: str = "vec_id",
                      n: int | None = None) -> int:
    """Scale-derived IVF coarse-quantizer sizing: centroid_mod ~=
    sqrt(N), so the centroid COUNT is ~sqrt(N) and the inverted lists
    hold ~sqrt(N) vectors each — the canonical nlist ~ sqrt(N) sizing
    (Faiss guideline; Jegou et al., PAMI'11). Total IVF work is then
    assignment N*sqrt(N) + probe Q*nprobe*sqrt(N) — the N^1.5 IVF
    shape. A FIXED mod instead makes the centroid count track the
    corpus (C = N/mod), and the assignment join (every vector x every
    centroid) goes QUADRATIC: measured at the 100x derived dataset,
    mod=37 spends minutes in a 1.08-billion-pair assignment that
    sqrt-sizing does in ~90M pairs (the 10x run hid this inside fixed
    overheads — the two-decade scale proof is what exposed it).

    The count is a bounded driver-side scalar (same class as the
    watermark collects). Integer-exact cross-engine: floor(sqrt(N)) is
    IEEE-correctly-rounded in both Python and DuckDB, then pure
    integer division — the oracle derives the identical mod via
    GREATEST(2, COUNT(*) // CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT)).
    Pass a precomputed ``n`` to share one count across several
    derivations (recall_curve derives both mods from one scan)."""
    import math
    if n is None:
        n = embeddings.count()
    r = int(math.floor(math.sqrt(n))) or 1
    return max(2, n // r)


def ivf_assign(embeddings: DataFrame,
               centroid_mod: int | None = 37) -> DataFrame:
    """IVF coarse quantizer: a deterministic sample of the corpus
    (vec_id % centroid_mod == 1) serves as centroids (standing in for
    k-means — the assignment/probe machinery is identical); every
    vector joins its nearest centroid by cosine.

    ``centroid_mod=None`` derives sqrt(N) sizing from the corpus
    (see sqrt_centroid_mod) — the scale-safe default for new callers;
    the fixed default stays 37 for the callers whose oracles pin it.

    At 100 TB the centroid set stays broadcast-small and the corpus is
    written out partitioned by centroid_id, so probes read only their
    inverted lists."""
    if centroid_mod is None:
        centroid_mod = sqrt_centroid_mod(embeddings)
    from pyspark.sql import Window
    from .text import spread
    cents = (with_norm(embeddings.filter(F.col("vec_id") % centroid_mod == 1),
                       "embedding", "c_norm")
             .select(F.col("vec_id").alias("centroid_id"),
                     F.col("embedding").alias("c_emb"), "c_norm"))
    e = with_norm(spread(embeddings), "embedding", "e_norm")
    scored = (e.crossJoin(F.broadcast(cents))
              .withColumn("c_cos", F.expr(cosine_prenorm_expr(
                  "embedding", "c_emb", "e_norm", "c_norm"))))
    w = Window.partitionBy("vec_id").orderBy(F.desc("c_cos"), F.asc("centroid_id"))
    return (scored.withColumn("crank", F.row_number().over(w))
            .filter(F.col("crank") == 1)
            .select("vec_id", "embedding", F.col("e_norm"), "centroid_id"))


def ivf_topk(embeddings: DataFrame, query_mod: int | None = 100, k: int = 5,
             nprobe: int = 2, centroid_mod: int | None = 37,
             max_list_size: int | None = None) -> DataFrame:
    """IVF search: probe the query's nprobe nearest inverted lists,
    exact cosine rank within the candidates.

    ``centroid_mod=None`` derives sqrt(N) coarse-quantizer sizing
    (see sqrt_centroid_mod) — at a growing corpus a fixed mod makes
    the assignment join quadratic in N.

    ``query_mod=None`` derives a FIXED-size query sample
    (sampled_query_mod, ~64 queries at any corpus): a
    corpus-proportional query set makes the probe stage Q x sqrt(N) =
    Theta(N^1.5) on its own, stacking on the designed N^1.5 index
    build (the r9 100x sweep measured the fixed mod=100 at 87.9x time
    at 100x rows). With the fixed sample the probe stage is
    Theta(sqrt(N)) and total work is the index-side N^1.5 only. One
    count is shared across both derivations.

    ``max_list_size`` caps each inverted list before the probe join
    (default None = exact): a degenerate corpus that assigns a huge
    mass of near-identical vectors to one centroid otherwise makes
    every probe of that list a straggler. Same contract as
    dedup.cap_buckets — deterministic lowest-vec_id survivors, audit
    with dedup.bucket_cap_report(assign, ["centroid_id"], cap)."""
    from pyspark.sql import Window
    from .dedup import cap_buckets
    if centroid_mod is None or query_mod is None:
        n = embeddings.count()
        if centroid_mod is None:
            centroid_mod = sqrt_centroid_mod(embeddings, n=n)
        if query_mod is None:
            query_mod = sampled_query_mod(embeddings, n=n)
    assign = managed_persist(cap_buckets(
        ivf_assign(embeddings, centroid_mod), ["centroid_id"],
        max_list_size, order_col="vec_id"))
    cents = (with_norm(embeddings.filter(F.col("vec_id") % centroid_mod == 1),
                       "embedding", "c_norm")
             .select(F.col("vec_id").alias("centroid_id"),
                     F.col("embedding").alias("c_emb"), "c_norm"))
    q = (with_norm(embeddings.filter(F.col("vec_id") % query_mod == 0),
                   "embedding", "q_norm")
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("q_emb"), "q_norm"))
    wq = Window.partitionBy("query_id").orderBy(F.desc("p_cos"), F.asc("centroid_id"))
    probes = (q.crossJoin(F.broadcast(cents))
              .withColumn("p_cos", F.expr(cosine_prenorm_expr(
                  "q_emb", "c_emb", "q_norm", "c_norm")))
              .withColumn("prank", F.row_number().over(wq))
              .filter(F.col("prank") <= nprobe)
              .select("query_id", "q_emb", "q_norm", "centroid_id"))
    cands = (probes.join(assign, "centroid_id")
             .filter(F.col("vec_id") != F.col("query_id"))
             .withColumn("cosine", F.expr(cosine_prenorm_expr(
                 "q_emb", "embedding", "q_norm", "e_norm"))))
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (cands.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "vec_id", "cosine", "rank"))


def embedding_near_dups(embeddings: DataFrame, threshold: float = 0.3,
                        dims: int = 64,
                        max_bucket_size: int | None = None,
                        collapse_identical: bool = True) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: same-LSH-bucket candidate
    join, exact cosine >= threshold.

    Default is COLLAPSE-FIRST (``collapse_identical=True``, the
    semantic_dedup_exact pattern): bit-identical vectors are grouped
    to a representative (min vec_id) BEFORE the bucket join, each
    non-representative is reported as one edge against its
    representative (cosine computed on the pair, so the threshold —
    and any zero-vector behavior — applies identically), and the
    LSH-bucket pairwise join runs over REPRESENTATIVES only. On a
    corpus with no repeated vectors this is bit-identical to the
    all-pairs form; on a mass-duplicate corpus — the case dedup
    exists for — it reports the same duplicate GROUPS through
    group-star edges in O(n + distinct-pairs) rows instead of
    enumerating the inherently quadratic all-pairs expansion
    (measured on the 100x verbatim-replicated sweep corpus: the
    uncapped all-pairs form hit 820x time at 100x rows; one LSH
    bucket held every replica and the self-join — and the OUTPUT —
    went quadratic). Downstream consumers take connected components
    anyway (dedup_embedding_clusters), for which the group-star +
    rep-pair graph is equivalent.

    ``collapse_identical=False`` restores the historical all-pairs
    contract; ``max_bucket_size`` additionally caps a degenerate
    bucket of near-identical-but-distinct vectors (pair with
    dedup.bucket_cap_report so truncation is never silent)."""
    from pyspark.sql import Window
    from .dedup import cap_buckets
    base = embeddings
    member_edges = None
    if collapse_identical:
        g = managed_persist(embeddings.withColumn(
            "rep_id",
            F.min("vec_id").over(Window.partitionBy("embedding"))))
        m = with_norm(g.filter(F.col("vec_id") != F.col("rep_id")),
                      "embedding", "n")
        member_edges = (m.select(
            F.col("rep_id").alias("vec_a"),
            F.col("vec_id").alias("vec_b"),
            F.expr(cosine_prenorm_expr("embedding", "embedding",
                                       "n", "n")).alias("cosine"))
            .filter(F.col("cosine") >= threshold))
        base = g.filter(F.col("vec_id") == F.col("rep_id")) \
                .drop("rep_id")
    b = with_norm(lsh_buckets(base, dims), "embedding", "n")
    b = managed_persist(cap_buckets(b, ["bucket"], max_bucket_size,
                                    order_col="vec_id"))
    x, y = b.alias("x"), b.alias("y")
    pairs = (x.join(y, (F.col("x.bucket") == F.col("y.bucket"))
                    & (F.col("x.vec_id") < F.col("y.vec_id")))
             .select(F.col("x.vec_id").alias("vec_a"),
                     F.col("y.vec_id").alias("vec_b"),
                     F.expr(cosine_prenorm_expr("x.embedding", "y.embedding",
                                                "x.n", "y.n")).alias("cosine")))
    pairs = pairs.filter(F.col("cosine") >= threshold)
    if member_edges is not None:
        pairs = pairs.unionByName(member_edges)
    return pairs


# --- product quantization ----------------------------------------------------
# The memory-bounded ANN scale path (Jegou et al., PAMI'11): split each
# d-dim vector into M subvectors, quantize each against a per-subspace
# codebook of K codewords, store M small codes per vector. At 100 TB
# the corpus holds M bytes/vector instead of 4d, codebooks stay
# broadcast-tiny, and search reconstructs distances from the codes.

PQ_M = 8            # subspaces (64 dims -> 8 dims each)
PQ_CODEBOOK_MOD = 59   # deterministic codebook sample: vec_id % mod == 1
PQ_CODEBOOK_SIZE = 16  # K codewords per subspace (fixed regardless of corpus)


def _subvec(vec: str, j: int, sub_dim: int) -> str:
    return f"slice({vec}, {j * sub_dim + 1}, {sub_dim})"


def pq_codebooks(embeddings: DataFrame, m: int = PQ_M,
                 codebook_mod: int = PQ_CODEBOOK_MOD,
                 dims: int = 64,
                 codebook_size: int = PQ_CODEBOOK_SIZE) -> DataFrame:
    """Per-subspace codebooks from a deterministic corpus sample
    (vec_id % mod == 1, lowest ``codebook_size`` vec_ids), one row per
    (subspace j, code c): the sampled vectors' j-th subvectors, code
    ids assigned by vec_id order. K is FIXED regardless of corpus size
    so the broadcast codebook and the per-row argmin cost never grow
    with the data (the same trade as ivf_assign's sampled coarse
    quantizer)."""
    sub = dims // m
    # orderBy().limit() compiles to TakeOrderedAndProject (per-partition
    # heap + driver merge of K rows) — the unpartitioned row_number
    # window below then runs over K rows only, never the corpus sample
    sample = (embeddings.filter(F.col("vec_id") % codebook_mod == 1)
              .orderBy("vec_id").limit(codebook_size))
    w = Window.orderBy("vec_id")   # codebook_size rows only — tiny
    coded = sample.withColumn("code", F.row_number().over(w) - 1)
    parts = []
    for j in range(m):
        parts.append(coded.select(
            F.lit(j).alias("j"), "code",
            F.expr(_subvec("embedding", j, sub)).alias("codeword")))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def pq_encode(embeddings: DataFrame, codebooks: DataFrame,
              m: int = PQ_M, dims: int = 64) -> DataFrame:
    """Assign every vector its M-byte PQ code AND the reconstructed
    (decoded) vector — argmin squared-L2 per subspace against the
    broadcast codebook, ties to the lowest code id.

    The codebook arrives as ONE broadcast row of
    array<struct<j,code,codeword>> sorted by (j, code); the per-row
    argmin is a pure array fold — no explode of the corpus, no
    shuffle."""
    sub = dims // m
    cb = codebooks.agg(F.expr(
        "sort_array(collect_list(struct(j, code, codeword))) AS cb"))
    e = embeddings.crossJoin(F.broadcast(cb))
    code_cols, recon_parts = [], []
    for j in range(m):
        sv = _subvec("embedding", j, sub)
        dists = (f"transform(filter(cb, x -> x.j = {j}), "
                 f"c -> aggregate(zip_with({sv}, c.codeword, "
                 f"(x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * "
                 f"(CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), "
                 f"CAST(0.0 AS DOUBLE), (acc, v) -> acc + v))")
        code = (f"array_position({dists}, array_min({dists})) - 1")
        code_cols.append(F.expr(f"CAST({code} AS INT)").alias(f"c{j}"))
    e = e.select("vec_id", "embedding", "cb", *code_cols)
    for j in range(m):
        recon_parts.append(
            f"filter(cb, x -> x.j = {j})[c{j}].codeword")
    recon = "concat(" + ", ".join(recon_parts) + ")"
    return e.select(
        "vec_id", "embedding",
        F.array(*[F.col(f"c{j}") for j in range(m)]).alias("pq_code"),
        F.expr(recon).alias("pq_recon"))


def pq_topk(embeddings: DataFrame, query_mod: int | None = 100, k: int = 5,
            m: int = PQ_M, codebook_mod: int = PQ_CODEBOOK_MOD,
            codebook_size: int = PQ_CODEBOOK_SIZE) -> DataFrame:
    """PQ asymmetric-distance search: queries stay exact, corpus
    vectors are represented by their reconstructions (sum over
    subspaces of query-to-codeword distances == squared L2 to the
    concatenated reconstruction), ranked per query ascending.

    Scale: the corpus carries only codes; one broadcast of the query
    set; the only shuffle is the per-query top-k window.

    ``query_mod=None`` derives a FIXED-size query sample
    (sampled_query_mod, ~64 queries): the flat ADC scan is Q x N, so
    a corpus-proportional Q is quadratic — the r8 100x sweep killed
    the fixed mod=100 form at >15 min. IVFPQ (ivfpq_topk) is the
    serving path; this flat scan is the codebook-quality audit."""
    if query_mod is None:
        query_mod = sampled_query_mod(embeddings)
    cb = pq_codebooks(embeddings, m, codebook_mod,
                      codebook_size=codebook_size)
    enc = pq_encode(embeddings, cb, m)
    q = (embeddings.filter(F.col("vec_id") % query_mod == 0)
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("q_emb")))
    sq = ("aggregate(zip_with(q_emb, pq_recon, "
          "(x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * "
          "(CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), "
          "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)")
    joined = (enc.crossJoin(F.broadcast(q))
              .filter(F.col("vec_id") != F.col("query_id"))
              .withColumn("adc_dist", F.expr(sq)))
    w = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"),
                                               F.asc("vec_id"))
    return (joined.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("query_id", "vec_id", "adc_dist", "rank"))


def quantized_vec_expr(vec: str = "embedding",
                       scale: int = 1_000_000) -> str:
    """Micro-quantized integer copy of a float vector:
    q_i = floor(x_i * scale) as BIGINT. Exact and engine-identical
    (float32 -> float64 promotion then one IEEE multiply + floor), the
    entry point of every exact-integer vector pipeline here.

    Domain bound: the downstream cross-multiplied cosine test computes
    ``den^2 * dot^2`` in BIGINT, so it needs
    ``(dims * (scale * max|x|)^2)^2 * den^2 <= 2^63``. For dims=64,
    den=20, that caps ``scale * max|x|`` around 1.5e3 — satisfied by
    unit-scale embeddings (|x| <= ~1) at the semantic-dedup scale of
    1e3, and by |x| <= ~1 at the default 1e6 scale for the
    distance-only pipelines (dist fits at ~3e15). Out-of-domain inputs
    fail loudly (Spark ANSI long-overflow), never silently wrap."""
    return (f"transform({vec}, x -> "
            f"CAST(floor(CAST(x AS DOUBLE) * {scale}.0) AS BIGINT))")


def pca_moments(embeddings: DataFrame, dims: int,
                vec_col: str = "embedding",
                scale: int = 1_000_000):
    """EXACT integer second-moment statistics of the quantized corpus:
    returns (n, s, G) where s[i] = sum q_i (length-d int list) and
    G[i][j] = sum q_i*q_j (upper triangle, mirrored to full) — the
    sufficient statistics for PCA, computed distributed with NO float
    summation (integer partial aggregation is order-exact).

    Plan shape: per-row upper-triangle pair explode -> one (i, j)-keyed
    integer sum. The shuffle after partial aggregation is at most
    d*(d+1)/2 + d rows PER PARTITION regardless of corpus size — the
    100 TB-safe way to fit a d x d model (d small, corpus huge).
    Driver sees only the d x d moment rows, never data.
    """
    # spread BEFORE the heavy per-row compute: the fixture parquet is
    # one split, and without the fan-out the whole moment pass ran on
    # a single task (r13 profile: 2.2 s on one core).
    #
    # r13 engine: numpy Gram matmul per Arrow batch (guide §4.2, the
    # kvcodec_np pattern) instead of the d(d+1)/2-struct-per-row
    # explode + (i, j)-keyed sum — the explode materialized ~2080
    # structs per row (416M rows at the 100x sweep, 47 s); one
    # X.T @ X per batch is the same arithmetic in native code.
    # Exactness: per-batch products stay inside int64 (|q| <= scale,
    # so a 65k-row batch's entry sum <= 65k * scale^2 ~ 6.5e16); the
    # CROSS-batch accumulation runs in arbitrary-precision Python
    # ints and ships driver-ward as strings, so no width limit is
    # ever hit — the same (n, s, G) the expr route produced (pinned by
    # tests/test_functions.py::test_pca_moments_np_matches_reference).
    from .text import spread
    # tolerate malformed rows the way the old explode route did
    # instead of crashing np.array on a ragged list (r14, ADVICE):
    # a NULL or wrong-length vector contributes nothing. No-op on
    # well-formed corpora (the only thing the oracle sees).
    qdf = (spread(embeddings)
           .select(F.expr(quantized_vec_expr(vec_col, scale)).alias("q"))
           .filter(F.col("q").isNotNull() & (F.size("q") == dims)))

    def fold(batches):
        import numpy as np
        import pandas as pd
        n = 0
        s = [0] * dims
        G = [[0] * dims for _ in range(dims)]
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.array(pdf["q"].tolist(), dtype=np.int64)
            n += X.shape[0]
            # int64-safety: a chunk's Gram entry is bounded by
            # rows * max|q|^2; chunk so that bound stays under 2^62
            # (the accumulators are Python ints, so only the chunk
            # matmul needs to fit)
            m = int(np.abs(X).max()) if X.size else 0
            chunk = max(1, (1 << 62) // (m * m + 1))
            for lo in range(0, X.shape[0], chunk):
                C = X[lo:lo + chunk]
                bs = C.sum(axis=0, dtype=np.int64)
                bG = C.T @ C
                for i in range(dims):
                    s[i] += int(bs[i])
                    Gi = G[i]
                    bGi = bG[i]
                    for j in range(i, dims):
                        Gi[j] += int(bGi[j])
        if n:
            yield pd.DataFrame({
                "n": [n],
                "s": [[str(x) for x in s]],
                "g": [[str(G[i][j])
                       for i in range(dims) for j in range(i, dims)]],
            })

    parts = qdf.mapInPandas(
        fold, "n long, s array<string>, g array<string>").collect()
    n = 0
    s = [0] * dims
    G = [[0] * dims for _ in range(dims)]
    for row in parts:                      # one row per non-empty task
        n += row["n"]
        for i in range(dims):
            s[i] += int(row["s"][i])
        it = iter(row["g"])
        for i in range(dims):
            for j in range(i, dims):
                G[i][j] += int(next(it))
    for i in range(dims):
        for j in range(i + 1, dims):
            G[j][i] = G[i][j]
    return n, s, G


def pca_basis_from_moments(n: int, s: list, G: list, k: int,
                           scale: int = 1_000_000) -> list[list[int]]:
    """Deterministic top-k PCA basis from exact integer moments:
    covariance C = (G - s s^T / n) / n in float64, numpy eigh
    (symmetric, ascending), take the top-k eigenvectors, fix each
    sign so the largest-|component| entry is positive (first index on
    ties), and micro-quantize to integer vectors. Identical integer
    moments -> bit-identical basis, so the distributed engine and the
    oracle agree exactly."""
    import numpy as np
    sv = np.array(s, dtype=np.float64)
    Gm = np.array(G, dtype=np.float64)
    C = (Gm - np.outer(sv, sv) / float(n)) / float(n)
    _vals, vecs = np.linalg.eigh(C)
    basis = []
    for j in range(1, k + 1):
        v = vecs[:, -j].copy()
        pivot = int(np.argmax(np.abs(v)))
        if v[pivot] < 0:
            v = -v
        basis.append([int(np.floor(x * scale)) for x in v])
    return basis


def pca_project(embeddings: DataFrame, dims: int = 64, k: int = 8,
                id_col: str = "vec_id", vec_col: str = "embedding",
                scale: int = 1_000_000) -> DataFrame:
    """PCA projection of an embedding corpus to its top-k principal
    components — the dimensionality-reduction step before clustering
    / IVF coarse quantization, kept EXACT end to end:

      pc_j(x) = n * (q . v_j) - (s . v_j)

    i.e. n times the centered projection, with q the micro-quantized
    vector, v_j the micro-quantized basis and s the corpus component
    sums — pure BIGINT arithmetic on both engines (the only float
    step, eigh over the d x d integer moments, runs once on the
    driver and is shared bit-for-bit by engine and oracle).

    Scale: one moment pass (see pca_moments — shuffle bounded by d^2
    per partition), then a map-only projection with the d x k basis
    broadcast as a literal. No corpus shuffle at all.
    """
    from ..cache import managed_persist
    emb = managed_persist(embeddings)     # moments pass + projection
    n, s, G = pca_moments(emb, dims, vec_col, scale)
    basis = pca_basis_from_moments(n, s, G, k, scale)
    # materialize q once per row (see pca_moments), then k integer folds
    qdf = emb.select(
        F.col(id_col),
        F.expr(quantized_vec_expr(vec_col, scale)).alias("q"))
    cols = [F.col(id_col)]
    for j, v in enumerate(basis):
        offset = sum(si * vi for si, vi in zip(s, v))
        arr = ", ".join(f"CAST({x} AS BIGINT)" for x in v)
        dot = (f"aggregate(zip_with(q, array({arr}), "
               f"(a, b) -> a * b), CAST(0 AS BIGINT), "
               f"(acc, x) -> acc + x)")
        cols.append(F.expr(f"CAST({n} AS BIGINT) * ({dot}) "
                           f"- CAST({offset} AS BIGINT)")
                    .alias(f"pc{j}"))
    return qdf.select(*cols)


# ---------------------------------------------------------------------------
# exact-integer k-means + oracle-checkable semantic dedup
# ---------------------------------------------------------------------------

def _sq_l2_int_expr(a: str, b: str) -> str:
    """Integer squared-L2 over two BIGINT arrays — exact, so Spark and
    the DuckDB oracle agree bit-for-bit."""
    return (f"aggregate(zip_with({a}, {b}, (x, y) -> (x - y) * (x - y)), "
            f"CAST(0 AS BIGINT), (acc, v) -> acc + v)")


def _dot_int_expr(a: str, b: str) -> str:
    return (f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
            f"CAST(0 AS BIGINT), (acc, v) -> acc + v)")


def _assign_int(vecs: DataFrame, cents: DataFrame, id_col: str,
                vec_col: str) -> DataFrame:
    """argmin-distance assignment of integer vectors to integer
    centroids: broadcast crossJoin (k rows) + a map-side-combinable
    ``min_by`` argmin. min_by over struct(dist, cluster_id) is the
    lexicographic argmin with ties to the lowest cluster id — the
    same contract as a per-id rank window, but the k-fold crossJoin
    fan-out partially aggregates BEFORE the shuffle, so at most one
    candidate row per (task, id) crosses the wire instead of all k —
    the shape that matters when k scales with the corpus (semantic
    dedup derives k = n/target). A nested array_min-over-transform
    zero-shuffle variant measured SLOWER at fixture scale (nested
    higher-order lambdas don't codegen as well as the flat fan-out);
    at sf0.1 this and the window variant are within noise."""
    exp = (vecs
           .crossJoin(F.broadcast(cents))
           .withColumn("dist", F.expr(_sq_l2_int_expr(vec_col, "cvec"))))
    return (exp.groupBy(id_col)
            .agg(F.min_by(
                    F.struct(F.col("cluster_id"), F.col("dist"),
                             F.col(vec_col).alias("_vec")),
                    F.struct(F.col("dist"), F.col("cluster_id")))
                 .alias("_b"))
            .select(id_col,
                    F.col("_b._vec").alias(vec_col),
                    F.col("_b.cluster_id").alias("cluster_id"),
                    F.col("_b.dist").alias("dist")))


def kmeans_integer(vecs: DataFrame, k: int = 10, iters: int = 2,
                   id_col: str = "vec_id",
                   vec_col: str = "qvec") -> DataFrame:
    """Lloyd k-means over INTEGER vectors with floor-mean centroid
    updates — every quantity (distance, centroid component) is exact
    BIGINT algebra, so the whole clustering is engine-reproducible and
    the DuckDB oracle can re-derive it independently.

    Deterministic contract (mirrored by ``oracle_sql.kmeans_int_ctes``):
    init = the k lowest-id vectors as centroids 0..k-1; assignment ties
    break toward the lowest cluster id; update = per-dimension
    floor(sum/count) (floor of an exact integer-ratio double — both
    engines compute the identical IEEE division); an emptied cluster
    keeps its previous centroid.

    Scale shape: per iteration, one broadcast of k centroids out and
    one (k x dims)-row map-side-combinable aggregate back — the corpus
    is scanned, never reshuffled. Returns the FINAL assignment
    (id, vec, cluster_id, dist).
    """
    cents = kmeans_integer_fit(vecs, k, iters, id_col, vec_col)
    return _assign_int(vecs, cents, id_col, vec_col)


def kmeans_integer_fit(vecs: DataFrame, k: int = 10, iters: int = 2,
                       id_col: str = "vec_id",
                       vec_col: str = "qvec") -> DataFrame:
    """The trained centroids of ``kmeans_integer`` (cluster_id, cvec)
    — exposed so an INCREMENTAL ingest can assign new vectors against
    a frozen codebook without re-clustering the base corpus.

    r13: the per-round centroids live in a driver dict between
    iterations (one collect of the k-row mean aggregate per round —
    the SAME k x dims payload the previous broadcast-join form
    shipped, so no new scale bound) and re-enter each round as an
    Arrow local frame. This truncates the unrolled lineage: the final
    assignment plan no longer nests every prior round's crossJoin+
    aggregate (dedup_semantic 5.4-6.2 -> 4.1-4.7 s, ann_ivf_
    incremental 2.5-3.1 -> 1.8-1.9 s min-of-3, interleaved A/B;
    centroids pinned bit-identical to the lineage form by
    tests/test_functions.py::test_kmeans_integer_fit_local_loop)."""
    from ..localrel import local_df
    wk = Window.orderBy(id_col)     # k rows only, post-limit
    seed = (vecs.orderBy(id_col).limit(k)
            .select((F.row_number().over(wk) - 1).alias("cluster_id"),
                    F.col(vec_col).alias("cvec")))
    cur = {r["cluster_id"]: list(r["cvec"]) for r in seed.collect()}
    spark = vecs.sparkSession

    def _cdf():
        return local_df(spark, [(i, cur[i]) for i in sorted(cur)],
                        "cluster_id int, cvec array<bigint>")

    for _ in range(iters):
        assigned = _assign_int(vecs, _cdf(), id_col, vec_col)
        newc = (assigned
                .select("cluster_id", F.posexplode(vec_col).alias("pos", "v"))
                .groupBy("cluster_id", "pos")
                .agg(F.expr("CAST(floor(CAST(sum(v) AS DOUBLE) / "
                            "count(*)) AS BIGINT)").alias("cv"))
                .groupBy("cluster_id")
                .agg(F.expr("transform(array_sort(collect_list("
                            "struct(pos, cv))), s -> s.cv)")
                     .alias("new_cvec"))
                .collect())
        # an emptied cluster keeps its previous centroid (absent from
        # newc), exactly the old left-join + coalesce semantics
        for r in newc:
            cur[r["cluster_id"]] = list(r["new_cvec"])
    return _cdf()


def ivf_incremental_report(base: DataFrame, new: DataFrame,
                           k: int = 10, iters: int = 2,
                           id_col: str = "vec_id",
                           vec_col: str = "qvec",
                           retrain_growth_ppm: int = 300_000) -> DataFrame:
    """Incremental IVF index maintenance: train the coarse quantizer
    on the BASE corpus once, assign an arriving batch against the
    frozen centroids (broadcast; the base is never re-clustered or
    re-shuffled), and report per-list growth + distance drift — the
    signals that decide when the codebook must be retrained (a
    growing list degrades probe recall; rising assignment distance
    means the batch has left the trained distribution).

    All integer: counts, floor-mean distances, ppm growth
    (``new_n*1e6 DIV base_n``). ``retrain`` flags lists whose growth
    exceeds ``retrain_growth_ppm`` (lists with no base vectors flag
    unconditionally when they receive data).
    """
    cents = kmeans_integer_fit(base, k, iters, id_col, vec_col)
    cents = managed_persist(cents)

    def per_list(df: DataFrame, prefix: str) -> DataFrame:
        a = _assign_int(df, cents, id_col, vec_col)
        return a.groupBy("cluster_id").agg(
            F.count(F.lit(1)).alias(f"{prefix}n"),
            F.expr("sum(dist) DIV count(1)").alias(f"{prefix}mean_dist"))

    all_lists = cents.select("cluster_id")
    out = (all_lists
           .join(per_list(base, "base_"), "cluster_id", "left")
           .join(per_list(new, "new_"), "cluster_id", "left")
           .na.fill({"base_n": 0, "new_n": 0}))
    return (out.withColumn(
                "growth_ppm",
                F.expr("IF(base_n = 0, NULL, "
                       "(new_n * 1000000) DIV base_n)"))
            .withColumn("retrain",
                        F.expr(f"IF(base_n = 0, new_n > 0, "
                               f"growth_ppm > {int(retrain_growth_ppm)})"))
            .select("cluster_id", "base_n", "new_n", "base_mean_dist",
                    "new_mean_dist", "growth_ppm", "retrain"))


def semantic_dedup_exact(embeddings: DataFrame, k: int | None = None,
                         iters: int = 2, scale: int = 1000,
                         thr_num: int = 7, thr_den: int = 20,
                         id_col: str = "vec_id",
                         emb_col: str = "embedding",
                         target_cluster_size: int = 50,
                         max_cluster_size: int | None = 10_000
                         ) -> DataFrame:
    """Oracle-checkable SemDeDup (Abbas et al. 2023): micro-quantize,
    cluster with ``kmeans_integer``, then inside each cluster drop any
    vector whose cosine to a LOWER-id member reaches thr_num/thr_den.
    The cosine test is cross-multiplied into pure BIGINT algebra —
    ``den^2 * dot^2 >= num^2 * |a|^2 * |b|^2`` with ``dot > 0`` — so no
    float division or sqrt ever runs and both engines agree exactly.

    Exact integer cosine makes it verifiable, and it carries REAL
    scale protection in two layers:

    1. **Exact-duplicate collapse.** Identical quantized vectors are
       semantic duplicates BY DEFINITION (cosine = 1 when nonzero),
       so clustering and the pairwise join run over one
       REPRESENTATIVE per distinct vector (min id); every non-
       representative with a nonzero vector is marked dup against
       its representative directly. A mass-duplicate corpus — the
       SemDeDup motivating case — therefore costs O(distinct^2 / k),
       not O(n^2/k), and is handled, not refused. (Zero vectors have
       dot = 0, fail the ``dot > 0`` arm on both paths, and stay
       kept — same as the pairwise rule.)
    2. **Derived k over the DISTINCT count**: k = ceil(n_distinct /
       target_cluster_size) (``-(-n // t)``; the DuckDB oracle
       mirrors it as ``GREATEST(1, (COUNT(*) + t - 1) // t)`` over
       the rep frame, so hash parity survives), and an explicit k is
       validated against ``max_cluster_size``. The validation bounds
       the AVERAGE rep-cluster size; k-means skew above the average
       remains possible on adversarial distinct-vector geometry —
       the collapse removes the common (duplicate-driven) skew
       source.

    The keep-lowest rule is unchanged: checking representatives
    suffices because every non-representative of a group g has id >
    min(g), so a lower-id witness exists among reps iff one exists at
    all.

    Returns every input id: (id, cluster_id, is_kept).
    """
    from .text import spread
    # spread: the fixture embeddings table is one parquet split, so
    # without the fan-out the quantize pass (and everything reading
    # the q cache) ran on ONE task (r13 opt 2; same fix as the r13
    # pca_moments spread)
    q = embeddings.select(
        F.col(id_col),
        F.expr(quantized_vec_expr(emb_col, scale)).alias("qvec"))
    q = managed_persist(spread(q))
    reps = (q.groupBy("qvec")
            .agg(F.min(F.col(id_col)).alias(id_col)))
    n = None
    if k is None or max_cluster_size is not None:
        n = reps.count()
    if k is None:
        k = max(1, -(-n // target_cluster_size))
    if max_cluster_size is not None and n / k > max_cluster_size:
        raise ValueError(
            f"semantic_dedup_exact: k={k} gives ~{n // k} distinct "
            f"vectors/cluster (> max_cluster_size={max_cluster_size}); "
            f"the per-cluster self-join would be quadratic at this "
            f"size — raise k, or pass max_cluster_size=None to "
            f"override")
    # Persist reps pinned to id-hash partitioning (r13 opt 2, guide
    # §2.4/§2.5): the seed job, every k-means round, and the final
    # assignment all re-scan reps — unpersisted, each consumer re-ran
    # the qvec groupBy AND inherited its AQE-coalesced single
    # partition, so every per-round assignment aggregate was a
    # single-task straggler (profiled ~1 s/round). HashPartitioning
    # (id) is exactly what _assign_int's groupBy(id) requires, so the
    # per-round exchange disappears too. Gated to the small regime
    # (the distinct count n is already computed; ~1 KiB/row) — past
    # the gate the planner's own partitioning stands.
    sc = embeddings.sparkSession.sparkContext
    p_pin = sc.defaultParallelism
    reps = reps.select(id_col, "qvec")
    pin_small = (n is not None
                 and n * 1024 < p_pin * session.ADVISORY_PARTITION_BYTES)
    if pin_small:
        reps = reps.repartition(p_pin, id_col)
    reps = managed_persist(reps)
    reps.count()
    asg = kmeans_integer(reps, k=k, iters=iters,
                         id_col=id_col, vec_col="qvec")
    m = asg.select(F.col(id_col).alias("id"), "cluster_id",
                   F.col("qvec").alias("qv"),
                   F.expr(_dot_int_expr("qvec", "qvec")).alias("n2"))
    # cluster-hash pin: the a x b per-cluster self-join below reads m
    # twice; partitioned by cluster_id the join reuses the cache's
    # distribution instead of re-exchanging both sides through an
    # AQE-coalesced (single-partition at bench scale) shuffle
    if pin_small:
        m = m.repartition(p_pin, "cluster_id")
    m = managed_persist(m)
    m.count()
    a = m.select(F.col("id").alias("id_a"), "cluster_id",
                 F.col("qv").alias("qa"), F.col("n2").alias("na2"))
    b = m.select(F.col("id").alias("id_b"), "cluster_id",
                 F.col("qv").alias("qb"), F.col("n2").alias("nb2"))
    t2n = thr_num * thr_num
    t2d = thr_den * thr_den
    rep_dups = (a.join(b, "cluster_id")
                .filter(F.col("id_a") < F.col("id_b"))
                .withColumn("dot", F.expr(_dot_int_expr("qa", "qb")))
                .filter((F.col("dot") > 0) &
                        (F.lit(t2d) * F.col("dot") * F.col("dot") >=
                         F.lit(t2n) * F.col("na2") * F.col("nb2")))
                .select(F.col("id_b").alias("dup_id")).distinct())
    rep_info = (m.select(F.col("id").alias("_rep_id"), "cluster_id",
                         (F.col("n2") > 0).alias("_rep_nonzero"))
                .join(rep_dups,
                      F.col("_rep_id") == rep_dups["dup_id"], "left")
                .select("_rep_id", "cluster_id",
                        "_rep_nonzero",
                        F.col("dup_id").isNull().alias("_rep_kept")))
    rmap = q.join(reps.select(F.col("qvec"),
                              F.col(id_col).alias("_rep_id")), "qvec")
    return (rmap.join(rep_info, "_rep_id")
            .select(F.col(id_col), "cluster_id",
                    F.when(F.col(id_col) == F.col("_rep_id"),
                           F.col("_rep_kept"))
                     .otherwise(~F.col("_rep_nonzero"))
                     .alias("is_kept")))


def ivfpq_topk(embeddings: DataFrame, query_mod: int = 100, k: int = 5,
               nprobe: int = 2, centroid_mod: int | None = 37,
               m: int = PQ_M, codebook_mod: int = PQ_CODEBOOK_MOD,
               codebook_size: int = PQ_CODEBOOK_SIZE,
               rerank: int = 15,
               max_list_size: int | None = None) -> DataFrame:
    """IVF-PQ two-stage ANN — the composition production vector search
    actually runs at 10^9+ vectors (Jegou et al. PAMI'11; FAISS
    IndexIVFPQ): the coarse IVF probe bounds candidates to ``nprobe``
    inverted lists, PQ asymmetric distance ranks those candidates from
    M-value codes (the corpus's full vectors never travel), and only
    the top ``rerank`` per query are re-scored exactly.

    Scale: centroids and codebooks broadcast (both fixed-size);
    candidate volume = nprobe lists (cap with ``max_list_size``);
    the exact re-rank touches rerank rows per query — the ONLY stage
    that reads full corpus vectors, via a vec_id-keyed join that
    partition-prunes at real scale. Three windows, all per-query.
    ``centroid_mod=None`` derives sqrt(N) sizing (sqrt_centroid_mod)
    so the assignment join never goes quadratic in corpus size."""
    from .dedup import cap_buckets
    if centroid_mod is None:
        centroid_mod = sqrt_centroid_mod(embeddings)
    assign = managed_persist(cap_buckets(
        ivf_assign(embeddings, centroid_mod), ["centroid_id"],
        max_list_size, order_col="vec_id"))
    cents = (with_norm(embeddings.filter(
                 F.col("vec_id") % centroid_mod == 1),
                 "embedding", "c_norm")
             .select(F.col("vec_id").alias("centroid_id"),
                     F.col("embedding").alias("c_emb"), "c_norm"))
    q = (with_norm(embeddings.filter(F.col("vec_id") % query_mod == 0),
                   "embedding", "q_norm")
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("q_emb"), "q_norm"))
    wq = Window.partitionBy("query_id").orderBy(F.desc("p_cos"),
                                                F.asc("centroid_id"))
    probes = (q.crossJoin(F.broadcast(cents))
              .withColumn("p_cos", F.expr(cosine_prenorm_expr(
                  "q_emb", "c_emb", "q_norm", "c_norm")))
              .withColumn("prank", F.row_number().over(wq))
              .filter(F.col("prank") <= nprobe)
              .select("query_id", "q_emb", "centroid_id"))
    cb = pq_codebooks(embeddings, m, codebook_mod,
                      codebook_size=codebook_size)
    enc = pq_encode(embeddings, cb, m)
    sq = ("aggregate(zip_with(q_emb, pq_recon, "
          "(x, y) -> (CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * "
          "(CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), "
          "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)")
    wa = Window.partitionBy("query_id").orderBy(F.asc("adc_dist"),
                                                F.asc("vec_id"))
    shortlist = (probes
                 .join(assign.select("centroid_id", "vec_id"),
                       "centroid_id")
                 .filter(F.col("vec_id") != F.col("query_id"))
                 .join(enc.select("vec_id", "pq_recon"), "vec_id")
                 .withColumn("adc_dist", F.expr(sq))
                 .withColumn("adc_rank", F.row_number().over(wa))
                 .filter(F.col("adc_rank") <= rerank))
    exact = (shortlist
             .join(embeddings.select("vec_id",
                                     F.col("embedding").alias("c_full")),
                   "vec_id")
             .withColumn("cosine", F.expr(cosine_expr("q_emb",
                                                      "c_full"))))
    wf = Window.partitionBy("query_id").orderBy(F.desc("cosine"),
                                                F.asc("vec_id"))
    return (exact.withColumn("rank", F.row_number().over(wf))
            .filter(F.col("rank") <= k)
            .select("query_id", "vec_id", "adc_dist", "cosine", "rank"))


def int8_quantize_report(embeddings: DataFrame,
                         vec_col: str = "embedding",
                         id_col: str = "vec_id") -> DataFrame:
    """Per-vector symmetric int8 quantization audit — the embedding-
    compression step (4x smaller vectors, SIMD int8 dot products) a
    100 TB ANN store applies before indexing, with the information a
    rollout decision needs: the scale, how many components saturate,
    and the exact reconstruction-error mass.

    codes = floor(x * 127 / max|x|) per component (all-zero vectors
    quantize to zeros); every reported number is either exact BIGINT
    (code sums, clip counts) or a micro-floor-quantized integer summed
    AFTER per-element quantization — order-invariant, engine-exact.
    Zero shuffles: one projection, whole-stage codegen, sequential
    array folds.
    """
    maxabs = ("aggregate(" + vec_col + ", CAST(0.0 AS DOUBLE), "
              "(acc, x) -> greatest(acc, abs(CAST(x AS DOUBLE))))")
    codes = (f"IF(_maxabs = 0.0, transform({vec_col}, x -> "
             f"CAST(0 AS BIGINT)), transform({vec_col}, x -> "
             f"CAST(floor(CAST(x AS DOUBLE) * 127.0 / _maxabs) "
             f"AS BIGINT)))")
    err = (f"aggregate(zip_with({vec_col}, _codes, (x, c) -> "
           f"CAST(floor(abs(CAST(x AS DOUBLE) "
           f"- c * _maxabs / 127.0) * 1000000.0) AS BIGINT)), "
           f"CAST(0 AS BIGINT), (acc, e) -> acc + e)")
    return (embeddings
            .withColumn("_maxabs", F.expr(maxabs))
            .withColumn("_codes", F.expr(codes))
            .select(
                id_col,
                F.expr("CAST(floor(_maxabs * 1000000.0) AS BIGINT)")
                 .alias("scale_micro"),
                F.expr("aggregate(_codes, CAST(0 AS BIGINT), "
                       "(acc, c) -> acc + c)").alias("sum_codes"),
                F.expr("aggregate(_codes, CAST(0 AS BIGINT), "
                       "(acc, c) -> acc + abs(c))").alias("sum_abs_codes"),
                F.expr("size(filter(_codes, c -> abs(c) = 127))")
                 .alias("n_saturated"),
                F.expr(err).alias("err_micro")))


def sampled_query_mod(embeddings: DataFrame,
                      target_queries: int = 64,
                      id_col: str = "vec_id",
                      n: int | None = None) -> int:
    """Fixed-size audit-query sampling: derive the residue modulus so
    ~``target_queries`` vectors are selected REGARDLESS of corpus
    size. Recall/latency telemetry needs a statistically sufficient
    sample, not a corpus-proportional one — a query set that tracks N
    makes any exact-baseline audit (brute force = Q x N) quadratic.
    Oracle-exact: GREATEST(1, COUNT(*) // target) in SQL. Pass a
    precomputed ``n`` to share one count across derivations."""
    if n is None:
        n = embeddings.count()
    return max(1, n // target_queries)


def recall_curve(embeddings: DataFrame,
                 query_mod: int | None = 100, k: int = 5,
                 nprobes: tuple[int, ...] = (1, 2, 4),
                 centroid_mod: int | None = 37) -> DataFrame:
    """IVF tuning telemetry: recall@k against the exact brute-force
    top-k as a function of nprobe — the curve an operator reads to
    choose the probe budget (the ANN sibling of dedup_lsh_calibration's
    bands-vs-rows table). Recall is exact-integer ppm
    (hits * 1e6 div (n_queries * k)) and monotone in nprobe by
    construction (probing more lists only adds candidates).

    One assignment pass and ONE probe join at max(nprobes): each
    candidate row is tagged with the probe rank that found it and
    exploded only into the curve points that include it, so the curve
    costs one IVF search plus a xlen(nprobes) fan-out of the
    candidate rows — not len(nprobes) separate searches. The exact
    side is the audit (at scale, run on a sampled query set).

    ``centroid_mod=None`` derives sqrt(N) coarse sizing
    (sqrt_centroid_mod): the registry-wide 100x sweep caught the
    fixed mod's quadratic assignment OOM-ing the JVM here — same
    fix as ivf_topk. ``query_mod=None`` derives a FIXED-size audit
    query sample (sampled_query_mod, ~64 queries at any corpus):
    the exact brute-force baseline is Q x N by definition, so a
    corpus-proportional Q makes the audit quadratic — measured 281 s
    at 100x with Q tracking N vs linear with the fixed sample. This
    realizes the "sampled query set at scale" contract in the query
    itself instead of leaving it as prose.
    """
    from pyspark.sql import Window
    max_p = max(nprobes)
    if query_mod is None or centroid_mod is None:
        # ONE eager count shared by both derivations (they would
        # otherwise each scan the corpus before the query builds)
        n = embeddings.count()
        if query_mod is None:
            query_mod = sampled_query_mod(embeddings, n=n)
        if centroid_mod is None:
            centroid_mod = sqrt_centroid_mod(embeddings, n=n)
    assign = managed_persist(ivf_assign(embeddings, centroid_mod))
    cents = (with_norm(embeddings.filter(F.col("vec_id") % centroid_mod == 1),
                       "embedding", "c_norm")
             .select(F.col("vec_id").alias("centroid_id"),
                     F.col("embedding").alias("c_emb"), "c_norm"))
    q = (with_norm(embeddings.filter(F.col("vec_id") % query_mod == 0),
                   "embedding", "q_norm")
         .select(F.col("vec_id").alias("query_id"),
                 F.col("embedding").alias("q_emb"), "q_norm"))
    wq = Window.partitionBy("query_id").orderBy(F.desc("p_cos"),
                                                F.asc("centroid_id"))
    probes = (q.crossJoin(F.broadcast(cents))
              .withColumn("p_cos", F.expr(cosine_prenorm_expr(
                  "q_emb", "c_emb", "q_norm", "c_norm")))
              .withColumn("prank", F.row_number().over(wq))
              .filter(F.col("prank") <= max_p)
              .select("query_id", "q_emb", "q_norm", "centroid_id",
                      "prank"))
    cands = (probes.join(assign, "centroid_id")
             .filter(F.col("vec_id") != F.col("query_id"))
             .withColumn("cosine", F.expr(cosine_prenorm_expr(
                 "q_emb", "embedding", "q_norm", "e_norm"))))
    lv = (cands.withColumn(
              "nprobe", F.explode(F.array(*[F.lit(p) for p in nprobes])))
          .filter(F.col("prank") <= F.col("nprobe")))
    w = Window.partitionBy("nprobe", "query_id").orderBy(
        F.desc("cosine"), F.asc("vec_id"))
    topk = (lv.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("nprobe", "query_id", "vec_id"))
    brute = (brute_force_topk(embeddings, query_mod, k)
             .select("query_id", "vec_id", F.lit(True).alias("in_exact")))
    nq = q.agg(F.count(F.lit(1)).cast("bigint").alias("n_queries"))
    hits = (topk.join(brute, ["query_id", "vec_id"], "left")
            .groupBy("nprobe")
            .agg(F.count("in_exact").alias("hits")))
    return (hits.crossJoin(F.broadcast(nq))
            .select("nprobe", "n_queries", F.lit(k).alias("k"), "hits",
                    F.expr(f"(hits * 1000000) DIV (n_queries * {k})")
                     .alias("recall_ppm")))
