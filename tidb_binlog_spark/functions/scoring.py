"""Corpus-statistics document scoring: BM25 keyword relevance and
unigram language-model surprisal — the retrieval/quality-scoring
staples of a pretraining pipeline (quality-classifier features,
perplexity-style filtering, keyword-targeted subset selection).

Scale design:
- corpus statistics (doc count, total tokens, per-term document
  frequencies) are ONE tiny map-side-combinable aggregate, broadcast
  back onto the corpus — the corpus itself is never shuffled for BM25;
- unigram surprisal shuffles only (token, count) vocabulary rows plus
  one exploded token stream through a single hash join keyed on the
  token — vocabulary is tiny next to corpus bytes, and AQE broadcasts
  it when it fits;
- NO row-at-a-time Python anywhere: every expression is a Catalyst
  builtin inside whole-stage codegen.

Determinism contract (oracle parity): floating scores are quantized
per term to integer MICRO-units (floor(x * 1e6) as BIGINT) *before*
any cross-row aggregation, so document totals are exact integer sums
— invariant to aggregation order, bit-identical in any engine. The
per-term doubles themselves come from identical expression trees over
exact integers (counts), and ln/division/multiplication are IEEE
operations both Spark and DuckDB evaluate identically.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .. import session
from .text import with_tokens

# default keyword query for the BM25 surface (terms from the corpus
# vocabulary so every score path — common term, rare term, absent
# term — is exercised)
QUERY_TERMS = ("table", "scan", "merge", "hash", "row",
               "index", "batch", "agg")

BM25_K1 = "1.2"
BM25_B = "0.75"


def _bm25_term_exprs(terms: tuple[str, ...]) -> list[str]:
    """Per-term micro-quantized BM25 contribution expressions.

    idf uses the +1 'BM25+' flavor (always positive):
      idf(t) = ln((N - df + 0.5) / (df + 0.5) + 1)
    tf saturation with document-length normalization:
      tf * (k1+1) / (tf + k1 * (1 - b + b * dl/avgdl))
    """
    dl = "CAST(size(toks) AS DOUBLE)"
    avgdl = "(CAST(total_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE))"
    out = []
    for i, t in enumerate(terms):
        tf = f"CAST(size(filter(toks, x -> x = '{t}')) AS DOUBLE)"
        idf = (f"ln((CAST(n_docs AS DOUBLE) - CAST(df_{i} AS DOUBLE) + 0.5)"
               f" / (CAST(df_{i} AS DOUBLE) + 0.5) + 1.0)")
        score = (f"({idf}) * (({tf}) * ({BM25_K1} + 1.0)) / "
                 f"(({tf}) + {BM25_K1} * "
                 f"(1.0 - {BM25_B} + {BM25_B} * ({dl}) / {avgdl}))")
        out.append(f"CAST(floor(({score}) * 1000000.0) AS BIGINT)")
    return out


def bm25_scores(docs: DataFrame,
                terms: tuple[str, ...] = QUERY_TERMS) -> DataFrame:
    """BM25 relevance of every document against a fixed keyword query.

    Returns (doc_id, n_matched_terms, dl, bm25_micro) for documents
    matching at least one query term; bm25_micro is the micro-unit
    integer score (sum over terms of floor(term_score * 1e6)).

    Plan shape: one corpus-stats aggregate (count/sum/per-term df)
    broadcast-cross-joined back; tf per term is a per-row array
    filter — zero shuffle over the corpus itself.
    """
    toks = with_tokens(docs)
    aggs = [F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.expr("size(toks)")).alias("total_tokens")]
    for i, t in enumerate(terms):
        aggs.append(
            F.sum(F.expr(
                f"CASE WHEN array_contains(toks, '{t}') THEN 1 ELSE 0 END"))
            .alias(f"df_{i}"))
    stats = toks.agg(*aggs)
    scored = toks.crossJoin(F.broadcast(stats))
    micro = " + ".join(_bm25_term_exprs(terms))
    matched = " + ".join(
        f"CASE WHEN array_contains(toks, '{t}') THEN 1 ELSE 0 END"
        for t in terms)
    return (scored.select(
                "doc_id",
                F.expr(f"CAST(({matched}) AS INT)").alias("n_matched_terms"),
                F.expr("size(toks)").alias("dl"),
                F.expr(f"({micro})").alias("bm25_micro"))
            .filter(F.col("n_matched_terms") > 0))


def unigram_surprisal(docs: DataFrame) -> DataFrame:
    """Unigram language-model surprisal per document — the cheap
    perplexity-style quality score (documents of improbable tokens
    score high; boilerplate of corpus-dominant tokens scores low).

    The model is the corpus itself (maximum-likelihood unigram):
      surprisal(t) = -ln(count(t) / total_tokens), quantized to
      integer micro-nats per OCCURRENCE, then summed per document.
    Returns (doc_id, n_tokens, surprisal_micro, mean_surprisal_micro)
    with mean = surprisal_micro DIV n_tokens (exact integer division).

    Plan shape: explode -> vocabulary aggregate (map-side combine) ->
    one hash join token-stream x vocabulary -> per-doc sum. The only
    corpus-wide shuffles are keyed on the token (vocabulary-sized
    domain) and doc_id.
    """
    from ..cache import managed_persist
    exploded = managed_persist(
        with_tokens(docs).select("doc_id", F.explode("toks").alias("tok")))
    totals = exploded.agg(F.count(F.lit(1)).alias("total_tokens"))
    vocab = (exploded.groupBy("tok")
             .agg(F.count(F.lit(1)).alias("cnt"))
             .crossJoin(F.broadcast(totals))
             .select(
                 "tok",
                 F.expr("CAST(floor(-ln(CAST(cnt AS DOUBLE) / "
                        "CAST(total_tokens AS DOUBLE)) * 1000000.0) "
                        "AS BIGINT)").alias("micro_nats")))
    return (exploded.join(vocab, "tok")
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_tokens"),
                 F.sum("micro_nats").alias("surprisal_micro"))
            .select("doc_id", "n_tokens", "surprisal_micro",
                    F.expr("surprisal_micro DIV n_tokens")
                     .alias("mean_surprisal_micro")))


def hash_embed(docs: DataFrame, dims: int = 64) -> DataFrame:
    """Feature-hashing (hashing-trick) document embeddings: each token
    hashes to one of ``dims`` buckets with a +/-1 sign; the document
    vector is the signed bucket-count histogram. Gives every document
    a model-free dense vector so the ANN / semantic-dedup stack
    (similarity.py) applies to raw text corpora.

    Returns (doc_id, embedding array<double>) for EVERY doc
    (zero-token docs get the zero vector).

    Plan shape: explode -> per-(doc, bucket) sum -> per-doc map
    assembly — two doc-keyed shuffles, md5 computed ONCE per token.
    Components are signed integer counts (exact in doubles), so the
    result is aggregation-order-invariant and engine-exact.
    """
    ex = (with_tokens(docs)
          .select("doc_id", F.explode("toks").alias("tok")))
    bs = ex.select(
        "doc_id",
        F.expr(f"CAST(conv(substring(md5(tok), 1, 4), 16, 10) AS INT)"
               f" % {dims}").alias("bucket"),
        F.expr("IF(substring(md5(tok), 5, 1) >= '8', "
               "CAST(1.0 AS DOUBLE), CAST(-1.0 AS DOUBLE))").alias("sign"))
    sums = bs.groupBy("doc_id", "bucket").agg(F.sum("sign").alias("val"))
    vecs = (sums.groupBy("doc_id")
            .agg(F.expr("map_from_entries(collect_list(struct(bucket, val)))")
                 .alias("m"))
            .select("doc_id", F.expr(
                f"transform(sequence(0, {dims - 1}), "
                f"d -> coalesce(element_at(m, d), CAST(0.0 AS DOUBLE)))")
                .alias("embedding")))
    zero = ", ".join(["CAST(0.0 AS DOUBLE)"] * dims)
    return (docs.select("doc_id").join(vecs, "doc_id", "left")
            .select("doc_id",
                    F.expr(f"coalesce(embedding, array({zero}))")
                     .alias("embedding")))


def corpus_token_stats(docs: DataFrame, top_k: int = 50) -> DataFrame:
    """Corpus vocabulary report (the Zipf-curve surface a corpus audit
    reads): the ``top_k`` most frequent tokens with rank, count,
    cumulative count and cumulative share, plus vocabulary size and
    total token count on every row (broadcast totals).

    Scale shape: one token-keyed count aggregate (map-side combine),
    orderBy().limit() -> TakeOrderedAndProject for the top-k (never a
    global sort), then a row_number window over the K collected rows.
    Cumulative share is one exact BIGINT prefix sum divided once.
    """
    from pyspark.sql import Window
    ex = (with_tokens(docs)
          .select("doc_id", F.explode("toks").alias("tok")))
    counts = ex.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    totals = counts.agg(
        F.count(F.lit(1)).alias("vocab_size"),
        F.sum("cnt").alias("total_tokens"))
    top = counts.orderBy(F.desc("cnt"), F.asc("tok")).limit(top_k)
    w = Window.orderBy(F.desc("cnt"), F.asc("tok"))   # top_k rows only
    return (top
            .withColumn("rank", F.row_number().over(w))
            .withColumn("cum_cnt",
                        F.sum("cnt").over(
                            w.rowsBetween(Window.unboundedPreceding, 0)))
            .crossJoin(F.broadcast(totals))
            .select("rank", "tok", "cnt", "cum_cnt",
                    (F.col("cum_cnt").cast("double")
                     / F.col("total_tokens").cast("double"))
                    .alias("cum_share"),
                    "vocab_size", "total_tokens"))


def bigram_surprisal(docs: DataFrame,
                     lambda1: str = "0.75") -> DataFrame:
    """Interpolated bigram-LM surprisal per document — one step up
    from the unigram score: p(w2|w1) interpolates the ML conditional
    with the unigram fallback,
      p = l1 * c(w1,w2)/c1(w1) + (1-l1) * c1(w2)/T,
    scored per bigram occurrence in micro-nats (floor(-ln(p)*1e6) as
    BIGINT), summed exactly per document; the first token of each doc
    is scored by its unigram probability. Returns (doc_id, n_scored,
    surprisal_micro, mean_surprisal_micro).

    Scale shape: bigram counts shuffle on the (w1,w2) key, unigram
    counts on the token key; the doc's scored stream joins each once,
    then one doc_id aggregate. Integer quantization before any
    cross-row sum keeps it engine- and order-exact.
    """
    from ..cache import managed_persist
    toks = with_tokens(docs)
    # (doc_id, w1, w2) bigram stream; the doc's first token is the
    # unigram-scored head
    bi = managed_persist(
        toks.select(
            "doc_id",
            F.explode(F.expr(
                "CASE WHEN size(toks) >= 2 THEN "
                "zip_with(slice(toks, 1, size(toks) - 1), "
                "slice(toks, 2, size(toks) - 1), "
                "(a, b) -> named_struct('w1', a, 'w2', b)) "
                "ELSE array() END")).alias("b"))
        .select("doc_id", "b.w1", "b.w2"))
    heads = toks.filter(F.expr("size(toks) >= 1")).select(
        "doc_id", F.expr("toks[0]").alias("tok"))
    ex = managed_persist(
        toks.select("doc_id", F.explode("toks").alias("tok")))
    uni = managed_persist(
        ex.groupBy("tok").agg(F.count(F.lit(1)).alias("c1")))
    total = ex.agg(F.count(F.lit(1)).alias("t"))
    bic = bi.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c2"))
    p_bi = (f"({lambda1} * (CAST(c2 AS DOUBLE) / CAST(c1 AS DOUBLE)) + "
            f"(1.0 - {lambda1}) * (CAST(c1w2 AS DOUBLE) / CAST(t AS DOUBLE)))")
    scored_bi = (bi
                 .join(bic, ["w1", "w2"])
                 .join(uni.withColumnRenamed("tok", "w1"), "w1")
                 .join(uni.select(F.col("tok").alias("w2"),
                                  F.col("c1").alias("c1w2")), "w2")
                 .crossJoin(F.broadcast(total))
                 .select("doc_id", F.expr(
                     f"CAST(floor(-ln({p_bi}) * 1000000.0) AS BIGINT)")
                     .alias("micro")))
    scored_head = (heads.join(uni, "tok")
                   .crossJoin(F.broadcast(total))
                   .select("doc_id", F.expr(
                       "CAST(floor(-ln(CAST(c1 AS DOUBLE) / CAST(t AS DOUBLE))"
                       " * 1000000.0) AS BIGINT)").alias("micro")))
    return (scored_bi.unionByName(scored_head)
            .groupBy("doc_id")
            .agg(F.count(F.lit(1)).alias("n_scored"),
                 F.sum("micro").alias("surprisal_micro"))
            .select("doc_id", "n_scored", "surprisal_micro",
                    F.expr("surprisal_micro DIV n_scored")
                     .alias("mean_surprisal_micro")))


def corpus_source_report(docs: DataFrame,
                         short_tokens: int = 20) -> DataFrame:
    """Per-source corpus audit (the mix report a curation run reviews
    before fixing sampling weights): doc/token counts, short-doc
    counts, language diversity, duplicate-text incidence. One
    map-side-combinable aggregate keyed on the (tiny) source domain;
    exact BIGINT counts + single divisions only.
    """
    per_doc = (with_tokens(docs)
               .select("source", "lang", "doc_id",
                       F.expr("size(toks)").alias("n_tokens"),
                       F.md5("text").alias("content_hash")))
    return (per_doc.groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").alias("total_tokens"),
                 F.count(F.when(F.col("n_tokens") < short_tokens, 1))
                  .alias("n_short"),
                 F.countDistinct("lang").alias("n_langs"),
                 F.countDistinct("content_hash").alias("n_unique_texts"))
            .select("source", "n_docs", "total_tokens", "n_short",
                    "n_langs", "n_unique_texts",
                    (F.col("total_tokens").cast("double")
                     / F.col("n_docs").cast("double"))
                    .alias("mean_tokens"),
                    (F.col("n_docs") - F.col("n_unique_texts"))
                    .alias("n_dup_texts")))


def corpus_length_quantiles(docs: DataFrame,
                            quantiles: tuple[float, ...] = (0.5, 0.9, 0.99),
                            stratum_col: str = "source") -> DataFrame:
    """EXACT per-stratum token-length quantiles (nearest-rank
    definition: the value at rank ceil(q * n) of the sorted lengths) —
    the distribution report behind truncation budgets and packing
    window choices. No interpolation and no sketch, so any engine
    reproduces the numbers bit-for-bit.

    Scale: one shuffle keyed on the stratum; the rank window sorts
    within each stratum (the exact path). At 100 TB with huge strata,
    the documented swap is percentile_approx / t-digest sketches —
    same report shape, bounded memory, approximate answers.
    """
    per_doc = with_tokens(docs).select(
        stratum_col, "doc_id", F.expr("size(toks)").alias("n_tokens"))
    w_rank = Window.partitionBy(stratum_col).orderBy("n_tokens", "doc_id")
    ranked = (per_doc
              .withColumn("rk", F.row_number().over(w_rank))
              .withColumn("n", F.count(F.lit(1))
                          .over(Window.partitionBy(stratum_col))))
    aggs = [F.count(F.lit(1)).alias("n_docs"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens")]
    for q in quantiles:
        pct = int(round(q * 100))
        # nearest-rank ceil(q*n) in EXACT integer arithmetic
        # ((pct*n + 99) div 100): float q*n diverges between engines —
        # DuckDB parses 0.9 as DECIMAL (exact products) while Spark's
        # lit(0.9) is DOUBLE, so 0.9*10 ceils to 10 there, not 9
        aggs.append(F.max(F.when(
            F.col("rk") == F.expr(f"({pct} * n + 99) div 100"),
            F.col("n_tokens"))).alias(f"p{pct}_tokens"))
    return ranked.groupBy(stratum_col).agg(*aggs)


def inverted_index(docs: DataFrame, min_df: int = 5,
                   max_postings: int = 20) -> DataFrame:
    """Posting-list builder: (term, df, postings) where ``postings``
    is the first ``max_postings`` doc_ids ascending, comma-joined —
    the keyword-retrieval index behind bm25_scores' broadcast stats
    when the corpus is too large to rescore per query.

    Scale shape: the (term, doc) pairs are de-duplicated per document
    (distinct), the per-term posting CAP is applied by a rank window
    BEFORE any list is collected (the window streams its sorted
    partition — no term ever materializes an unbounded doc list, so
    a stopword's million-document posting costs max_postings slots),
    and df is a plain count in the same aggregate. High-df terms skew
    the rank-window partition; at corpus scale pre-filter known
    stopwords or raise spark.sql.shuffle.partitions for this stage.
    """
    pairs = (with_tokens(docs)
             .select(F.explode("toks").alias("term"), "doc_id")
             .distinct())
    w = Window.partitionBy("term").orderBy("doc_id")
    ranked = pairs.withColumn("rk", F.row_number().over(w))
    return (ranked.groupBy("term")
            .agg(F.count(F.lit(1)).alias("df"),
                 # sort NUMERIC ids, stringify after — lexicographic
                 # order ("10" < "9") would diverge from the oracle
                 F.array_join(
                     F.transform(
                         F.sort_array(F.collect_list(
                             F.when(F.col("rk") <= max_postings,
                                    F.col("doc_id")))),
                         lambda x: x.cast("string")),
                     ",").alias("postings"))
            .filter(F.col("df") >= min_df))


# tfidf_topk scores doc-major in numpy from this many docs up, while
# the query index it broadcasts has at most this many rows
TFIDF_DOC_MAJOR_MIN_DOCS = 50_000
TFIDF_QUERY_BROADCAST_MAX_ROWS = 4_000_000


def tfidf_topk(docs: DataFrame, query_mod: int = 50, k: int = 5,
               max_df_frac: float = 0.85) -> DataFrame:
    """Sparse lexical similarity search: for each query document
    (doc_id % query_mod == 0) the top-k most similar documents by
    tf-idf dot product over SHARED terms — the inverted-index
    complement of the dense-embedding ANN family (similarity.py):
    candidate generation and scoring happen in one term-keyed join,
    so only documents sharing at least one surviving term ever pair.

    Scale design:
    - terms with df > max_df_frac * N are DROPPED before the join
      (the posting-list cap: stopword-grade terms would otherwise
      contribute O(N)-length postings and quadratic pair blowup —
      same bound an inverted index enforces);
    - the query side carries corpus/query_mod documents; the join is
      keyed on the term (inverted-index shape), the pair aggregate
      map-side combines;
    - integer parity: idf is quantized to MILLI-units per term
      (floor(ln(N/df) * 1e3)) BEFORE weighting, so pair scores are
      exact BIGINT sums of tf_q * tf_d * idf_milli^2 — order-invariant
      and engine-exact, with headroom (tf <= doc length, idf_milli <=
      ~15e3 at web scale => per-term products < 2^50).

    Returns (query_id, doc_id, n_shared_terms, dot_milli2, rank).
    """
    n_docs = docs.count()
    max_df = int(max_df_frac * n_docs)
    terms = (with_tokens(docs)
             .select("doc_id", F.explode("toks").alias("term"))
             .groupBy("doc_id", "term")
             .agg(F.count(F.lit(1)).alias("tf")))
    from ..cache import managed_persist
    # Partition the persisted term index BY TERM before caching (r13
    # opt 2, guide §2.4/§2.5): AQE coalesces the small (doc_id, term)
    # aggregate exchange at bench scale, so the cache came out with
    # ONE partition and every consumer — the idf aggregate, both
    # sides of the term-keyed pair join, the pair partial-aggregate —
    # ran as a single-task straggler (profiled: a 3 s one-task stage
    # on the critical path in every run, regardless of join
    # strategy). The explicit term-hash repartition (a) pins the
    # cache's parallelism, and (b) is the exact distribution the idf
    # groupBy and the q x w join require, so those exchanges vanish
    # (HashPartitioning(term) satisfies both). GATED to the small
    # regime where AQE under-parallelizes (estimated index bytes
    # under cores x the advisory partition size): past the gate
    # the planner's own exchanges are already well-partitioned, the
    # extra term-hash shuffle measured a regression at the 100x sweep
    # (hot-term skew has no AQE relief inside a pinned repartition),
    # and the plan stays byte-identical to the ungated form.
    # Interleaved A/B min-of-3 at sf0.1: 5.1 -> 2.32 s, results
    # identical; ~100 distinct terms/doc x 48 B/row is the sizing
    # constant.
    p_terms = docs.sparkSession.sparkContext.defaultParallelism
    if n_docs * 100 * 48 < p_terms * session.ADVISORY_PARTITION_BYTES:
        terms = terms.repartition(p_terms, "term")
    terms = managed_persist(terms)
    idf = (terms.groupBy("term")
           .agg(F.count(F.lit(1)).alias("df"))
           .filter(F.col("df") <= max_df)
           .withColumn("idf_milli",
                       F.expr(f"CAST(FLOOR(ln(CAST({n_docs} AS DOUBLE)"
                              f" / df) * 1000.0) AS BIGINT)")))
    w = (terms.join(idf.select("term", "idf_milli"), "term")
         .withColumn("wt", F.col("tf") * F.col("idf_milli")))
    q = (w.filter(F.col("doc_id") % query_mod == 0)
         .select(F.col("doc_id").alias("query_id"), "term",
                 F.col("wt").alias("q_wt")))
    # Document-at-a-time numpy scoring behind a query-index gate (r14,
    # guide §4.2/§1.1): the term-keyed pair join emits one row per
    # (query, doc, shared term) — 871M rows for 50M distinct pairs at
    # the 100x dir (measured; a ~17x aggregate reduction the JVM hash
    # aggregate paid at ~250k rows/s/core, ~100 s of the sweep's worst
    # row, and more partitions did NOT help: 32/128/512 measured
    # 99/107/139 s, so it was volume, not spill or skew — max term
    # contributed 0.04%). The numpy path broadcasts the query-side
    # index (CSR by term), streams the corpus side doc-major, does the
    # multiply + pair reduction vectorized, and — because repartition
    # by doc_id makes every pair's score FINAL inside one batch —
    # emits only each batch's top-k per query: any dropped row is
    # dominated by k same-batch rows under the exact final ordering
    # (dot desc, doc_id asc), so the global window over the candidates
    # returns the identical top-k rows with identical ranks. Exact
    # integer arithmetic throughout (same int64 products/sums the SQL
    # path computes). GATED two ways: BELOW ~50k docs the expr join's
    # pair volume is small and the numpy path's fixed costs (two extra
    # jobs, a doc-major repartition+sort, 32 Python workers) dominate
    # — measured at sf0.1 it REGRESSED 1.8->3.8 s while at the 100x
    # dir it wins 101->37 / 89->25 / 116->19 s — and ABOVE a query
    # index that would not broadcast safely (or 31-bit id packing) it
    # falls back to the distributed join/aggregate form, unchanged
    # from r13.
    if n_docs >= TFIDF_DOC_MAJOR_MIN_DOCS \
            and q.count() <= TFIDF_QUERY_BROADCAST_MAX_ROWS:
        pairs = _tfidf_pairs_doc_major(w, q, k)
    else:
        pairs = (q.join(w, "term")
                 .filter(F.col("doc_id") != F.col("query_id"))
                 .groupBy("query_id", "doc_id")
                 .agg(F.count(F.lit(1)).alias("n_shared_terms"),
                      F.sum(F.col("q_wt") * F.col("wt"))
                      .alias("dot_milli2")))
    rw = Window.partitionBy("query_id").orderBy(
        F.desc("dot_milli2"), F.asc("doc_id"))
    return (pairs.withColumn("rank", F.row_number().over(rw))
            .filter(F.col("rank") <= k)
            .select("query_id", "doc_id", "n_shared_terms",
                    "dot_milli2", "rank"))


def _tfidf_pairs_doc_major(w: DataFrame, q: DataFrame, k: int
                           ) -> DataFrame:
    """tfidf_topk's pair stage, document-at-a-time: the query index
    (query_id, term, q_wt) rides a broadcast as CSR-by-term numpy
    arrays; the corpus side streams doc-major (repartitioned and
    sorted by doc_id, boundary doc carried across Arrow batches) and
    each batch emits its pre-reduced per-query top-k candidate pairs.
    Falls back to the expr path (caller's gate) when ids exceed the
    31-bit packing or the index would not broadcast."""
    import numpy as np

    spark = w.sparkSession
    qpdf = (q.toPandas())
    if len(qpdf) == 0 or \
            not (0 <= qpdf["query_id"].min()
                 and qpdf["query_id"].max() < (1 << 31)):
        # empty query set => empty pairs; oversized ids: caller's expr
        # shape, reconstructed (never hit by the engine's bigint-safe
        # fixtures; kept for generality)
        if len(qpdf) == 0:
            return spark.createDataFrame(
                [], "query_id long, doc_id long, n_shared_terms long, "
                    "dot_milli2 long")
        return (q.join(w, "term")
                .filter(F.col("doc_id") != F.col("query_id"))
                .groupBy("query_id", "doc_id")
                .agg(F.count(F.lit(1)).alias("n_shared_terms"),
                     F.sum(F.col("q_wt") * F.col("wt"))
                     .alias("dot_milli2")))
    qpdf = qpdf.sort_values("term", kind="mergesort")
    tarr = qpdf["term"].to_numpy()
    uniq, first = np.unique(tarr, return_index=True)
    bc = spark.sparkContext.broadcast({
        "terms": uniq,
        "qptr": np.append(first, len(tarr)).astype(np.int64),
        "qid": qpdf["query_id"].to_numpy(np.int64),
        "qwt": qpdf["q_wt"].to_numpy(np.int64),
    })

    def fold(batches):
        import numpy as np
        import pandas as pd
        d = bc.value
        tindex = pd.Index(d["terms"])
        qptr, qid_a, qwt_a = d["qptr"], d["qid"], d["qwt"]

        def flush(pdf):
            ti = tindex.get_indexer(pdf["term"])
            hit = np.flatnonzero(ti >= 0)
            if not len(hit):
                return None
            tix = ti[hit]
            cnt = qptr[tix + 1] - qptr[tix]
            rep = np.repeat(hit, cnt)
            total = int(cnt.sum())
            if total == 0:
                return None
            excl = np.cumsum(cnt) - cnt
            flat = (np.repeat(qptr[tix], cnt)
                    + np.arange(total) - np.repeat(excl, cnt))
            qids = qid_a[flat]
            prod = qwt_a[flat]
            dids = pdf["doc_id"].to_numpy()[rep]
            if len(dids) and not (0 <= dids.min()
                                  and dids.max() < (1 << 31)):
                raise ValueError("doc_id outside 31-bit packing; "
                                 "raise the gate to the expr path")
            prod = prod * pdf["wt"].to_numpy()[rep]
            keep = qids != dids
            qids, dids, prod = qids[keep], dids[keep], prod[keep]
            if not len(qids):
                return None
            key = (qids << np.int64(32)) | dids
            order = np.argsort(key, kind="stable")
            keys = key[order]
            starts = np.flatnonzero(np.r_[True, keys[1:] != keys[:-1]])
            dot = np.add.reduceat(prod[order], starts)
            nsh = np.diff(np.append(starts, len(keys)))
            kq = keys[starts] >> np.int64(32)
            kd = keys[starts] & np.int64(0xFFFFFFFF)
            # per-batch top-k per query, EXACT final order
            ord2 = np.lexsort((kd, -dot, kq))
            kq2 = kq[ord2]
            gstart = np.flatnonzero(np.r_[True, kq2[1:] != kq2[:-1]])
            glen = np.diff(np.append(gstart, len(kq2)))
            pos = np.arange(len(kq2)) - np.repeat(gstart, glen)
            sel = ord2[pos < k]
            return pd.DataFrame({"query_id": kq[sel], "doc_id": kd[sel],
                                 "n_shared_terms": nsh[sel],
                                 "dot_milli2": dot[sel]})

        carry = None
        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if not len(pdf):
                continue
            doc = pdf["doc_id"].to_numpy()
            tail = doc == doc[-1]       # last doc may straddle batches
            carry = pdf[tail]
            body = pdf[~tail]
            if len(body):
                out = flush(body)
                if out is not None:
                    yield out
        if carry is not None and len(carry):
            out = flush(carry)
            if out is not None:
                yield out

    part = (w.select("doc_id", "term", "wt")
            .repartition(F.col("doc_id"))
            .sortWithinPartitions("doc_id"))
    return part.mapInPandas(
        fold, schema="query_id long, doc_id long, n_shared_terms long, "
                     "dot_milli2 long")


def source_divergence(docs: DataFrame) -> DataFrame:
    """Per-source TOTAL-VARIATION distance between the source's
    unigram token distribution and the REST of the corpus — the
    distribution-shift report behind mixture reweighting (a source
    drifting away from the corpus shows up here before it skews
    training). TV instead of KL because TV over count distributions
    is EXACT in integer arithmetic — no transcendental whose last ulp
    differs between engines:

        TV(p, q) = num / den,
        num = sum_t |c_t * N_r - r_t * N_s|   (+ the absent-token term
              N_s * (N_r - sum_{t in s} r_t), folded in algebraically)
        den = 2 * N_s * N_r

    emitted as the exact (tv_num, tv_den) pair plus the scaled
    integer quotient tv_x1e6 = (1e6 * num) div den.

    Scale shape: one (source, token) count, one token-keyed global
    count join, per-source totals broadcast (#sources rows), and a
    final per-source fold. The token join is the only data-sized
    shuffle. BIGINT bounds: terms reach c*N_r <= N_s*N_r; at
    corpus scales where N_s*N_r approaches 2^63 the sums promote to
    DECIMAL(38,0) on both engines (same code shape).

    A single-source corpus has N_r = 0 -> tv_den = 0 and a NULL
    quotient (nothing to diverge from).
    """
    tok = with_tokens(docs).select("source", F.explode("toks").alias("tok"))
    c = tok.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c"))
    from ..cache import managed_persist
    c = managed_persist(c)      # feeds three aggregates below
    tot = c.groupBy("source").agg(F.sum("c").alias("n_s"))
    glob = c.groupBy("tok").agg(F.sum("c").alias("g"))
    n_all = c.agg(F.sum("c").alias("n_all"))
    j = (c.join(glob, "tok")
         .join(F.broadcast(tot), "source")
         .crossJoin(F.broadcast(n_all))
         .withColumn("n_r", F.col("n_all") - F.col("n_s"))
         .withColumn("r", F.col("g") - F.col("c")))
    per = (j.groupBy("source")
           .agg(F.sum(F.abs(F.col("c") * F.col("n_r")
                            - F.col("r") * F.col("n_s"))).alias("sum_abs"),
                F.sum("r").alias("sum_r_in"),
                F.count(F.lit(1)).alias("vocab_src"),
                F.max("n_s").alias("n_tokens_src"),
                F.max("n_r").alias("n_rest")))
    return (per
            .withColumn("tv_num",
                        F.col("sum_abs") + F.col("n_tokens_src")
                        * (F.col("n_rest") - F.col("sum_r_in")))
            .withColumn("tv_den",
                        F.lit(2) * F.col("n_tokens_src") * F.col("n_rest"))
            .withColumn("tv_x1e6",
                        F.expr("(1000000 * tv_num) div tv_den"))
            .select("source", "n_tokens_src", "vocab_src",
                    "tv_num", "tv_den", "tv_x1e6"))


def hashed_linear_score(docs: DataFrame,
                        n_weights: int = 2001) -> DataFrame:
    """fastText-shaped linear text classifier over hashed features
    with DETERMINISTIC pseudo-random weights — the model-free stand-in
    for learned quality classifiers in a curation pipeline (swap the
    md5-derived weight for a broadcast learned-weight table and the
    plan is unchanged). Each token hashes to an integer weight in
    [-(n_weights//2), +n_weights//2]; the document score is the exact
    integer sum over token OCCURRENCES; label = score > 0.

    Returns (doc_id, n_tokens, score_num, label) for every doc
    (token-less docs score 0 / label false).

    Scale shape: explode -> one doc-keyed sum -> left join back to
    the full doc set. Pure JVM (md5 + conv + integer sum), map-side
    combinable, no windows. The weight range is odd so the weight
    distribution is symmetric around 0.
    """
    half = n_weights // 2
    ex = with_tokens(docs).select("doc_id", F.explode("toks").alias("tok"))
    w = F.expr(f"CAST(conv(substring(md5(tok), 1, 8), 16, 10) AS BIGINT)"
               f" % {n_weights} - {half}")
    per = (ex.withColumn("w", w)
           .groupBy("doc_id")
           .agg(F.count(F.lit(1)).alias("n_tokens"),
                F.sum("w").alias("score_num")))
    return (docs.select("doc_id").join(per, "doc_id", "left")
            .select("doc_id",
                    F.coalesce("n_tokens", F.lit(0)).alias("n_tokens"),
                    F.coalesce("score_num", F.lit(0)).alias("score_num"))
            .withColumn("label", F.col("score_num") > 0))


def ngram_topk(docs: DataFrame, n: int = 2, k: int = 10,
               by: str = "source") -> DataFrame:
    """Per-stratum top-k word n-grams — the collocation report behind
    boilerplate detection (navigation chrome, license headers) and
    tokenizer-merge audits; corpus-wide unigram top-k is
    corpus_token_stats, this is its n>=2, per-source sibling.

    Scale shape: one explode -> one (stratum, gram)-keyed count
    (map-side combine), then ONE rank window partitioned by the
    stratum — never a global sort, and the window input is already
    count-reduced (|vocab| per stratum, not |tokens|). Deterministic
    gram-lexicographic tiebreak keeps the report replay-stable."""
    from .text import ngram_zip_expr
    grams = (with_tokens(docs)
             .select(F.col(by).alias("stratum"),
                     F.explode(F.expr(ngram_zip_expr(n)))
                      .alias("gram")))
    counts = (grams.groupBy("stratum", "gram")
              .agg(F.count(F.lit(1)).alias("cnt")))
    from pyspark.sql import Window
    w = Window.partitionBy("stratum").orderBy(F.desc("cnt"), F.asc("gram"))
    return (counts.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("stratum", "rank", "gram", "cnt"))


def kmv_distinct(docs: DataFrame, k: int = 256,
                 by: str = "source") -> DataFrame:
    """K-minimum-values cardinality sketch per stratum: estimate the
    distinct-shingle count from the k smallest md5-derived hash values
    (est = (k-1) * 2^48 / kth_min — Bar-Yossef et al. 2002), next to
    the exact count for audit. The sketch is the 100 TB shape: its
    state is k numbers per stratum regardless of corpus size, merges
    by union+truncate across partitions/days, and never shuffles the
    corpus the way COUNT(DISTINCT) must at full key cardinality.

    Deterministic md5 hashing -> both engines compute identical
    estimates, so even the ERROR is oracle-checked. The rank window
    runs over already-DISTINCT (stratum, hash) rows."""
    from pyspark.sql import Window
    from .dedup import with_shingles
    sh = (with_shingles(docs.select("doc_id", by, "text"))
          .select(F.col(by).alias("stratum"),
                  F.explode("shingles").alias("shingle")))
    hashed = sh.select(
        "stratum",
        F.expr("CAST(conv(substring(md5(shingle), 1, 12), 16, 10) "
               "AS BIGINT)").alias("h"))
    # both the sketch and the exact-audit twin read the distinct hash
    # frame — persist it so the shingle explode + md5 runs once
    # (measured 5.3 s -> the explode dominated, twice)
    from ..cache import managed_persist
    d = managed_persist(hashed.distinct())
    big = _scan_bytes(docs) > session.ADVISORY_PARTITION_BYTES
    sketch = (stratum_smallest_k(d, k, two_phase=big)
              .groupBy("stratum")
              .agg(F.max("h").alias("kth_hash"),
                   F.count(F.lit(1)).alias("k_used")))
    exact = d.groupBy("stratum").agg(
        F.count(F.lit(1)).alias("exact_distinct"))
    est = ("CASE WHEN k_used < " + str(k) + " THEN exact_distinct "
           "ELSE ((k_used - 1) * CAST(281474976710656 AS BIGINT)) "
           "DIV kth_hash END")
    return (sketch.join(exact, "stratum")
            .withColumn("est_distinct", F.expr(est))
            .withColumn("err_ppm",
                        F.expr("(abs(est_distinct - exact_distinct) "
                               "* 1000000) DIV exact_distinct"))
            .select("stratum", "k_used", "kth_hash", "est_distinct",
                    "exact_distinct", "err_ppm"))


def surprisal_histogram(docs: DataFrame, bucket_micro: int = 500_000,
                        max_bucket: int = 9,
                        by: str = "source") -> DataFrame:
    """Per-source quality-distribution report: docs bucketed by mean
    bigram-LM surprisal into fixed-width bins (0.5-nat wide, clamped
    to ``max_bucket``) — the histogram a curation run reads before
    choosing its surprisal gate, per source so a noisy source's tail
    is visible instead of averaged away.

    Fixed-width bins (not rank deciles) on purpose: deciles need a
    per-source total order — a straggler sort when one source holds
    most of the corpus — while this is one map-side-combinable
    aggregate over per-doc score rows. All-integer (micro-nat
    quantized scores, integer-division means)."""
    base = bigram_surprisal(docs)
    j = base.join(docs.select("doc_id", F.col(by).alias("stratum")),
                  "doc_id")
    bucket = F.expr(f"least(CAST({max_bucket} AS BIGINT), "
                    f"mean_surprisal_micro DIV {bucket_micro})")
    return (j.withColumn("bucket", bucket)
            .groupBy("stratum", "bucket")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_scored").alias("n_scored"),
                 F.expr("sum(mean_surprisal_micro) DIV count(1)")
                  .alias("mean_of_means_micro"),
                 F.min("mean_surprisal_micro").alias("lo_micro"),
                 F.max("mean_surprisal_micro").alias("hi_micro")))


def _scan_bytes(df: DataFrame) -> int:
    """Total bytes of the frame's input files — the no-Spark-job scale
    probe (the relay-gate pattern): reads the plan's OWN file list, so
    it cannot drift from the actual input."""
    total = 0
    for f in df.inputFiles():
        p = f[7:] if f.startswith("file://") else f
        try:
            total += os.path.getsize(p)
        except OSError:
            pass
    return total


def stratum_smallest_k(d: DataFrame, k: int, two_phase: bool) -> DataFrame:
    """EXACT k smallest distinct 48-bit hashes per stratum, ranked —
    without ever funneling a stratum's whole hash set through one
    window task (r14, guide §2.5; the classify_disorder two-phase
    treatment applied to per-group top-k: strata are LOW-cardinality
    — a handful of sources — so Window.partitionBy(stratum) sorted
    millions of rows per task at the 100x dir). Phase 1 ranks within
    (stratum, h-range bucket) — parallel, ~1024 smaller sorts —
    and keeps <= k per bucket, a superset of the global k smallest
    (every global top-k element is top-k of its own bucket); phase 2
    ranks the <= 1024*k survivors exactly. h must be unique per
    stratum (callers pass DISTINCT frames), so both row_numbers are
    deterministic and the final rank equals the single-window rank.

    ``two_phase=False`` keeps the plain single window — at bench scale
    the extra phase-1 window/exchange is pure overhead (kmv_merge
    measured 2.2 -> 3.8 s at sf0.1 ungated vs 21.7 -> 20.8 s gated-on
    at the 100x dir), so callers gate on their input bytes
    (``_scan_bytes`` > ``session.ADVISORY_PARTITION_BYTES``)."""
    from pyspark.sql import Window
    w2 = Window.partitionBy("stratum").orderBy("h")
    if not two_phase:
        return (d.withColumn("rank", F.row_number().over(w2))
                .filter(F.col("rank") <= k))
    b = (F.col("h") / F.lit((1 << 48) // 1024)).cast("long")
    w1 = Window.partitionBy("stratum", "_b").orderBy("h")
    return (d.withColumn("_b", b)
            .withColumn("_r1", F.row_number().over(w1))
            .filter(F.col("_r1") <= k)
            .withColumn("rank", F.row_number().over(w2))
            .filter(F.col("rank") <= k)
            .drop("_b", "_r1"))


def kmv_merge_check(docs: DataFrame, k: int = 64,
                    split_mod: int = 2,
                    by: str = "source") -> DataFrame:
    """Self-verifying mergeability proof for the KMV sketch: build
    per-part sketches over a doc_id split, union + re-truncate, and
    compare the merged kth-minimum against the direct whole-corpus
    sketch. Output carries BOTH estimates and the equality flag — at
    scale this is the daily-fold contract (sketches merge; corpora
    never re-shuffle)."""
    from pyspark.sql import Window
    from ..cache import managed_persist
    from .dedup import with_shingles
    # hash ONCE, deduped at (stratum, part, h) grain (r13 opt 2; the
    # r10 form persisted (stratum, doc_id, h) — measured 6.3 s as
    # split_mod+1 separate explodes before that): only the doc's part
    # (doc_id % split_mod) ever matters downstream, so the distinct
    # exchange moves at most split_mod rows per distinct (stratum, h)
    # instead of one per (doc_id, h) — far fewer bytes at any
    # replication level — and each per-part slice arrives ALREADY
    # distinct on (stratum, h), so the split_mod per-part distinct
    # exchanges disappear outright; only the independent whole-corpus
    # sketch re-dedups (part folded out).
    base = managed_persist(
        with_shingles(docs.select("doc_id", by, "text"))
        .select(F.col(by).alias("stratum"),
                (F.col("doc_id") % split_mod).alias("part"),
                F.explode("shingles").alias("shingle"))
        .select("stratum", "part",
                F.expr("CAST(conv(substring(md5(shingle), 1, 12), "
                       "16, 10) AS BIGINT)").alias("h"))
        .distinct())

    big = _scan_bytes(docs) > session.ADVISORY_PARTITION_BYTES

    def _rank_topk(d: DataFrame) -> DataFrame:
        # two-phase exact rank: no one-task-per-stratum sort (§2.5)
        return stratum_smallest_k(d, k, two_phase=big)

    def _sketch_from(hashes: DataFrame) -> DataFrame:
        return _rank_topk(hashes.select("stratum", "h").distinct())

    sketches = [_rank_topk(base.filter(F.col("part") == i)
                           .select("stratum", "h")).select("stratum", "h")
                for i in range(split_mod)]
    u = sketches[0]
    for s in sketches[1:]:
        u = u.unionByName(s)
    u = u.distinct()
    w = Window.partitionBy("stratum").orderBy("h")
    merged = (u.withColumn("rank", F.row_number().over(w))
              .filter(F.col("rank") <= k)
              .groupBy("stratum")
              .agg(F.max("h").alias("kth_merged"),
                   F.count(F.lit(1)).alias("k_merged")))
    direct = (_sketch_from(base)
              .groupBy("stratum")
              .agg(F.max("h").alias("kth_direct"),
                   F.count(F.lit(1)).alias("k_direct")))
    return (merged.join(direct, "stratum")
            .select("stratum", "k_merged", "k_direct",
                    "kth_merged", "kth_direct",
                    (F.col("kth_merged") == F.col("kth_direct"))
                     .alias("merge_exact")))


def oov_rate(docs: DataFrame, vocab_size: int = 64,
             by: str = "source") -> DataFrame:
    """Per-stratum out-of-vocabulary rate against the corpus-global
    top-``vocab_size`` token vocabulary — the tokenizer-coverage audit
    a pretraining pipeline runs before committing to a vocab (which
    sources will fragment into bytes/unknowns, where to grow the
    vocabulary).

    Scale shape: the vocabulary is ONE map-side-combinable global
    token count capped by TakeOrderedAndProject (vocab_size rows,
    deterministic (count desc, token asc) tiebreak) and BROADCAST back
    onto the exploded token stream; the per-stratum report is a second
    map-side-combinable aggregate. The corpus shuffles only (token,
    count) vocabulary rows — never document bytes.

    oov_ppm is exact integer division (micro-ppm floor), so the row is
    engine-exact.
    """
    toks = (with_tokens(docs)
            .select(F.col(by).alias("stratum"),
                    F.explode("toks").alias("tok")))
    vocab = (toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
             .orderBy(F.desc("cnt"), F.asc("tok")).limit(vocab_size)
             .select("tok", F.lit(True).alias("in_vocab")))
    joined = toks.join(F.broadcast(vocab), "tok", "left")
    return (joined.groupBy("stratum").agg(
        F.count(F.lit(1)).alias("total_tokens"),
        F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
         .cast("bigint").alias("oov_tokens"),
        F.countDistinct(F.when(F.col("in_vocab").isNull(), F.col("tok")))
         .alias("oov_types"))
        .withColumn("oov_ppm",
                    F.expr("(oov_tokens * 1000000) DIV total_tokens")))


# -- HyperLogLog-style register sketch (deterministic, mergeable) ----------

HLL_P = 6                    # 2^6 = 64 registers
_HLL_M = 1 << HLL_P
_HLL_WBITS = 48 - HLL_P      # suffix width after the register index
# alpha_64 * m^2 * 2^48 * 1000 as a double literal — the harmonic-mean
# estimator numerator (Flajolet et al. 2007, alpha_64 = 0.709); the
# same expression tree runs in both engines so est_milli is
# engine-exact.
_HLL_EST_NUM = "8.174213467662545e+20"  # 0.709 * 64^2 * 2^48 * 1000


def _hll_registers(hashed: DataFrame) -> DataFrame:
    """(stratum, h[48-bit]) -> per-(stratum, register) max rank-of-
    first-one-bit (rho). Register = low p bits; rho = leading zeros of
    the remaining 42-bit suffix + 1 (suffix 0 -> 43)."""
    w = f"(h DIV {_HLL_M})"
    rho = (f"IF({w} = 0, {_HLL_WBITS + 1}, "
           f"{_HLL_WBITS} - length(bin({w})) + 1)")
    return (hashed
            .select("stratum",
                    F.expr(f"h % {_HLL_M}").alias("register"),
                    F.expr(rho).alias("rho"))
            .groupBy("stratum", "register")
            .agg(F.max("rho").alias("rho")))


def _hll_summary(regs: DataFrame, prefix: str) -> DataFrame:
    """Fold a register table to one row per stratum: set-register
    count, rho sum/max, the exact integer harmonic denominator
    S = sum(2^(48 - rho_j)) (absent registers contribute 2^48), and
    the milli-quantized HLL estimate."""
    s_set = f"sum(CAST(pow(2.0, {48} - rho) AS BIGINT))"
    n_missing = f"({_HLL_M} - count(1))"
    return (regs.groupBy("stratum").agg(
        F.expr("count(1)").alias(f"{prefix}n_set"),
        F.expr("CAST(sum(rho) AS BIGINT)").alias(f"{prefix}sum_rho"),
        F.expr("max(rho)").alias(f"{prefix}max_rho"),
        F.expr(f"{s_set} + {n_missing} * CAST(281474976710656 AS BIGINT)")
         .alias(f"{prefix}s_scaled"))
        .withColumn(f"{prefix}est_milli",
                    F.expr(f"CAST(floor({_HLL_EST_NUM} "
                           f"/ CAST({prefix}s_scaled AS DOUBLE)) "
                           f"AS BIGINT)")))


def hll_report(docs: DataFrame, by: str = "source") -> DataFrame:
    """HyperLogLog register sketch per stratum with the mergeability
    proof run IN the query: registers built over the whole corpus
    must equal the per-register MAX of registers built over the two
    doc_id-parity halves — the fold that lets daily/partition
    sketches combine without re-reading corpora (the KMV merge
    contract's constant-space sibling; state is m=64 small ints per
    stratum at ANY corpus size).

    Deterministic md5-derived 48-bit hashes -> registers, rho, the
    exact integer harmonic denominator AND the milli-quantized
    estimate are all engine-reproducible; even the estimation error
    vs the exact distinct count is oracle-checked.
    """
    from .dedup import with_shingles
    sh = (with_shingles(docs.select("doc_id", by, "text"))
          .select(F.col(by).alias("stratum"), "doc_id",
                  F.explode("shingles").alias("shingle")))
    hashed = (sh.select(
        "stratum", "doc_id",
        F.expr("CAST(conv(substring(md5(shingle), 1, 12), 16, 10) "
               "AS BIGINT)").alias("h")))
    from tidb_binlog_spark.cache import managed_persist
    # ONE (stratum, h)-keyed aggregate carries everything every branch
    # needs (r14, guide §2.3/§2.4): min/max of the half bit say which
    # parity halves each distinct hash occurred in, so the direct
    # register set (the keys), the split-half register set (explode of
    # the 1-2 halves present — EXACTLY the old
    # distinct(stratum, half, h) rows), and the exact distinct count
    # all read this frame. The r13 form persisted the raw
    # (stratum, doc_id, h) occurrences and ran TWO full distinct
    # shuffles over them (26M rows each at the 100x dir, 7.4 s + 17.3 s
    # measured); the single aggregate shuffles the occurrence stream
    # once with map-side partial aggregation and makes the occurrence
    # persist unnecessary (the md5 pass now has exactly one consumer).
    g = managed_persist(
        hashed.groupBy("stratum", "h")
        .agg(F.min(F.col("doc_id") % 2).alias("half_min"),
             F.max(F.col("doc_id") % 2).alias("half_max")))
    g.count()
    d = g.select("stratum", "h")
    direct = _hll_summary(_hll_registers(d), "")
    halves = (g.select(
        "h", F.col("stratum").alias("s"),
        F.explode(F.array_distinct(
            F.array("half_min", "half_max"))).alias("half"))
        .select(F.concat_ws("#", "s", F.col("half").cast("string"))
                .alias("stratum"), "h"))
    merged_regs = (_hll_registers(halves)
                   .select(F.expr("split(stratum, '#')[0]")
                            .alias("stratum"), "register", "rho")
                   .groupBy("stratum", "register")
                   .agg(F.max("rho").alias("rho")))
    merged = (_hll_summary(merged_regs, "m_")
              .select("stratum", "m_s_scaled"))
    exact = g.groupBy("stratum").agg(
        F.count(F.lit(1)).alias("exact_distinct"))
    return (direct.join(merged, "stratum").join(exact, "stratum")
            .withColumn("merge_equal",
                        F.expr("s_scaled = m_s_scaled"))
            .withColumn("err_ppm",
                        F.expr("(abs(est_milli DIV 1000 - exact_distinct)"
                               " * 1000000) DIV exact_distinct"))
            .select("stratum", "n_set", "sum_rho", "max_rho",
                    "s_scaled", "est_milli", "exact_distinct",
                    "err_ppm", "merge_equal"))


def dsir_weights(docs: DataFrame, target_source: str = "src0",
                 n_buckets: int = 256, top_k: int = 100) -> DataFrame:
    """Data Selection via Importance Resampling (hashed-feature
    flavor, Xie et al. 2023): score every document by how much more
    likely its hashed-unigram features are under a TARGET distribution
    (here: the docs of ``target_source``) than under the raw corpus,
    and keep the top-k — the standard cheap way to steer a 100 TB
    crawl toward a high-quality seed domain without a trained model.

    Determinism/scale contract:
    - feature table = ``n_buckets`` rows of exact integer counts (one
      map-side-combinable aggregate over token occurrences), add-1
      smoothed; per-bucket weight is ONE ln of an exact-integer ratio
      (every product < 2^53 at any realistic count), floor-quantized
      to MICRO-nats BEFORE the per-doc sum, so doc scores are exact
      BIGINT sums — aggregation-order-invariant, engine-identical.
    - the weight table is broadcast back onto the token stream; the
      corpus shuffles only (doc_id, partial-sum) rows.
    """
    occ = (with_tokens(docs)
           .select("doc_id", "source", F.explode("toks").alias("tok"))
           .withColumn("bucket",
                       F.expr("pmod(CAST(conv(substring(md5(tok), 1, 12), "
                              f"16, 10) AS BIGINT), {n_buckets})")))
    counts = (occ.groupBy("bucket")
              .agg(F.count(F.lit(1)).alias("raw_cnt"),
                   F.sum(F.when(F.col("source") == target_source, 1)
                          .otherwise(0)).cast("bigint").alias("tgt_cnt")))
    totals = counts.agg(F.sum("raw_cnt").cast("bigint").alias("tot_raw"),
                        F.sum("tgt_cnt").cast("bigint").alias("tot_tgt"))
    w = (counts.crossJoin(F.broadcast(totals))
         .withColumn(
             "w_micro",
             F.expr(f"CAST(floor(ln((CAST(tgt_cnt + 1 AS DOUBLE) "
                    f"* CAST(tot_raw + {n_buckets} AS DOUBLE)) "
                    f"/ (CAST(raw_cnt + 1 AS DOUBLE) "
                    f"* CAST(tot_tgt + {n_buckets} AS DOUBLE))) "
                    "* 1000000.0) AS BIGINT)"))
         .select("bucket", "w_micro"))
    scored = (occ.join(F.broadcast(w), "bucket")
              .groupBy("doc_id")
              .agg(F.count(F.lit(1)).alias("n_tokens"),
                   F.sum("w_micro").cast("bigint").alias("weight_micro")))
    wr = Window.orderBy(F.desc("weight_micro"), F.asc("doc_id"))
    return (scored.orderBy(F.desc("weight_micro"), F.asc("doc_id"))
            .limit(top_k)
            .withColumn("rank", F.row_number().over(wr))
            .select("rank", "doc_id", "n_tokens", "weight_micro"))


def quantile_ticket_sample(docs: DataFrame, k: int = 128,
                           by: str = "source") -> DataFrame:
    """The mergeable state behind :func:`quantile_sketch`: per
    stratum, the ``k`` docs with the smallest deterministic md5
    tickets — a uniform random sample under the ticket hash, fixed
    by content, so both engines (and any two runs) draw the SAME
    sample. Mergeable exactly like the KMV sketch: each part's
    bottom-k-by-ticket contains every global bottom-k element, so
    union + re-truncate of per-part/per-day samples IS the sample of
    the union (property-tested). State is k rows per stratum at any
    corpus size.

    Scale: the rank window runs over one row per document. At huge
    strata the documented refinement is a ticket-threshold prefilter
    (tickets are uniform on [0, 2^48), so ticket <= C*k/n * 2^48
    keeps ~C*k rows per stratum before the window sorts anything).
    """
    per_doc = with_tokens(docs).select(
        F.col(by).alias("stratum"), "doc_id",
        F.expr("size(toks)").alias("v"),
        F.expr("CAST(conv(substring(md5(CAST(doc_id AS STRING)), "
               "1, 12), 16, 10) AS BIGINT)").alias("ticket"))
    w_t = Window.partitionBy("stratum").orderBy("ticket", "doc_id")
    return (per_doc.withColumn("srk", F.row_number().over(w_t))
            .filter(F.col("srk") <= k))


def quantile_sketch(docs: DataFrame, k: int = 128,
                    pcts: tuple[int, ...] = (25, 50, 75, 90),
                    by: str = "source") -> DataFrame:
    """Per-stratum token-length quantiles from the bounded
    bottom-k-by-ticket sample, next to the exact nearest-rank answer
    for audit — the sketch swap that corpus_length_quantiles'
    docstring promises at 100 TB, with the same nearest-rank
    definition (value at rank ceil(p*n/100) in EXACT integer
    arithmetic, (p*n + 99) div 100) applied to the sample.

    Deterministic md5 tickets mean even the ERROR columns are
    engine-exact and oracle-checked. The exact side is the audit; at
    real scale it is dropped and only the k-row-per-stratum sample
    survives (mergeable across days/partitions like the KMV sketch —
    see quantile_ticket_sample).
    """
    samp = quantile_ticket_sample(docs, k, by)
    w_v = Window.partitionBy("stratum").orderBy("v", "doc_id")
    w_s = Window.partitionBy("stratum")
    samp = (samp.withColumn("vrk", F.row_number().over(w_v))
            .withColumn("k_used", F.count(F.lit(1)).over(w_s)))
    est_aggs = [F.max("k_used").alias("k_used")]
    for p in pcts:
        est_aggs.append(F.max(F.when(
            F.col("vrk") == F.expr(f"({p} * k_used + 99) div 100"),
            F.col("v"))).alias(f"p{p}_est"))
    est = samp.groupBy("stratum").agg(*est_aggs)

    per_doc = with_tokens(docs).select(
        F.col(by).alias("stratum"), "doc_id",
        F.expr("size(toks)").alias("v"))
    ex = (per_doc.withColumn("vrk", F.row_number().over(w_v))
          .withColumn("n", F.count(F.lit(1)).over(w_s)))
    ex_aggs = [F.max("n").alias("n_docs")]
    for p in pcts:
        ex_aggs.append(F.max(F.when(
            F.col("vrk") == F.expr(f"({p} * n + 99) div 100"),
            F.col("v"))).alias(f"p{p}_exact"))
    exact = ex.groupBy("stratum").agg(*ex_aggs)

    out = est.join(exact, "stratum")
    cols = ["stratum", "n_docs", "k_used"]
    for p in pcts:
        out = out.withColumn(
            f"p{p}_abs_err", F.expr(f"abs(p{p}_est - p{p}_exact)"))
        cols += [f"p{p}_est", f"p{p}_exact", f"p{p}_abs_err"]
    return out.select(*cols)


def cms_heavy_hitters(docs: DataFrame, depth: int = 4,
                      width: int = 512, k: int = 16) -> DataFrame:
    """Count-min-sketch heavy hitters with the CMS overestimate
    guarantee PROVEN in-query: estimate each candidate token's count
    as min over ``depth`` salted hash rows of its bucket sum, report
    it next to the exact count, and flag ``overestimate_ok`` (est >=
    exact — always true for CMS since every bucket sum includes the
    token's own occurrences plus non-negative collisions). With
    deterministic md5 row hashes both engines build the SAME sketch,
    so the error itself is oracle-checked.

    This completes the mergeable-sketch family next to KMV
    (distinct), HLL (registers) and the bottom-k quantile sample:
    CMS state is a depth x width integer matrix that merges by
    element-wise ADD across partitions/days — the frequency analog
    of the register-wise MAX HLL merge.

    Scale shape: the sketch is built FROM the (token, count)
    aggregate (map-side combinable; the per-occurrence insert and
    the count-weighted insert produce identical matrices), so the
    corpus shuffles only vocabulary rows. The sketch itself
    (depth*width rows) broadcasts back onto the candidate probes;
    candidates come from TakeOrderedAndProject (top-k by exact count
    here, a guess stream in production).
    """
    toks = (with_tokens(docs)
            .select(F.explode("toks").alias("tok")))
    from tidb_binlog_spark.cache import managed_persist
    # exact feeds depth+1 consumers (each salted sketch row and the
    # candidate top-k); under AQE the union branches plan as separate
    # query stages that do NOT share the aggregate's exchange, so the
    # tokenize+explode+count pipeline ran depth+1 times (stage
    # profile: five ~4 s-CPU copies of the same stage). One eager
    # persist of the (token, count) vocabulary = one corpus pass
    # (r13, guide §5): 1.34 -> 0.97 s min-of-3 at sf0.1.
    exact = managed_persist(toks.groupBy("tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("exact_cnt")))
    exact.count()

    def _bucket(i: int) -> str:
        return (f"pmod(CAST(conv(substring(md5(concat('{i}:', tok)), "
                f"1, 12), 16, 10) AS BIGINT), {width})")

    rows = None
    for i in range(depth):
        r = exact.select(F.lit(i).alias("row_i"),
                         F.expr(_bucket(i)).alias("bucket"),
                         F.col("exact_cnt").alias("cnt"))
        rows = r if rows is None else rows.unionByName(r)
    sketch = (rows.groupBy("row_i", "bucket")
              .agg(F.sum("cnt").cast("bigint").alias("bucket_cnt")))

    cand = (exact.orderBy(F.desc("exact_cnt"), F.asc("tok")).limit(k)
            .withColumn("rank", F.row_number().over(
                Window.orderBy(F.desc("exact_cnt"), F.asc("tok")))))
    probes = cand.select(
        "rank", "tok", "exact_cnt",
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("row_i"),
                     F.expr(_bucket(i)).alias("bucket"))
            for i in range(depth)])).alias("p")
    ).select("rank", "tok", "exact_cnt",
             F.col("p.row_i").alias("row_i"),
             F.col("p.bucket").alias("bucket"))
    est = (probes.join(F.broadcast(sketch), ["row_i", "bucket"])
           .groupBy("rank", "tok", "exact_cnt")
           .agg(F.min("bucket_cnt").alias("est_cnt")))
    return (est
            .withColumn("overestimate_ok",
                        F.col("est_cnt") >= F.col("exact_cnt"))
            .withColumn("err_ppm",
                        F.expr("((est_cnt - exact_cnt) * 1000000) "
                               "DIV exact_cnt"))
            .select("rank", "tok", "exact_cnt", "est_cnt",
                    "overestimate_ok", "err_ppm"))


def vocab_growth(docs: DataFrame,
                 pcts: tuple[int, ...] = (25, 50, 75, 100),
                 by: str = "source") -> DataFrame:
    """Heaps-law vocabulary-growth audit: per stratum, the distinct
    token count after seeing the first 25/50/75/100% of documents (in
    doc_id order) — is the vocabulary saturating (dedup-worthy,
    tokenizer-coverage safe) or still growing linearly (expect OOV
    pain)? The saturation read that sizes vocabularies and flags
    template-heavy sources (flat curve = boilerplate).

    Scale shape: tokens reduce to one (stratum, token) -> MIN(first
    doc rank) aggregate (map-side combinable); the checkpoint counts
    are a second count-reduced aggregate. The only window is the
    per-stratum doc rank — one row per DOCUMENT, not per token.
    All-integer nearest-rank checkpoints, engine-exact.
    """
    ranked = (docs.select(F.col(by).alias("stratum"), "doc_id")
              .withColumn("doc_rank", F.row_number().over(
                  Window.partitionBy("stratum").orderBy("doc_id")))
              .withColumn("n_docs", F.count(F.lit(1)).over(
                  Window.partitionBy("stratum"))))
    toks = (with_tokens(docs)
            .select(F.col(by).alias("stratum"), "doc_id",
                    F.explode("toks").alias("tok"))
            .join(ranked.select("stratum", "doc_id", "doc_rank"),
                  ["stratum", "doc_id"]))
    first_seen = (toks.groupBy("stratum", "tok")
                  .agg(F.min("doc_rank").alias("first_seen")))
    cps = (ranked.groupBy("stratum")
           .agg(F.max("n_docs").alias("n_docs"))
           .select("stratum", "n_docs",
                   F.explode(F.array(
                       *[F.lit(p) for p in pcts])).alias("pct"))
           .withColumn("cp_rank",
                       F.expr("(pct * n_docs + 99) div 100")))
    grown = (first_seen.join(F.broadcast(cps), "stratum")
             .groupBy("stratum", "pct", "n_docs", "cp_rank")
             .agg(F.count(F.when(F.col("first_seen")
                                 <= F.col("cp_rank"), 1))
                   .alias("vocab_size")))
    return grown.select("stratum", "pct",
                        F.col("cp_rank").alias("docs_seen"),
                        "n_docs", "vocab_size")


# integer NDCG@5 discount table: floor(1e6 / log2(rank+1)) — shared
# CONSTANTS with the oracle, so no engine ever evaluates a log
NDCG_DISC_MICRO = (1_000_000, 630_929, 500_000, 430_676, 386_852)
NDCG_CUM_MICRO = tuple(
    sum(NDCG_DISC_MICRO[:i + 1]) for i in range(len(NDCG_DISC_MICRO)))


def retrieval_ndcg(docs: DataFrame, query_mod: int = 50,
                   k: int = 5) -> DataFrame:
    """Ranking-quality audit for the lexical retriever: NDCG@k of
    tfidf_topk's ranking, with a deterministic relevance proxy (a
    retrieved doc is relevant iff it shares the query doc's source —
    the label a source-siloed RAG corpus gives for free). The ideal
    ordering is the retrieved set re-sorted (rank-quality semantics:
    NDCG=1 iff every relevant retrieved doc outranks every irrelevant
    one).

    Log discounts enter as PRE-QUANTIZED integer constants
    (floor(1e6/log2(rank+1)) — NDCG_DISC_MICRO), shared with the
    oracle, so the whole metric is exact integer arithmetic end to
    end: no engine evaluates a logarithm.

    Scale: the retrieval itself is tfidf_topk's inverted-index join;
    the metric adds one broadcast source-lookup join and one
    per-query aggregate over k rows/query.
    """
    r = tfidf_topk(docs, query_mod=query_mod, k=k) \
        .filter(F.col("rank") <= k)
    src = docs.select("doc_id", "source")
    q_src = (src.filter(F.col("doc_id") % query_mod == 0)
             .select(F.col("doc_id").alias("query_id"),
                     F.col("source").alias("q_source")))
    d_src = src.select(F.col("doc_id").alias("doc_id"),
                       F.col("source").alias("d_source"))
    disc = "array(" + ", ".join(
        f"CAST({d} AS BIGINT)" for d in NDCG_DISC_MICRO[:k]) + ")"
    cum = "array(" + ", ".join(
        f"CAST({c} AS BIGINT)" for c in NDCG_CUM_MICRO[:k]) + ")"
    lab = (r.join(F.broadcast(q_src), "query_id")
           .join(d_src, "doc_id")
           .withColumn("rel",
                       (F.col("q_source") == F.col("d_source"))
                       .cast("bigint"))
           .withColumn("disc_micro",
                       F.expr(f"element_at({disc}, rank)")))
    per_q = (lab.groupBy("query_id")
             .agg(F.count(F.lit(1)).alias("n_retrieved"),
                  F.sum("rel").cast("bigint").alias("n_relevant"),
                  F.sum(F.expr("rel * disc_micro")).cast("bigint")
                   .alias("dcg_micro")))
    return (per_q.withColumn(
                "idcg_micro",
                F.expr(f"CASE WHEN n_relevant > 0 THEN "
                       f"element_at({cum}, CAST(least(n_relevant, "
                       f"{k}) AS INT)) END"))
            .withColumn("ndcg_ppm",
                        F.expr("CASE WHEN idcg_micro > 0 THEN "
                               "(dcg_micro * 1000000) DIV idcg_micro "
                               "END"))
            .select("query_id", "n_retrieved", "n_relevant",
                    "dcg_micro", "idcg_micro", "ndcg_ppm"))


def novelty_curve(docs: DataFrame, deciles: int = 10,
                  by: str = "source") -> DataFrame:
    """Content-novelty curve per source: in doc_id order, what
    fraction of each decile's shingles was never seen before in the
    stratum — the freshness read behind "is this crawl still adding
    content or re-serving itself" (a falling curve says dedup will
    eat the tail; vocab_growth's n-gram sibling at the document
    level).

    Scale shape: one doc-rank window (one row per document), one
    (stratum, shingle) -> min-first-rank aggregate, one join back and
    a decile rollup. Shingles are never globally ordered. Exact
    integer ppm.
    """
    from .dedup import with_shingles
    ranked = (docs.select(F.col(by).alias("stratum"), "doc_id")
              .withColumn("doc_rank", F.row_number().over(
                  Window.partitionBy("stratum").orderBy("doc_id")))
              .withColumn("n_docs", F.count(F.lit(1)).over(
                  Window.partitionBy("stratum"))))
    sh = (with_shingles(docs.select("doc_id", by, "text"))
          .select(F.col(by).alias("stratum"), "doc_id",
                  F.explode("shingles").alias("shingle"))
          .distinct())
    shr = sh.join(ranked, ["stratum", "doc_id"])
    first = (shr.groupBy("stratum", "shingle")
             .agg(F.min("doc_rank").alias("first_seen")))
    per_doc = (shr.join(first, ["stratum", "shingle"])
               .groupBy("stratum", "doc_id", "doc_rank", "n_docs")
               .agg(F.count(F.lit(1)).alias("n_sh"),
                    F.count(F.when(F.col("first_seen")
                                   == F.col("doc_rank"), 1))
                     .alias("n_new")))
    dec = per_doc.withColumn(
        "decile", F.expr(f"({deciles} * doc_rank + n_docs - 1) "
                         "DIV n_docs"))
    return (dec.groupBy("stratum", "decile")
            .agg(F.count(F.lit(1)).alias("n_docs_decile"),
                 F.sum("n_sh").cast("bigint").alias("n_shingles"),
                 F.sum("n_new").cast("bigint").alias("n_new"))
            .withColumn("novelty_ppm",
                        F.expr("(n_new * 1000000) DIV n_shingles")))


def quantile_sample_merge_check(docs: DataFrame, k: int = 64,
                                split_mod: int = 2,
                                by: str = "source") -> DataFrame:
    """Mergeability proof for the bottom-k-by-ticket quantile sample,
    run IN-query (the kmv_merge pattern): per-part samples over a
    doc_id split union + re-truncate to EXACTLY the whole-corpus
    sample — same argument as KMV (each part's bottom-k tickets
    contain every global bottom-k ticket). The output carries both
    routes' kth tickets, sizes and p50 estimates plus the equality
    flag, oracle-checked."""
    base = quantile_ticket_sample(docs, k, by) \
        .select("stratum", "doc_id", "v", "ticket")

    def _summarize(sample: DataFrame, prefix: str) -> DataFrame:
        w_v = Window.partitionBy("stratum").orderBy("v", "doc_id")
        s = (sample.withColumn("vrk", F.row_number().over(w_v))
             .withColumn("ku", F.count(F.lit(1)).over(
                 Window.partitionBy("stratum"))))
        return (s.groupBy("stratum")
                .agg(F.count(F.lit(1)).alias(f"{prefix}_k"),
                     F.max("ticket").alias(f"{prefix}_kth_ticket"),
                     F.max(F.when(
                         F.col("vrk")
                         == F.expr("(50 * ku + 99) div 100"),
                         F.col("v"))).alias(f"{prefix}_p50")))

    # per-part bottom-k over the same ticket derivation, then merge.
    # Persisted eagerly: the split_mod part branches plan as separate
    # AQE query stages that do not share the tokenize pass (the
    # cms_heavy_hitters finding, r13) — one corpus pass instead of
    # split_mod.
    from tidb_binlog_spark.cache import managed_persist
    full = managed_persist(with_tokens(docs).select(
        F.col(by).alias("stratum"), "doc_id",
        F.expr("size(toks)").alias("v"),
        F.expr("CAST(conv(substring(md5(CAST(doc_id AS STRING)), "
               "1, 12), 16, 10) AS BIGINT)").alias("ticket")))
    full.count()
    parts = None
    for i in range(split_mod):
        w_t = Window.partitionBy("stratum").orderBy("ticket", "doc_id")
        p = (full.filter(F.col("doc_id") % split_mod == i)
             .withColumn("srk", F.row_number().over(w_t))
             .filter(F.col("srk") <= k)
             .select("stratum", "doc_id", "v", "ticket"))
        parts = p if parts is None else parts.unionByName(p)
    w_m = Window.partitionBy("stratum").orderBy("ticket", "doc_id")
    merged = (parts.withColumn("mrk", F.row_number().over(w_m))
              .filter(F.col("mrk") <= k)
              .select("stratum", "doc_id", "v", "ticket"))
    m = _summarize(merged, "merged")
    d = _summarize(base, "direct")
    return (m.join(d, "stratum")
            .withColumn("merge_exact",
                        (F.col("merged_kth_ticket")
                         == F.col("direct_kth_ticket"))
                        & (F.col("merged_k") == F.col("direct_k"))
                        & (F.col("merged_p50")
                           == F.col("direct_p50"))))
