"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram
Jaccard — the training-data pipeline staples, designed for 100 TB.

Scale design:
- exact dedup is one hash-groupBy (map-side combinable);
- MinHash/LSH turns the O(n^2) pair problem into per-(band, bucket)
  self-joins — the shuffle is keyed on the band hash, so skew is
  bounded by bucket size, not corpus size;
- SimHash pairs join on 16-bit chunk equality (pigeonhole: hamming<=3
  over 64 bits guarantees one equal chunk);
- the SimHash and MinHash signature passes are map-only numpy batch
  folds (md5 once per distinct token/shingle of an Arrow batch); the
  rest is Catalyst expressions.

Determinism: md5 hex strings as the hash primitive and *string* mins
for the signatures, so the DuckDB oracle matches bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..cache import managed_persist
from .text import TOKENS


def cap_buckets(exploded: DataFrame, bucket_cols: list[str],
                max_bucket_size: int | None,
                order_col: str = "doc_id") -> DataFrame:
    """Degenerate-bucket guard for LSH self-joins: keep at most
    ``max_bucket_size`` members per bucket (lowest ``order_col`` first,
    deterministic), so a pathological bucket — e.g. a doc duplicated
    10^6 times landing every copy in one band bucket — costs
    O(cap^2) pairs instead of O(n^2) and cannot produce a straggler
    task. Members beyond the cap lose only their *candidate pairs
    within that bucket*; they keep colliding in their other
    bands/chunks. Use ``bucket_cap_report`` to surface what a given
    cap would drop.

    Default is ``None`` (no cap): results are EXACT and match the
    uncapped oracles bit-for-bit. A cap is an explicit scale-deployment
    opt-in — pair it with ``bucket_cap_report`` so truncation is never
    silent (a 100 TB run caps at e.g. 4096 and alerts on report
    rows)."""
    if max_bucket_size is None:
        return exploded
    w = Window.partitionBy(*bucket_cols).orderBy(order_col)
    return (exploded.withColumn("_br", F.row_number().over(w))
            .filter(F.col("_br") <= max_bucket_size).drop("_br"))


def bucket_cap_report(exploded: DataFrame, bucket_cols: list[str],
                      max_bucket_size: int) -> DataFrame:
    """Buckets exceeding the cap + how many members would be dropped —
    the monitoring side of cap_buckets (no silent truncation: run this
    alongside and log/alert on its rows)."""
    return (exploded.groupBy(*bucket_cols)
            .agg(F.count(F.lit(1)).alias("bucket_size"))
            .filter(F.col("bucket_size") > max_bucket_size)
            .withColumn("n_dropped",
                        F.col("bucket_size") - max_bucket_size))

# word 3-gram shingles over whitespace tokens (fallback: whole text)
# zip_with over shifted slices, NOT an index lambda: after projection
# collapse inlines `toks`, every `toks[i]` inside a transform lambda
# re-evaluates the split PER ELEMENT (measured 5.2 s for 260k shingles
# at sf0.1; this form is 0.6 s with byte-identical output — zip_with
# evaluates its array children once per ROW)
SHINGLES = (
    "CASE WHEN size(toks) >= 3 THEN "
    "zip_with(zip_with(slice(toks, 1, size(toks) - 2), "
    "slice(toks, 2, size(toks) - 2), (a, b) -> concat(a, ' ', b)), "
    "slice(toks, 3, size(toks) - 2), "
    "(ab, c) -> concat(ab, ' ', c)) "
    "ELSE array(text) END"
)


def with_shingles(docs: DataFrame) -> DataFrame:
    # spread BEFORE the shingle+digest projection: the fixture table is
    # one parquet split, and without the fan-out every md5 of the
    # signature pass runs on a single task (see text.spread).
    from .text import spread
    return (spread(docs).withColumn("toks", F.expr(TOKENS))
                .withColumn("shingles", F.expr(SHINGLES)))


def exact_dedup(docs: DataFrame) -> DataFrame:
    """Exact duplicate clusters by content hash: every doc mapped to its
    cluster representative (min doc_id with identical text) + cluster
    size. One shuffle on the 128-bit content hash."""
    hashed = docs.select("doc_id", F.md5("text").alias("content_hash"))
    clusters = hashed.groupBy("content_hash").agg(
        F.min("doc_id").alias("canonical_id"),
        F.count(F.lit(1)).alias("cluster_size"),
    )
    return (hashed.join(clusters, "content_hash")
            .select("doc_id", "canonical_id", "cluster_size"))


def _minhash_signatures_np(src: DataFrame, k: int,
                           has_shingles: bool) -> DataFrame:
    """The signature pass of :func:`minhash_signatures` as a numpy
    batch fold: one Arrow batch -> shingles (Python twin of
    text.TOKENS + SHINGLES when fed raw text), factorize to the
    batch's DISTINCT shingles, md5 once per distinct, turn each
    digest into k uint32 lane keys with byte/nibble arithmetic
    (the 8-hex-char slice at offset (j*5 mod 24) reads nibbles
    o..o+7 of the digest, and lexicographic order over fixed-width
    lowercase hex EQUALS numeric order of that uint32), fold each
    doc's shingles with one minimum.reduceat per batch, and format
    the winning keys back to the identical 8-hex-char strings via
    one hexlify pass. Values equal the DuckDB oracle's osql._SIG
    (pinned by tests/test_functions.py::
    test_minhash_np_engine_matches_expr, including the <3-token,
    empty-text and NULL-text fallbacks)."""
    import pandas as pd

    offs = [(j * 5) % 24 for j in range(k)]

    def fold(batches):
        import hashlib
        from binascii import hexlify

        import numpy as np

        empty = pd.DataFrame({"doc_id": pd.Series([], dtype="int64"),
                              "sig": pd.Series([], dtype=object)})
        for pdf in batches:
            D = len(pdf)
            if D == 0:
                yield empty
                continue
            if has_shingles:
                sh_per = [list(x) if x is not None else []
                          for x in pdf["shingles"]]
            else:
                sh_per = []
                for x in pdf["text"]:
                    if not isinstance(x, str):
                        sh_per.append([None])
                        continue
                    toks = [t for t in x.split(" ") if t]
                    if len(toks) >= 3:
                        sh_per.append([" ".join(toks[i:i + 3])
                                       for i in range(len(toks) - 2)])
                    else:
                        sh_per.append([x])
            lens = np.fromiter((len(s) for s in sh_per), np.int64, D)
            flat = pd.Series([s for doc in sh_per for s in doc],
                             dtype=object)
            codes, vocab = pd.factorize(flat)   # None -> code -1
            V = len(vocab)
            if V:
                dig = np.frombuffer(
                    b"".join(hashlib.md5(s.encode("utf-8")).digest()
                             for s in vocab),
                    np.uint8).reshape(V, 16)
                lanes = np.empty((V + 1, k), np.uint32)
                for j, o in enumerate(offs):
                    b5 = dig[:, o // 2:o // 2 + 5].astype(np.uint64)
                    u40 = ((b5[:, 0] << np.uint64(32))
                           | (b5[:, 1] << np.uint64(24))
                           | (b5[:, 2] << np.uint64(16))
                           | (b5[:, 3] << np.uint64(8)) | b5[:, 4])
                    v = (u40 >> np.uint64(8)) if o % 2 == 0 else \
                        ((u40 >> np.uint64(4))
                         & np.uint64(0xFFFFFFFF))
                    lanes[:V, j] = v.astype(np.uint32)
            else:
                lanes = np.empty((1, k), np.uint32)
            # NULL shingles (code -1) land on the sentinel row and
            # never win a min (array_min ignores NULLs the same way)
            lanes[V, :] = np.uint32(0xFFFFFFFF)
            per_sh = lanes[codes]
            sigs = np.full((D, k), 0xFFFFFFFF, np.uint32)
            nz = lens > 0
            if nz.any():
                starts = (np.cumsum(lens) - lens)[nz]
                sigs[nz] = np.minimum.reduceat(per_sh, starts, axis=0)
            # any doc whose every shingle was NULL (or that had no
            # shingles at all) yields NULL lanes, like array_min
            all_null = lens == 0
            neg = codes < 0
            if neg.any():
                n_null = np.zeros(D, np.int64)
                np.add.at(n_null, np.repeat(np.arange(D), lens), neg)
                all_null |= (lens > 0) & (n_null == lens)
            hexes = np.frombuffer(
                hexlify(np.ascontiguousarray(
                    sigs.astype(">u4")).tobytes()),
                dtype="S8").astype("U8").reshape(D, k)
            out = [None] * D
            for i in range(D):
                out[i] = [None] * k if all_null[i] else list(hexes[i])
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "sig": out})

    return src.mapInPandas(fold,
                           schema="doc_id long, sig array<string>")


def minhash_signatures(docs: DataFrame, k: int = 12,
                       shingle_frame: DataFrame | None = None) -> DataFrame:
    """k-permutation MinHash signature per doc.

    One md5 per shingle; permutation j orders shingles by an 8-hex-char
    slice of that digest at offset (j*5 mod 24) — k near-independent
    orderings for the price of a single digest pass (12x fewer md5
    calls than hashing per permutation; at 100 TB the signature pass is
    the dominant linear cost). The signature element is the
    *lexicographic min* slice — an order statistic, so the DuckDB
    oracle (osql._SIG over osql.SHINGLES) states the same values.

    Pass ``shingle_frame`` (a (doc_id, shingles) frame, typically
    persisted) when shingles are already materialized — multi-signal
    compositions (consensus dedup) tokenize+shingle the corpus once
    and feed BOTH the signature pass and the exact-Jaccard verifier
    from it, instead of re-deriving shingles per signal.

    Runs as the numpy batch fold :func:`_minhash_signatures_np`."""
    from .text import spread
    if shingle_frame is not None:
        src, has = shingle_frame.select("doc_id", "shingles"), True
    else:
        src, has = spread(docs).select("doc_id", "text"), False
    return _minhash_signatures_np(src, k, has)


def minhash_lsh_pairs(docs: DataFrame, k: int = 12, bands: int = 4,
                      max_bucket_size: int | None = None,
                      shingle_frame: DataFrame | None = None) -> DataFrame:
    """Candidate near-duplicate pairs via banded LSH + exact-signature
    similarity estimate (fraction of agreeing minhashes).

    rows-per-band r = k/bands; collision threshold ~ (1/bands)^(1/r).
    Per-(band, bucket) membership is capped (see cap_buckets) so a
    massively duplicated doc cannot produce a quadratic bucket.
    """
    # materialize signatures once: the band explode and both sides of
    # the candidate join reuse them (at 100 TB you persist signatures
    # to a table instead).
    sigs = managed_persist(minhash_signatures(docs, k,
                                              shingle_frame=shingle_frame))
    # the bucket stream stays NARROW (doc_id, band, bucket): the cap
    # window and the self-join shuffle 3 small columns, never the
    # signature arrays — those rejoin per PAIR afterwards (pairs are
    # orders of magnitude fewer than bucket memberships).
    exploded = _band_buckets_from_sigs(sigs, k, bands)
    exploded = managed_persist(
        cap_buckets(exploded, ["band", "bucket"], max_bucket_size))
    a = exploded.alias("a")
    b = exploded.alias("b")
    pairs = (a.join(b, (F.col("a.band") == F.col("b.band"))
                    & (F.col("a.bucket") == F.col("b.bucket"))
                    & (F.col("a.doc_id") < F.col("b.doc_id")))
             .select(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b"))
             .dropDuplicates(["doc_a", "doc_b"]))
    sa = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    pairs = pairs.join(sa, "doc_a").join(sb, "doc_b")
    est = (f"CAST(size(filter(sequence(0, {k - 1}), j -> sig_a[j] = sig_b[j])) AS DOUBLE)"
           f" / CAST({k} AS DOUBLE)")
    return pairs.select("doc_a", "doc_b", F.expr(est).alias("est_jaccard"))


SIMHASH_BITS = 64


def _simhash_np(docs: DataFrame) -> DataFrame:
    """The vote fold of :func:`simhash` as a numpy batch fold: one
    Arrow batch -> tokenize (same space-split as text.TOKENS),
    factorize to the batch's DISTINCT vocabulary, md5 once per
    distinct token, turn the 16-byte digests into a (vocab, 64) +-1
    bit-vote matrix with nibble shifts, and fold each doc's occurrence
    counts through it with one reduceat group-sum. Values equal the
    DuckDB oracle's osql._SIMHASH; NULL text, like empty text, has no
    token and hashes to 64 zeros
    (tests/test_functions.py::test_simhash_np_engine_matches_expr).

    Scale shape: map-only (zero shuffle); per-batch memory is bounded
    by chunking the vote columns (16 at a time), so a dense batch
    never materializes pairs x 64 int64."""
    import pandas as pd

    from .text import spread

    def fold(batches):
        import hashlib

        import numpy as np

        for pdf in batches:
            D = len(pdf)
            if D == 0:
                yield pd.DataFrame({"doc_id": pd.Series([], dtype="int64"),
                                    "simhash": pd.Series([], dtype=object)})
                continue
            toks_per = [
                [t for t in x.split(" ") if t]
                if isinstance(x, str) else []
                for x in pdf["text"]]
            lens = np.fromiter((len(t) for t in toks_per), np.int64, D)
            doc_of = np.repeat(np.arange(D), lens)
            codes, vocab = pd.factorize(pd.Series(
                [t for toks in toks_per for t in toks], dtype=object))
            V = len(vocab)
            sums = np.zeros((D, SIMHASH_BITS), np.int64)
            if V:
                dig = np.frombuffer(
                    b"".join(hashlib.md5(t.encode("utf-8")).digest()
                             for t in vocab),
                    np.uint8).reshape(V, 16)
                nib = np.empty((V, 32), np.uint8)
                nib[:, 0::2] = dig >> 4          # hex digit 2i
                nib[:, 1::2] = dig & 0x0F        # hex digit 2i+1
                votes = np.empty((V, SIMHASH_BITS), np.int8)
                votes[:, :32] = (nib >> 3) & 1   # digit's top bit
                votes[:, 32:] = (nib >> 2) & 1   # digit's second bit
                votes = votes * np.int8(2) - np.int8(1)
                # one row per DISTINCT (doc, token) with its count
                key = doc_of * np.int64(V) + codes
                uniq, counts = np.unique(key, return_counts=True)
                d_of = uniq // V
                c_of = uniq % V
                starts = np.flatnonzero(
                    np.r_[True, d_of[1:] != d_of[:-1]])
                docs_present = d_of[starts]
                counts32 = counts.astype(np.int32)[:, None]
                for lo in range(0, SIMHASH_BITS, 16):
                    contrib = votes[c_of, lo:lo + 16] * counts32
                    sums[docs_present, lo:lo + 16] = \
                        np.add.reduceat(contrib, starts, axis=0)
            chars = np.where(sums > 0, "1", "0").astype("U1")
            bits = np.ascontiguousarray(chars) \
                .view(f"U{SIMHASH_BITS}").ravel().astype(object)
            yield pd.DataFrame({"doc_id": pdf["doc_id"],
                                "simhash": bits})

    return (spread(docs).select("doc_id", "text")
            .mapInPandas(fold, schema="doc_id long, simhash string"))


def simhash(docs: DataFrame) -> DataFrame:
    """64-bit SimHash over word unigrams: bit p is the sign of the sum
    of +-1 votes, where token t votes by bit p of its md5 fingerprint,
    two bits per hex digit: bits 1..32 are each digit's top bit
    (digit >= '8'), bits 33..64 each digit's second bit (digit & 4).
    Emitted as a '0'/'1' string, the form the DuckDB oracle
    (osql.DEDUP_SIMHASH) states.

    64 bits (not 32) so the banded candidate keys in simhash_pairs have
    a 16-bit (65536-way) keyspace per chunk — at corpus scale a 256-way
    key would collapse into O(n^2/256) candidate pairs.

    Shape: ZERO-SHUFFLE map-only numpy batch fold
    (:func:`_simhash_np`): md5 runs once per DISTINCT token of a batch
    and the vote fold is one reduceat, so at 100 TB it scales with
    executor count with no network at all."""
    return _simhash_np(docs)


def simhash_pairs(docs: DataFrame, max_hamming: int = 6,
                  max_bucket_size: int | None = None) -> DataFrame:
    """Near-dup candidates: docs sharing any of the four 16-bit simhash
    chunks (pigeonhole guarantee for hamming <= 3; wider distances are
    still *candidates*), filtered to hamming <= max_hamming.

    Scale shape: the join key is (chunk, 16-bit pattern) — a 4 x 65536
    keyspace, so bucket sizes shrink with corpus diversity instead of
    saturating at 256 buckets the way 8-bit chunks would."""
    return banded_hamming_pairs(simhash(docs), "simhash",
                                bits=SIMHASH_BITS,
                                max_hamming=max_hamming,
                                max_bucket_size=max_bucket_size)


def banded_hamming_pairs(fps: DataFrame, fp_col: str,
                         bits: int = 64, max_hamming: int = 6,
                         max_bucket_size: int | None = None) -> DataFrame:
    """Banded candidate pairing over ANY '0'/'1' fingerprint column
    (simhash, byte-level phash, ...): docs sharing any 16-bit chunk
    pair up, filtered to hamming <= max_hamming.

    The binary string splits into 32-bit words once per doc (widths
    derived from ``bits``, so a wider fingerprint stays correct);
    per-PAIR hamming is then one xor + popcount per word instead of
    ``bits`` substring compares, and the candidate join carries
    8 bytes per word instead of the full character string — at
    fixture density (5k docs -> 530k candidates) that per-pair cost
    dominates the operator."""
    n_words = bits // 32
    n_chunks = bits // 16
    word_cols = [
        F.expr(f"CAST(conv(substring({fp_col}, {i * 32 + 1}, 32), 2, 10) "
               f"AS BIGINT)").alias(f"w{i}")
        for i in range(n_words)]
    chunks = fps.select(
        "doc_id", *word_cols,
        F.explode(F.expr(
            f"transform(sequence(0, {n_chunks - 1}), c -> "
            f"named_struct('chunk', c, 'key', "
            f"substring({fp_col}, c * 16 + 1, 16)))"
        )).alias("ck"))
    chunks = chunks.select("doc_id", *[f"w{i}" for i in range(n_words)],
                           F.col("ck.chunk").alias("chunk"),
                           F.col("ck.key").alias("key"))
    chunks = cap_buckets(chunks, ["chunk", "key"], max_bucket_size)
    chunks = managed_persist(chunks)
    a, b = chunks.alias("a"), chunks.alias("b")
    hamming = " + ".join(f"bit_count(a.w{i} ^ b.w{i})"
                         for i in range(n_words))
    # hamming filters BEFORE the distinct: it is pair-functional, so
    # filter-then-dedup equals dedup-then-filter with fewer rows kept
    return (a.join(b, (F.col("a.chunk") == F.col("b.chunk"))
                   & (F.col("a.key") == F.col("b.key"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .withColumn("hamming", F.expr(hamming))
            .filter(F.col("hamming") <= max_hamming)
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"), "hamming")
            .dropDuplicates(["doc_a", "doc_b"]))


def ngram_jaccard_pairs(docs: DataFrame, threshold: float = 0.5,
                        candidates: DataFrame | None = None,
                        shingle_frame: DataFrame | None = None) -> DataFrame:
    """Exact word-3-gram Jaccard verification over the banded-LSH
    candidate pairs — the exact-verifier layered on minhash_lsh_pairs.

    Candidates come from the banded LSH join (bounded bucket sizes),
    NOT from a single global-minhash bucket: near-duplicate-heavy
    corpora share one global min shingle and would collapse into a
    single quadratic bucket with one straggler task.

    Pass ``candidates`` (a (doc_a, doc_b) frame) when the LSH pairs
    are already materialized — multi-signal compositions reuse one
    signature build instead of recomputing it here. Pass
    ``shingle_frame`` (a persisted (doc_id, shingles) frame) to skip
    the tokenize+shingle pass too."""
    cand = (candidates if candidates is not None
            else minhash_lsh_pairs(docs)).select("doc_a", "doc_b")
    sh = (shingle_frame.select("doc_id", "shingles")
          if shingle_frame is not None
          else managed_persist(with_shingles(docs)
                               .select("doc_id", "shingles")))
    a, b = sh.alias("a"), sh.alias("b")
    pairs = (cand
             .join(a, F.col("doc_a") == F.col("a.doc_id"))
             .join(b, F.col("doc_b") == F.col("b.doc_id"))
             .select("doc_a", "doc_b",
                     F.col("a.shingles").alias("sh_a"),
                     F.col("b.shingles").alias("sh_b")))
    inter = "size(array_intersect(sh_a, sh_b))"
    union = "size(array_distinct(sh_a)) + size(array_distinct(sh_b)) - size(array_intersect(sh_a, sh_b))"
    jac = f"CAST({inter} AS DOUBLE) / CAST({union} AS DOUBLE)"
    return (pairs.withColumn("jaccard", F.expr(jac))
                 .filter(F.col("jaccard") >= threshold)
                 .select("doc_a", "doc_b", "jaccard"))


def incremental_dedup(new_docs: DataFrame, seen: DataFrame,
                      k: int = 12, bands: int = 4) -> DataFrame:
    """Incremental-ingest dedup: drop new documents that duplicate the
    EXISTING corpus — exact (content hash) or near (any shared MinHash
    band bucket) — and dedup the new batch against itself exactly.
    Returns surviving (doc_id, content_hash) rows.

    This is the shape a continuously-growing corpus actually runs:
    the historical side is a pre-computed index (hashes + band
    buckets, persisted corpus-side), so each increment joins two
    SMALL-key indexes instead of re-deduping the whole corpus.

    Scale: both joins key on high-entropy hashes (uniform); the
    historical index is read-only and partition-pruned by bucket at
    real scale. No pairwise work at all — membership tests only.
    """
    new_hashed = (new_docs
                  .select("doc_id", F.md5("text").alias("content_hash")))
    seen_hashed = seen.select(F.md5("text").alias("content_hash"))
    # exact: drop if hash exists in the corpus; in-batch keep min id
    survivors = (new_hashed
                 .join(seen_hashed.distinct(), "content_hash", "left_anti"))
    w_batch = (survivors.groupBy("content_hash")
               .agg(F.min("doc_id").alias("doc_id")))
    exact_ok = w_batch.select("doc_id", "content_hash")
    # near: any shared band bucket with the historical index
    new_bands = _band_buckets(new_docs, k, bands)
    seen_bands = _band_buckets(seen, k, bands).select("band", "bucket")
    near_dups = (new_bands
                 .join(seen_bands.distinct(), ["band", "bucket"],
                       "left_semi")
                 .select("doc_id").distinct())
    return exact_ok.join(near_dups, "doc_id", "left_anti")


def _band_buckets(docs: DataFrame, k: int = 12,
                  bands: int = 4) -> DataFrame:
    """(doc_id, band, bucket) banded MinHash index rows — the
    persisted per-corpus index incremental_dedup joins against."""
    return _band_buckets_from_sigs(minhash_signatures(docs, k), k, bands)


def _band_buckets_from_sigs(sigs: DataFrame, k: int = 12,
                            bands: int = 4) -> DataFrame:
    """THE banded bucket-key construction (md5 over concatenated
    per-band signature slices) — single implementation shared by
    minhash_lsh_pairs and the incremental-dedup index so the oracle
    band keys can never diverge between them."""
    r = k // bands
    return (sigs.withColumn(
        "bb", F.explode(F.expr(
            f"transform(sequence(0, {bands - 1}), b -> "
            f"named_struct('band', b, 'key', md5(concat("
            + ", ".join(f"sig[b * {r} + {i}]" for i in range(r))
            + "))))")))
        .select("doc_id", F.col("bb.band").alias("band"),
                F.col("bb.key").alias("bucket")))


def containment_pairs(docs: DataFrame, threshold: float = 0.8,
                      k: int = 12, bands: int = 4) -> DataFrame:
    """Asymmetric containment over the banded-LSH candidates:
    containment(A in B) = |shingles(A) ∩ shingles(B)| / |shingles(A)|
    — near 1.0 when A is quoted/embedded inside B even though their
    Jaccard is low (the partial-copy case symmetric dedup misses).
    Emits candidate pairs with containment in EITHER direction >=
    ``threshold``: (doc_a, doc_b, n_common, containment_a_in_b,
    containment_b_in_a).

    Scale: same banded candidate generation as minhash_lsh_pairs
    (never all-pairs); the exact set intersection runs per PAIR on
    the two shingle arrays."""
    sigs = managed_persist(minhash_signatures(docs, k))
    exploded = managed_persist(_band_buckets_from_sigs(sigs, k, bands))
    a, b = exploded.alias("a"), exploded.alias("b")
    cand = (a.join(b, (F.col("a.band") == F.col("b.band"))
                   & (F.col("a.bucket") == F.col("b.bucket"))
                   & (F.col("a.doc_id") < F.col("b.doc_id")))
            .select(F.col("a.doc_id").alias("doc_a"),
                    F.col("b.doc_id").alias("doc_b"))
            .dropDuplicates(["doc_a", "doc_b"]))
    sh = (with_shingles(docs)
          .select("doc_id",
                  F.expr("array_distinct(shingles)").alias("shset")))
    sa = sh.select(F.col("doc_id").alias("doc_a"),
                   F.col("shset").alias("sh_a"))
    sb = sh.select(F.col("doc_id").alias("doc_b"),
                   F.col("shset").alias("sh_b"))
    common = "size(array_intersect(sh_a, sh_b))"
    out = (cand.join(sa, "doc_a").join(sb, "doc_b")
           .select(
               "doc_a", "doc_b",
               F.expr(common).alias("n_common"),
               F.expr(f"CAST({common} AS DOUBLE) / "
                      f"CAST(size(sh_a) AS DOUBLE)")
                .alias("containment_a_in_b"),
               F.expr(f"CAST({common} AS DOUBLE) / "
                      f"CAST(size(sh_b) AS DOUBLE)")
                .alias("containment_b_in_a")))
    return out.filter((F.col("containment_a_in_b") >= threshold)
                      | (F.col("containment_b_in_a") >= threshold))


def duplicate_spans(docs: DataFrame, w: int = 16, min_count: int = 2,
                    keep_first: bool = True) -> DataFrame:
    """Exact duplicated-substring spans at fixed window granularity —
    the suffix-array dedup semantics of Lee et al. 2022
    ("Deduplicating Training Data Makes Language Models Better",
    arXiv:2107.06499), restated for a shuffle-friendly engine: every
    ``w``-token window whose exact token sequence occurs at least
    ``min_count`` times corpus-wide (within- AND cross-document
    occurrences both count) marks its positions; overlapping-or-
    adjacent marks then merge into maximal duplicated spans
    ``[span_start, span_end]`` (0-based inclusive token indices).
    A true duplicated passage of length L >= w is recovered exactly
    (all its L-w+1 windows collide); nothing shorter than w tokens is
    ever flagged — the same guarantee the suffix-array formulation
    gives for its minimum match length.

    ``keep_first=True`` leaves the globally-first occurrence of each
    duplicated window (min (doc_id, pos)) unmarked, so stripping the
    returned spans removes all-but-one copy of every passage —
    the paper's dedup policy. ``False`` marks every occurrence.

    Scale: the window table carries (doc_id, pos, 128-bit hash) only,
    never text. Duplicate detection is one groupBy on the window hash
    (map-side combinable); keep_first ranks within the same hash key
    (same shuffle partitioning, no extra exchange class); the interval
    merge windows per doc_id. No self-join and no all-pairs work
    anywhere, so a pathological passage repeated 10^6 times costs
    O(occurrences), not O(occurrences^2).
    """
    occ = _window_occurrences(docs, w)
    dup = (occ.groupBy("whash")
           .agg(F.count(F.lit(1)).alias("n_occ"))
           .filter(F.col("n_occ") >= min_count)
           .select("whash"))
    marked = occ.join(dup, "whash")
    if keep_first:
        w_first = Window.partitionBy("whash").orderBy("doc_id", "pos")
        marked = (marked.withColumn("_rk", F.row_number().over(w_first))
                  .filter(F.col("_rk") > 1))
    return _merge_marked_spans(marked, w)


def _window_occurrences(docs: DataFrame, w: int) -> DataFrame:
    """(doc_id, pos, md5-of-w-token-window) occurrence table — the
    shared first stage of duplicate_spans and decontaminate_spans."""
    from .text import with_tokens
    wins_expr = (
        f"CASE WHEN size(toks) >= {w} THEN "
        f"transform(sequence(0, size(toks) - {w}), "
        f"i -> md5(concat_ws(' ', slice(toks, i + 1, {w})))) "
        f"ELSE cast(array() AS array<string>) END"
    )
    return (with_tokens(docs)
            .select("doc_id",
                    F.posexplode(F.expr(wins_expr)).alias("pos", "whash")))


def _merge_marked_spans(marked: DataFrame, w: int) -> DataFrame:
    """Merge marked window positions (doc_id, pos; each covering
    [pos, pos+w-1]) into maximal overlapping-or-adjacent spans.
    One window partitioning per doc_id — the classic island merge."""
    w_prev = (Window.partitionBy("doc_id").orderBy("pos")
              .rowsBetween(Window.unboundedPreceding, -1))
    w_ord = Window.partitionBy("doc_id").orderBy("pos")
    isl = (marked.select("doc_id", "pos")
           .withColumn("prev_end", F.max("pos").over(w_prev) + (w - 1))
           .withColumn("is_new",
                       F.when(F.col("prev_end").isNull()
                              | (F.col("pos") > F.col("prev_end") + 1), 1)
                        .otherwise(0))
           .withColumn("island", F.sum("is_new").over(w_ord)))
    return (isl.groupBy("doc_id", "island")
            .agg(F.min("pos").alias("span_start"),
                 (F.max("pos") + (w - 1)).alias("span_end"),
                 F.count(F.lit(1)).alias("n_windows"))
            .select("doc_id", "span_start", "span_end", "n_windows"))


def decontaminate_spans(corpus: DataFrame, bench: DataFrame,
                        w: int = 16) -> DataFrame:
    """Surgical benchmark decontamination: where
    ``curation.contamination`` flags and drops any document sharing a
    shingle with the held-out set, this removes ONLY the overlapping
    passages — every corpus window whose exact w-token sequence occurs
    anywhere in ``bench`` is marked and merged into maximal spans,
    ready for ``strip_spans``. The rest of the document survives, so
    a news article quoting one benchmark question loses the quote, not
    the article — the span-level policy frontier pipelines use when
    whole-doc dropping is too lossy.

    Scale: bench window hashes are a DISTINCT projection of the
    held-out set (benchmark-sized, usually broadcastable — Spark
    auto-broadcasts under the threshold; the join degrades to a
    hash-shuffle join on whash when bench outgrows it). The corpus
    side carries (doc_id, pos, hash) only."""
    bench_wins = (_window_occurrences(bench, w)
                  .select("whash").distinct())
    marked = _window_occurrences(corpus, w).join(bench_wins, "whash")
    return _merge_marked_spans(marked, w)


def strip_spans(docs: DataFrame, spans: DataFrame) -> DataFrame:
    """Rebuild each document with every token inside a duplicated span
    removed (companion to ``duplicate_spans``; with its default
    keep_first=True this deletes all-but-one copy of each passage).
    Zero extra shuffle beyond the doc_id span rollup: spans collapse
    to one array per doc, join back on doc_id, and the token filter is
    a Catalyst lambda over (token, index)."""
    span_arr = (spans.groupBy("doc_id")
                .agg(F.sort_array(
                    F.collect_list(F.struct("span_start", "span_end")))
                    .alias("_spans")))
    from .text import with_tokens
    # materialize the kept-token array ONCE: Spark skips common-
    # subexpression elimination for lambda expressions, so inlining
    # the filter into both outputs would pay the O(tokens x spans)
    # exists() scan twice per document
    return (with_tokens(docs).join(span_arr, "doc_id", "left")
            .withColumn("_kept", F.expr(
                "filter(toks, (t, i) -> _spans IS NULL OR "
                "NOT exists(_spans, s -> i >= s.span_start "
                "AND i <= s.span_end))"))
            .select("doc_id",
                    F.expr("concat_ws(' ', _kept)").alias("clean_text"),
                    F.expr("size(toks) - size(_kept)")
                     .alias("n_dup_tokens")))


def lsh_calibration(docs: DataFrame, k: int = 12, bands: int = 4,
                    threshold_micro: int = 500_000) -> DataFrame:
    """LSH calibration report — the tuning telemetry for the
    bands/rows trade-off: for every candidate pair, the exact
    word-3-gram Jaccard, rolled up per signature-agreement level
    (n_agree of k minhashes). Read it as "at agreement level a, the
    banded index surfaced n_pairs candidates of which n_true are real
    near-dups (exact >= threshold)" — precision per level tells you
    whether to add bands (recall) or rows-per-band (precision)
    without re-running dedup.

    All-integer outputs (jaccard micro-quantized via integer
    division before any aggregation) — engine-exact. Same bounded
    candidate generation as minhash_lsh_pairs; the exact-verify join
    touches only candidate pairs, never all pairs."""
    cand = minhash_lsh_pairs(docs, k, bands)
    sh = managed_persist(with_shingles(docs).select("doc_id", "shingles"))
    a, b = sh.alias("a"), sh.alias("b")
    pairs = (cand
             .join(a, F.col("doc_a") == F.col("a.doc_id"))
             .join(b, F.col("doc_b") == F.col("b.doc_id"))
             .select("doc_a", "doc_b", "est_jaccard",
                     F.col("a.shingles").alias("sh_a"),
                     F.col("b.shingles").alias("sh_b")))
    inter = "size(array_intersect(sh_a, sh_b))"
    union = ("size(array_distinct(sh_a)) + size(array_distinct(sh_b)) "
             f"- {inter}")
    scored = (pairs
              .withColumn("n_agree",
                          F.expr(f"CAST(round(est_jaccard * {k}) AS INT)"))
              .withColumn("jac_micro",
                          F.expr(f"(CAST({inter} AS BIGINT) * 1000000) "
                                 f"DIV ({union})")))
    return (scored.groupBy("n_agree")
            .agg(F.count(F.lit(1)).alias("n_pairs"),
                 F.sum(F.when(F.col("jac_micro") >= threshold_micro, 1)
                        .otherwise(0)).alias("n_true"),
                 F.sum("jac_micro").alias("_jsum"))
            .select("n_agree", "n_pairs", "n_true",
                    F.expr("(n_true * 1000000) DIV n_pairs")
                     .alias("precision_micro"),
                    F.expr("_jsum DIV n_pairs")
                     .alias("mean_jaccard_micro")))


def _bloom_positions(hash_col: str, m_bits: int, k_hashes: int) -> str:
    """Array of k deterministic Bloom bit positions for a content
    hash: position_i = int(md5(hash || '#i')[:8 hex]) mod m. Pure
    md5/conv arithmetic so the DuckDB oracle reproduces every bit."""
    return ("array(" + ", ".join(
        f"CAST(conv(substring(md5(concat({hash_col}, '#', '{i}')), 1, 8),"
        f" 16, 10) AS BIGINT) % {m_bits}"
        for i in range(k_hashes)) + ")")


def bloom_membership(new_docs: DataFrame, seen: DataFrame,
                     m_bits: int = 1 << 20,
                     k_hashes: int = 4) -> DataFrame:
    """Bloom-filter membership pre-filter for incremental ingest: the
    approximate-membership stage that lets a 100 TB corpus answer
    "definitely new?" without shuffling itself.

    Build: the seen corpus's content hashes each set k bit positions;
    the filter is the DISTINCT set of positions (<= m_bits rows — a
    few MB regardless of corpus size), broadcast to every executor.
    Probe: a new doc is `maybe_seen` iff ALL k of its positions are
    set. Only the bloom-positive minority reaches the exact-membership
    semi-join (the expensive corpus-side lookup incremental_dedup
    runs); the definitely-new majority skips it entirely — no false
    negatives by construction, so nothing new is ever misdropped.

    Returns per new doc: (doc_id, content_hash, maybe_seen,
    seen_exact, false_positive). false_positive quantifies the m/k
    sizing: expected rate ~= (1 - e^(-k*n/m))^k.

    Scale: the filter build is one map-side-combinable distinct over
    hashes; the probe is a broadcast join (positions set is bounded by
    m_bits, independent of corpus size); the exact check touches only
    bloom-positive rows. Mirrors the reference's checkpoint-membership
    idea (pump storage dedups binlog items by ts key before sort,
    pump/storage.go) lifted to corpus scale."""
    pos = _bloom_positions("content_hash", m_bits, k_hashes)
    new_h = new_docs.select("doc_id", F.md5("text").alias("content_hash"))
    # seen_h feeds the filter build AND the exact semi-join; verdicts
    # feeds the exact check AND the final join — persist both so the
    # corpus is hashed once and the probe aggregate runs once
    seen_h = managed_persist(
        seen.select(F.md5("text").alias("content_hash")).distinct())
    bloom_bits = (seen_h
                  .select(F.explode(F.expr(pos)).alias("pos")).distinct()
                  .withColumn("is_set", F.lit(1)))
    probes = (new_h
              .select("doc_id", "content_hash",
                      F.explode(F.expr(pos)).alias("pos")))
    verdicts = managed_persist(
        probes
        .join(F.broadcast(bloom_bits), "pos", "left")
        .groupBy("doc_id", "content_hash")
        .agg((F.sum(F.when(F.col("is_set").isNull(), 1)
                    .otherwise(0)) == 0).alias("maybe_seen")))
    # exact check ONLY for bloom-positive rows — the production shape
    exact_hits = (verdicts.filter(F.col("maybe_seen"))
                  .join(seen_h, "content_hash", "left_semi")
                  .select("doc_id").withColumn("hit", F.lit(True)))
    return (verdicts
            .join(exact_hits, "doc_id", "left")
            .select("doc_id", "content_hash", "maybe_seen",
                    F.coalesce(F.col("hit"), F.lit(False))
                     .alias("seen_exact"))
            .withColumn("false_positive",
                        F.col("maybe_seen") & ~F.col("seen_exact")))


def lsh_accuracy(docs: DataFrame, threshold_ppm: int = 500_000,
                 df_cap: int = 20, min_shared: int = 3) -> DataFrame:
    """Empirical precision/recall of the banded MinHash-LSH detector
    against an INDEPENDENT exact-Jaccard ground truth — the measured
    complement of dedup_lsh_calibration's theoretical S-curve. Truth
    candidates come from the rare-shingle graph (pairs sharing a
    shingle with document frequency <= ``df_cap`` — a different,
    bounded candidate generator than the banded buckets), then exact
    word-3-gram Jaccard >= threshold decides membership; predictions
    are the LSH pairs whose signature-agreement estimate crosses the
    same threshold. Because the two candidate generators differ, both
    precision AND recall are informative (truth is not a subset of
    predictions).

    All memberships are integer-exact: the estimate threshold is
    ceil(threshold * k) signature agreements, Jaccard is floor-ppm —
    both engines compute identical sets, so the REPORTED precision
    and recall are oracle-checked numbers, not approximations.

    Scale: both candidate generators are bounded (banded buckets with
    caps; rare shingles with df <= cap), and truth candidates need
    ``min(min_shared, |rare_a|, |rare_b|)`` distinct shared rare
    shingles (multi-witness rule, capped by each doc's RARE-shingle
    count — what the pair can possibly share as witnesses — so
    identical tiny docs AND docs whose shingles are mostly above
    df_cap stay candidates): a J >= 0.5 pair of normal-length docs
    with rare shingles to spare shares many of them, so
    single-witness pairs are noise that only inflate the exact-J
    verify — measured at sf0.1, min_shared 1 -> 3 cuts candidates
    1.12M -> 10k with the truth set bit-identical (256 pairs at every
    witness count 1..4). Note the truth DEFINITION has always been
    candidate-bounded (a pair sharing only common df > df_cap
    shingles never entered it), so the reported recall is recall
    against THIS generator's truth: at heavy replication a fixed
    df_cap shrinks the rare set and with it the measurable truth —
    interpret cross-scale recall_ppm with that in mind, or raise
    df_cap with the replication factor. min_shared tightens the same
    generator, it does not introduce the bound. The exact-J verify
    joins shingle sets only for candidate pairs. One output row.
    """
    base = docs.select("doc_id", "text")
    # ONE tokenize+shingle pass feeds everything (r13 opt 2): the
    # per-doc DISTINCT shingle array is the shared representation —
    # sizes are size(shingles) (no groupBy), the exploded stream is a
    # cheap in-cache projection feeding the rare-df aggregate and the
    # candidate self-join, the exact-J intersection is
    # array_intersect over the 10k candidate pairs (no second
    # explode-join+groupBy), and the LSH pred side reuses the SAME
    # frame via minhash_lsh_pairs(shingle_frame=...) instead of
    # re-tokenizing the corpus. array_distinct per row replaces the
    # explode+DISTINCT exchange; minhash signatures are invariant to
    # duplicate shingles (min over a multiset == min over its set).
    # Eager materialization in dependency order so no two branches
    # race the cold cache (the dedup_consensus convoy, r13).
    shf = managed_persist(
        with_shingles(base)
        .select("doc_id", F.array_distinct("shingles").alias("shingles")))
    shf.count()
    sh = shf.select("doc_id", F.explode("shingles").alias("sh"))
    sizes = shf.select("doc_id", F.size("shingles").alias("n_sh"))
    rare = (sh.groupBy("sh").agg(F.count(F.lit(1)).alias("df"))
            .filter(F.col("df") <= df_cap).select("sh"))
    rsh = managed_persist(sh.join(rare, "sh"))
    rsh.count()
    # witness requirement capped by what the pair can POSSIBLY share
    # *as witnesses*: witnesses are RARE shingles only, so the cap is
    # each doc's RARE-shingle count (not its total shingle count — a
    # true pair whose docs each carry fewer than min_shared rare
    # shingles, e.g. when duplication pushes shared shingles past
    # df_cap, must stay a candidate; capping by the total count
    # silently dropped exactly those pairs). A doc with ZERO rare
    # shingles never appears in rsh — that bound is the candidate
    # generator's own definition (unchanged since r1), and it is why
    # df_cap is a TRUTH-DEFINITION knob: at heavy replication the
    # fixed cap shrinks the rare set and with it the measurable truth
    # (the reported recall is recall AGAINST THIS GENERATOR's truth;
    # min_shared>1 narrows it further by design — verified
    # truth-bit-identical at sf0.1).
    rsizes = rsh.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_rsh"))
    cand = (rsh.alias("a")
            .join(rsh.alias("b"),
                  (F.col("a.sh") == F.col("b.sh"))
                  & (F.col("a.doc_id") < F.col("b.doc_id")))
            .groupBy(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b"))
            .agg(F.count(F.lit(1)).alias("n_shared"))
            .join(rsizes.select(F.col("doc_id").alias("doc_a"),
                                F.col("n_rsh").alias("w_a")), "doc_a")
            .join(rsizes.select(F.col("doc_id").alias("doc_b"),
                                F.col("n_rsh").alias("w_b")), "doc_b")
            .filter(F.col("n_shared") >= F.greatest(
                F.lit(1), F.least(F.lit(min_shared),
                                  F.col("w_a"), F.col("w_b"))))
            .select("doc_a", "doc_b"))
    inter = (cand
             .join(shf.select(F.col("doc_id").alias("doc_a"),
                              F.col("shingles").alias("sh_a")), "doc_a")
             .join(shf.select(F.col("doc_id").alias("doc_b"),
                              F.col("shingles").alias("sh_b")), "doc_b")
             .select("doc_a", "doc_b",
                     F.size(F.array_intersect("sh_a", "sh_b"))
                      .alias("n_inter")))
    # truth and pred each feed two consumers (their own count and the
    # tp join); the tiny pair frames persist so neither pipeline runs
    # twice across the crossJoin'd aggregate branches
    truth = managed_persist(
        inter
        .join(sizes.select(F.col("doc_id").alias("doc_a"),
                           F.col("n_sh").alias("n_a")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"),
                           F.col("n_sh").alias("n_b")), "doc_b")
        .filter(F.expr(
            "(n_inter * 1000000) DIV (n_a + n_b - n_inter) "
            f">= {threshold_ppm}"))
        .select("doc_a", "doc_b"))
    k = 12
    min_agree = -((-threshold_ppm * k) // 1_000_000)  # ceil
    pred = managed_persist(
        minhash_lsh_pairs(docs, k=k, shingle_frame=shf)
        .filter(F.expr(
            f"CAST(round(est_jaccard * {k}) AS BIGINT) "
            f">= {min_agree}"))
        .select("doc_a", "doc_b"))
    tp = pred.join(truth, ["doc_a", "doc_b"])
    counts = (pred.agg(F.count(F.lit(1)).alias("n_pred"))
              .crossJoin(truth.agg(F.count(F.lit(1)).alias("n_truth")))
              .crossJoin(tp.agg(F.count(F.lit(1)).alias("n_tp"))))
    return counts.select(
        "n_pred", "n_truth", "n_tp",
        F.expr("CASE WHEN n_pred > 0 THEN (n_tp * 1000000) DIV n_pred "
               "END").alias("precision_ppm"),
        F.expr("CASE WHEN n_truth > 0 THEN (n_tp * 1000000) DIV n_truth "
               "END").alias("recall_ppm"))
