"""Multimodal column plumbing: opaque binary payloads + typed metadata,
processed by Arrow-batched pandas functions via mapInPandas.

Design for image/audio/video at 100 TB:
- the payload is an opaque BinaryType column (never parsed by Catalyst);
- decode / feature-extract / frame-sample run as mapInPandas
  over Arrow batches — Python touches each batch once, vectorized;
- partitioning is by payload size bucket so batches stay memory-bounded
  (a 4 KB thumbnail and a 4 GB video never share a task's batch budget).

The actual codecs (PIL/ffmpeg/...) are NOT in this container, so
``decode_stub`` produces a deterministic fake "decode" (documented
below) behind the same schema/batching as a real decoder would use —
the Spark-side plumbing (schema, UDF signature, batch shape) is real
and tested.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from .. import session

DECODE_META_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("n_bytes", T.LongType()),
    T.StructField("header_hex", T.StringType()),
    T.StructField("content_md5", T.StringType()),
    T.StructField("fake_width", T.LongType()),
    T.StructField("fake_height", T.LongType()),
])


def as_binary_payload(docs: DataFrame) -> DataFrame:
    """Model an opaque media blob: the document text bytes stand in for
    an image/audio payload (BinaryType), with doc_id as the asset key."""
    from .text import spread
    return spread(docs).select("doc_id", F.encode("text", "UTF-8").alias("payload"))


def size_bucketed(payloads: DataFrame) -> DataFrame:
    """Repartition payloads so each task holds blobs of one size class and
    roughly ``session.ADVISORY_PARTITION_BYTES`` (read at call time) of
    them — a 4 KB thumbnail and a 4 GB video never share a task's Arrow
    batch budget, and one huge size class fans out over many partitions
    instead of one straggler.

    Two-phase: (1) a tiny per-class aggregate (size class =
    floor(log2(n_bytes))) totals the bytes per class; (2) the driver
    turns totals into a salt width per class (ceil(total/target)) and
    the stream repartitions by (class, hash-salt). The aggregate
    shuffles one row per class, the data moves exactly once.
    """
    sized = payloads.withColumn(
        "_sz", F.length(F.col("payload")).cast("long"))
    sized = sized.withColumn(
        "_cls", F.floor(F.log2(F.greatest(F.col("_sz"), F.lit(1)))))
    totals = {r["_cls"]: r["total"]
              for r in sized.groupBy("_cls")
                            .agg(F.sum("_sz").alias("total")).collect()}
    target = session.ADVISORY_PARTITION_BYTES
    salts = {cls: max(1, -(-int(total) // target))
             for cls, total in totals.items()}
    salt_expr = F.lit(1)
    for cls, n in salts.items():
        salt_expr = F.when(F.col("_cls") == cls, F.lit(n)).otherwise(salt_expr)
    n_parts = max(1, sum(salts.values()))
    # range-partition on (class, salt): each ~target-sized slice gets
    # its own partition (hash repartition would merge slices whenever
    # two (class, salt) keys collide mod n_parts, stacking stragglers)
    return (sized
            .withColumn("_salt", F.pmod(F.hash("doc_id"), salt_expr))
            .repartitionByRange(n_parts, "_cls", "_salt")
            .drop("_sz", "_cls", "_salt"))


def _decode_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import hashlib

    for pdf in batches:
        payloads = pdf["payload"]
        n_bytes = payloads.map(len)
        out = pd.DataFrame({
            "doc_id": pdf["doc_id"],
            "n_bytes": n_bytes.astype("int64"),
            "header_hex": payloads.map(lambda b: bytes(b)[:4].hex().upper()),
            "content_md5": payloads.map(
                lambda b: hashlib.md5(bytes(b)).hexdigest()),
            # STUB DECODE: a real implementation would parse the codec
            # header; we derive fake dimensions deterministically from
            # the byte length so tests are stable.
            "fake_width": (n_bytes % 640 + 1).astype("int64"),
            "fake_height": (n_bytes % 480 + 1).astype("int64"),
        })
        yield out


def decode_stub(docs: DataFrame, bucket_by_size: bool = False) -> DataFrame:
    """'Decode' each payload to typed metadata via mapInPandas.

    Real pipelines swap _decode_batch's body for PIL/soundfile/ffmpeg
    calls; everything around it (Arrow batches, schema, ordering
    independence) is production-shaped.
    """
    payloads = as_binary_payload(docs)
    if bucket_by_size:
        # opt-in: worth the extra totals pass + shuffle only when blob
        # sizes are heterogeneous (a video store); a corpus of uniform
        # small payloads keeps the zero-shuffle single-pass plan.
        payloads = size_bucketed(payloads)
    return payloads.mapInPandas(_decode_batch, schema=DECODE_META_SCHEMA)


def frame_sample_stub(docs: DataFrame, every_n_bytes: int = 1000) -> DataFrame:
    """Frame-sampling plumbing: emit one row per sampled "frame" offset
    (a real video pipeline emits one row per sampled frame). Exercises
    the 1-to-N mapInPandas shape."""
    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                n = len(payload)
                for off in range(0, n, every_n_bytes):
                    rows.append((int(doc_id), off,
                                 bytes(payload)[off:off + 8].hex().upper()))
            yield pd.DataFrame(rows, columns=["doc_id", "frame_offset", "frame_hex"])

    schema = T.StructType([
        T.StructField("doc_id", T.LongType()),
        T.StructField("frame_offset", T.LongType()),
        T.StructField("frame_hex", T.StringType()),
    ])
    return as_binary_payload(docs).mapInPandas(sample, schema=schema)


AUDIO_FRAME_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("window_no", T.LongType()),
    T.StructField("n_samples", T.LongType()),
    T.StructField("energy", T.LongType()),
    T.StructField("peak", T.LongType()),
    T.StructField("mean_x100", T.LongType()),
])


def audio_frame_features_stub(docs: DataFrame,
                              window_bytes: int = 256) -> DataFrame:
    """Audio FRAMING plumbing: fixed-size sample windows over the byte
    stream, one feature row per window (the
    librosa/torchaudio framing shape — 1 asset in, N frames out,
    numeric features per frame). A real pipeline swaps the body for an
    actual decoder + FFT; the Spark side — Arrow batches, numpy
    vectorization per window, deterministic integer features — is the
    production shape. STUB features are exact integer functions of the
    bytes (energy = sum of squared sample values, peak, mean x100 via
    integer division), so the whole path is oracle-checkable."""
    import numpy as np

    def feats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                raw = np.frombuffer(bytes(payload), dtype=np.uint8) \
                        .astype(np.int64)
                for wno in range(0, (len(raw) + window_bytes - 1)
                                 // window_bytes):
                    w = raw[wno * window_bytes:(wno + 1) * window_bytes]
                    s = int(w.sum())
                    rows.append((int(doc_id), wno, len(w),
                                 int((w * w).sum()), int(w.max()),
                                 (s * 100) // len(w)))
            yield pd.DataFrame(
                rows, columns=["doc_id", "window_no", "n_samples",
                               "energy", "peak", "mean_x100"])

    return as_binary_payload(docs).mapInPandas(
        feats, schema=AUDIO_FRAME_SCHEMA)


PHASH_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType()),
    T.StructField("phash", T.StringType()),
])


def phash_stub(docs: DataFrame) -> DataFrame:
    """Perceptual-hash plumbing for image dedup: a 64-bit dHash over
    the payload bytes, computed vectorized in the Arrow mapInPandas
    path (where a real pipeline would decode + downscale to a 9x8
    grayscale grid first; the gradient-sign fingerprint over 65
    resampled byte positions is the same math on the stub payload).
    Emitted as a '0'/'1' string so dedup.banded_hamming_pairs — and
    the DuckDB oracle — consume it exactly like a simhash."""
    def hashes(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np
        for pdf in batches:
            rows = []
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                raw = np.frombuffer(bytes(payload), dtype=np.uint8)
                n = len(raw)
                if n == 0:
                    rows.append((int(doc_id), "0" * 64))
                    continue
                # resample to 65 grid points; bit i = sample i > i+1
                idx = (np.arange(65, dtype=np.int64) * (n - 1)) // 64
                s = raw[idx].astype(np.int64)
                bits = (s[:-1] > s[1:]).astype(np.uint8)
                rows.append((int(doc_id),
                             "".join("1" if b else "0" for b in bits)))
            yield pd.DataFrame(rows, columns=["doc_id", "phash"])

    return as_binary_payload(docs).mapInPandas(hashes, schema=PHASH_SCHEMA)


def phash_pairs(docs: DataFrame, max_hamming: int = 6,
                max_bucket_size: int | None = None) -> DataFrame:
    """Near-duplicate asset pairs by perceptual hash: the multimodal
    analog of simhash_pairs — banded 16-bit chunks bound the candidate
    join (never all-pairs), xor+popcount hamming per candidate."""
    from .dedup import banded_hamming_pairs
    return banded_hamming_pairs(phash_stub(docs), "phash",
                                bits=64, max_hamming=max_hamming,
                                max_bucket_size=max_bucket_size)
