"""Outbound payload projection — the "secondary binlog" message built
for Kafka consumers, and the self-describing file-dump record.

Reference:
- obinlog (Kafka) message: one per txn, column metadata + row images,
  drainer/translator/kafka.go:38-336, sink drainer/sync/kafka.go;
- pb file record: drainer/translator/pb.go:242-307 + proto/pb_binlog.proto.

Spark-first: to_json over a typed struct (JVM projection). The obinlog
total-order contract (single Kafka partition, kafka.go:280-334) maps to
a single-partition sort before the sink write; the payload itself is a
narrow projection.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# commit_ts width of one ts_bucket: the partition of a file dump and of
# the relay log, and the bucket in a pb dump's file names
TS_BUCKET_WIDTH = 100000


def ts_bucket() -> Column:
    """A row's ts_bucket, ``commit_ts div TS_BUCKET_WIDTH``, in exact
    integer arithmetic: TSO values are past 2^53, where a double
    quotient rounds and can file a row one bucket too high."""
    return F.expr(f"commit_ts div {TS_BUCKET_WIDTH}")


def obinlog_payload(changes: DataFrame,
                    carry: tuple[str, ...] = ()) -> DataFrame:
    """One JSON message per change event (flat fields only — ints and
    strings — so byte-exact output is engine-independent). ``carry``
    names transport-side columns kept OUTSIDE the payload (the Kafka
    offset / partition analog — metadata the broker adds, not the
    message body)."""
    payload = F.to_json(F.struct(
        F.col("commit_ts").alias("commit_ts"),
        F.col("op").alias("type"),
        F.col("db").alias("schema_name"),
        F.col("tbl").alias("table_name"),
        F.col("pk").alias("pk"),
        F.col("seq").alias("seq"),
    ))
    return changes.select(*carry, "commit_ts", payload.alias("payload"))


def obinlog_payload_wide(changes: DataFrame, info) -> DataFrame:
    """The reference's full secondary-binlog message shape
    (drainer/translator/kafka.go:38-150): per-event column metadata
    (ColumnInfo), the row image in column order, ChangeRow (the old
    image, updates only), and the table's UniqueKeys list. JSON stands
    in for the protobuf envelope (no protobuf in this container); the
    fields and their order are the proto's.

    ``info`` is a sqlgen.TableInfo — the same catalog object the
    statement builder uses, so payload and SQL always agree on column
    order and keys.
    """
    cols = info.writable
    row_arr = F.array(*[F.try_element_at("values", F.lit(c)) for c in cols])
    old_arr = F.array(*[F.try_element_at("old_values", F.lit(c))
                        for c in cols])
    payload = F.to_json(F.struct(
        F.col("commit_ts").alias("commit_ts"),
        F.col("op").alias("type"),
        F.col("db").alias("schema_name"),
        F.col("tbl").alias("table_name"),
        F.array(*[F.lit(c) for c in cols]).alias("column_info"),
        row_arr.alias("row"),
        F.when(F.col("op") == "U", old_arr).alias("change_row"),
        F.array(*[
            F.struct(F.lit(name).alias("name"),
                     F.array(*[F.lit(c) for c in kcols]).alias("columns"))
            for name, kcols in info.unique_keys]).alias("unique_keys"),
    ), options={"ignoreNullFields": "false"})
    return changes.select("commit_ts", payload.alias("payload"))


def parse_obinlog_wide(messages: DataFrame,
                       payload_col: str = "payload") -> DataFrame:
    """Inverse of obinlog_payload_wide: reconstruct the normalized map
    row model (values / old_values) from the column-oriented message —
    the arbiter-style consumer decode for wide tables."""
    schema = ("commit_ts BIGINT, type STRING, schema_name STRING, "
              "table_name STRING, column_info ARRAY<STRING>, "
              "row ARRAY<STRING>, change_row ARRAY<STRING>, "
              "unique_keys ARRAY<STRUCT<name: STRING, "
              "columns: ARRAY<STRING>>>")
    parsed = messages.withColumn("_m", F.from_json(F.col(payload_col), schema))
    return parsed.select(
        F.col("_m.commit_ts").alias("commit_ts"),
        F.col("_m.type").alias("op"),
        F.col("_m.schema_name").alias("db"),
        F.col("_m.table_name").alias("tbl"),
        F.map_from_arrays("_m.column_info", "_m.row").alias("values"),
        F.when(F.col("_m.change_row").isNotNull(),
               F.map_from_arrays("_m.column_info", "_m.change_row"))
         .alias("old_values"),
        F.col("_m.unique_keys").alias("unique_keys"))


def parse_obinlog(messages: DataFrame, payload_col: str = "payload",
                  carry: tuple[str, ...] = ()) -> DataFrame:
    """Inverse projection: obinlog JSON message -> normalized change
    fields (SecondaryBinlogToTxn, pkg/loader/translate.go:30-…) — the
    arbiter's Kafka-consumer decode step. ``carry`` keeps transport
    columns (Kafka offset analog) alongside the decoded fields."""
    schema = ("commit_ts BIGINT, type STRING, schema_name STRING, "
              "table_name STRING, pk BIGINT, seq INT")
    parsed = messages.withColumn("_m", F.from_json(F.col(payload_col), schema))
    return parsed.select(
        *carry,
        F.col("_m.commit_ts").alias("commit_ts"),
        F.col("_m.type").alias("op"),
        F.col("_m.schema_name").alias("db"),
        F.col("_m.table_name").alias("tbl"),
        F.col("_m.pk").alias("pk"),
        F.col("_m.seq").alias("seq"))


def record_crc(changes: DataFrame, cols: tuple[str, ...]) -> F.Column:
    """Per-record integrity checksum over a canonical serialization of
    ``cols`` (name-sorted JSON) — the analog of the vlog's per-record
    CRC (pump/storage/log.go:49 guards every encoded record; a mismatch
    on the recovery scan marks the record corrupt). Spark's crc32 is
    CRC-32/ISO-HDLC rather than the reference's Castagnoli polynomial —
    same detection guarantees, different constant."""
    ordered = [F.col(c).cast("string").alias(c) for c in sorted(cols)]
    return F.crc32(F.encode(F.to_json(F.struct(*ordered)), "UTF-8"))


def crc_mismatches(df: DataFrame, cols: tuple[str, ...],
                   crc_col: str = "record_crc") -> DataFrame:
    """Rows whose stored record CRC no longer matches their content —
    the recovery-scan corruption check (vlog.go scan rejects records
    with bad magic/CRC)."""
    # null-safe: a NULL stored CRC (legacy/merged-schema rows, or
    # corruption of the CRC field itself) must FLAG, not pass silently
    return (df.withColumn("_crc_now", record_crc(df, cols))
              .filter(~F.col(crc_col).eqNullSafe(F.col("_crc_now")))
              .drop("_crc_now"))


def file_dump(changes: DataFrame, path: str, partitions: int | None = None,
              with_crc: bool = False,
              crc_cols: tuple[str, ...] = ()) -> None:
    """File-archive sink: the pb-dump equivalent, as parquet partitioned
    by commit-ts range so reparo-style replay (`WHERE commit_ts BETWEEN`)
    prunes files. Retention GC = deleting old ts_bucket partitions.
    ``with_crc`` stamps each record with ``record_crc`` over
    ``crc_cols`` (defaults to every column) for vlog-style end-to-end
    integrity on top of parquet's page checksums.

    ``partitions`` defaults to the ts_bucket count (bounded by 4x the
    cluster parallelism): the dump's writer count SCALES WITH THE DATA
    — a 100 TB day never funnels through one task. Pass an explicit
    value only for single-file test fixtures."""
    out = changes
    if with_crc:
        cols = crc_cols or tuple(changes.columns)
        out = out.withColumn("record_crc", record_crc(changes, cols))
    if partitions is None:
        sc = changes.sparkSession.sparkContext
        n_buckets = changes.select(
            F.count_distinct(ts_bucket()).alias("n")).first()["n"]
        partitions = max(1, min(int(n_buckets), sc.defaultParallelism * 4))
    (out
     .withColumn("ts_bucket", ts_bucket())
     .repartition(partitions, "ts_bucket")
     .sortWithinPartitions("commit_ts", "seq")
     .write.mode("overwrite")
     .partitionBy("ts_bucket")
     .parquet(path))


def gc_file_dump(path: str, safepoint_ts: int) -> list[str]:
    """Retention GC: delete ts_bucket partitions ENTIRELY below the
    safepoint — the pump's storage GC (pump/storage/storage.go GC
    deletes data with commit ts < gcTS; binlogctl drives the safepoint).
    A bucket containing the safepoint is kept whole (coarse-grained,
    like the reference's file-level GC). Returns the removed partition
    dirs."""
    import shutil as _shutil
    keep_from = safepoint_ts // TS_BUCKET_WIDTH
    removed = []
    if not os.path.isdir(path):
        return removed
    for d in sorted(os.listdir(path)):
        if not d.startswith("ts_bucket="):
            continue
        if int(d.split("=", 1)[1]) < keep_from:
            _shutil.rmtree(os.path.join(path, d))
            removed.append(d)
    return removed


def read_file_dump(spark, path: str, start_ts: int | None = None,
                   stop_ts: int | None = None) -> DataFrame:
    """Reparo-equivalent replay scan: partition-pruned ts range read
    (reparo/read.go:28-120 binary-searches files by first commit-ts —
    partition pruning is the Spark-native equivalent)."""
    df = spark.read.parquet(path)
    if start_ts is not None:
        df = df.where(F.col("commit_ts") >= start_ts)
    if stop_ts is not None:
        df = df.where(F.col("commit_ts") <= stop_ts)
    return df
