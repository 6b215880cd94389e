"""Outbound payload projection — the JSON forms of the "secondary
binlog" message built for Kafka consumers — and the commit-ts bucket
that partitions the relay log and names pb dump segments.

Reference:
- obinlog (Kafka) message: one per txn, column metadata + row images,
  drainer/translator/kafka.go:38-336, sink drainer/sync/kafka.go. The
  Kafka sink's wire form is the protobuf message (sinks/kafka.py);
  the pb file dump is sinks/pbcodec.py.

Spark-first: to_json over a typed struct (JVM projection). The obinlog
total-order contract (single Kafka partition, kafka.go:280-334) maps to
a single-partition sort before the sink write; the payload itself is a
narrow projection.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# commit_ts width of one ts_bucket: the partition of the relay log and
# the bucket in a pb dump's file names
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
