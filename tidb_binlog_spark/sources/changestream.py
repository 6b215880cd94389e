"""Deterministic CDC-ification of the driver's ``events`` table.

The reference consumes a stream of per-transaction change events
(INSERT/UPDATE/DELETE row images stamped with a globally ordered commit
timestamp, from N sources) — tipb.Binlog / loader.DML, reference
pkg/loader/model.go:49-115, drainer/syncer.go:335-539.

The driver's fixtures are plain tables, so we derive the change stream
deterministically from ``events`` with pure integer/string arithmetic.
The SAME SQL text runs under Spark SQL and under DuckDB (the oracle), so
both engines see an identical stream; every CDC operator is then
verified by comparing its output on that stream.

Stream features built in (mirrors FIXTURES.md F1/F6):
- 3 interleaved sources (``src0..src2``) — multi-source merge tests;
- occasional *late* commit_ts (event_id % 97 == 0) — disorder detection,
  reference drainer/merge.go:318-329;
- occasional *duplicate* commit_ts (event_id % 89 == 0 copies another
  event's ts) — duplicate-skip semantics;
- op mix I/U/D derived from event_type;
- (db, tbl) routing/filtering dimensions;
- schema_version cycling 1..3 — default back-fill tests (F5);
- start_ts < commit_ts for P/C-matching tests (pump/storage/sorter.go).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import load_tables

# Shared verbatim between Spark SQL and DuckDB. Only ANSI constructs:
# CASE / % / * / - / || / CAST(.. AS STRING). `STRING` is a valid type
# alias in both engines.
CHANGES_SELECT = """
SELECT
  t.*,
  t.commit_ts - 1 - (t.arrival_seq % 5) AS start_ts
FROM (
  SELECT
    event_id                                        AS arrival_seq,
    'src' || CAST(event_id % 3 AS STRING)           AS source_id,
    CASE WHEN event_id > 0 AND event_id % 97 = 0 THEN event_id * 10 - 500
         WHEN event_id > 2 AND event_id % 89 = 0 THEN (event_id - 3) * 10
         ELSE event_id * 10 END                     AS commit_ts,
    CASE WHEN event_type = 'signup' THEN 'I'
         WHEN event_type = 'error'  THEN 'D'
         ELSE 'U' END                               AS op,
    'db' || CAST(user_id % 4 AS STRING)             AS db,
    CASE WHEN event_id % 3 = 0 THEN 'ptest'
         WHEN event_id % 3 = 1 THEN 'itest'
         ELSE 'ntest' END                           AS tbl,
    user_id                                         AS pk,
    CAST(event_id % 4 AS INT)                       AS seq,
    1 + (event_id % 3)                              AS schema_version,
    value                                           AS val,
    props                                           AS row_json,
    event_type
  FROM events
) t
"""

# Convenience CTE prefix for oracle SQL strings.
CHANGES_CTE = f"WITH changes AS ({CHANGES_SELECT})"


def change_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The normalized change-event DataFrame for a scale-factor dir.

    One row per row-mutation: (arrival_seq, source_id, commit_ts,
    start_ts, op, db, tbl, pk, seq, schema_version, val, row_json).

    The analyzed plan is memoized per (session, sf_dir): every CDC
    query starts from this derivation, and re-parsing/analyzing it per
    query is pure overhead (the plan is immutable; no data is cached).
    """
    from ..session import session_key
    key = (session_key(spark), sf_dir)
    df = _STREAM_MEMO.get(key)
    if df is None:
        load_tables(spark, sf_dir, "events")
        df = spark.sql(CHANGES_SELECT)
        _STREAM_MEMO[key] = df
    return df


_STREAM_MEMO: dict = {}


def row_image_k() -> "F.Column":
    """THE image rule for the ``k`` column: extracted from row_json,
    'nk' when absent. Single definition — wide_stream, the protobuf
    wire (sinks/kafka.with_row_image), and every oracle SQL mirror
    (``COALESCE(json_extract_string(row_json, '$.k'), 'nk')``) must
    agree on this derivation, so it lives in exactly one place."""
    return F.coalesce(F.get_json_object("row_json", "$.k"), F.lit("nk"))


def wide_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The change stream lifted to the reference's full row model:
    ``values MAP<STRING,STRING>`` / ``old_values MAP<STRING,STRING>``
    (pkg/loader/model.go:50-64 DML.Values/OldValues).

    Image rules (deterministic so the DuckDB oracle can mirror them):
    - every image carries the full column set (pk, val, k) — the
      reference's mutations always hold complete row images
      (translator/mysql.go:35-210);
    - I: values = new image, old_values = NULL;
    - U: values = new image, old_values = prior image (val-1,
      'old_'-prefixed k) — merge.go stitches FIRST old/LAST new of
      these whole maps;
    - D: values = the row image to delete (model.go: delete DMLs carry
      the old row in Values), old_values = NULL.
    """
    ch = change_stream(spark, sf_dir)
    k = row_image_k()
    pk_s = F.col("pk").cast("string")
    val_s = F.col("val").cast("string")
    image = F.create_map(
        F.lit("pk"), pk_s, F.lit("val"), val_s, F.lit("k"), k)
    old_image = F.create_map(
        F.lit("pk"), pk_s,
        F.lit("val"), (F.col("val") - 1).cast("string"),
        F.lit("k"), F.concat(F.lit("old_"), k))
    return (ch.withColumn("values", image)
              .withColumn("old_values",
                          F.when(F.col("op") == "U", old_image)))

