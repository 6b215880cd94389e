"""Table checksums — the sync_diff_inspector analog.

Reference test strategy: upstream/downstream equivalence is checked by
sync-diff's chunked table checksums (tests/_utils/check_data:1-14,
SURVEY §5). Here: a two-level hierarchical checksum —
row md5 -> 256 buckets by md5 prefix -> per-bucket digest of the
*sorted* row hashes. Bucket digests compare tables chunk-by-chunk, so
a 100 TB comparison shuffles only (bucket, digest) pairs and a
mismatch localizes to 1/256th of the table.

collect_list stays bounded: each bucket holds ~n/256 row hashes, and
the final digest is 32 bytes per bucket.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def row_hash(df: DataFrame, cols: list[str]) -> DataFrame:
    """md5 of the '|'-joined string form of the key columns. Callers
    choose engine-stable string forms (ints, strings, epoch numbers)."""
    return df.withColumn(
        "row_md5",
        F.md5(F.concat_ws("|", *[F.col(c).cast("string") for c in cols])))


def bucket_checksum(df: DataFrame, cols: list[str]) -> DataFrame:
    """(bucket, n_rows, digest) per 2-hex-char bucket of the row hash."""
    hashed = row_hash(df, cols)
    return (hashed
            .withColumn("bucket", F.substring("row_md5", 1, 2))
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n_rows"),
                 F.md5(F.concat_ws("", F.array_sort(F.collect_list("row_md5"))))
                  .alias("digest")))


def snapshot_diff(src: DataFrame, dst: DataFrame,
                  key_cols: list[str],
                  value_cols: list[str]) -> DataFrame:
    """Row-level sync-diff: once bucket checksums localize a mismatch,
    diff the rows themselves (sync_diff_inspector's second stage; the
    reference's e2e suites assert equivalence with tests/_utils/
    check_data). One full-outer shuffle join on the key — at 100 TB you
    run it only on the ~1/256 bucket slices whose digests disagreed.

    Output: one row per differing key with status
    'only_src' / 'only_dst' / 'changed' plus both value images
    (NULL-safe comparison — a NULL->value flip is 'changed').
    """
    s = src.select(
        *[F.col(c).alias(f"k_{c}") for c in key_cols],
        *[F.col(c).alias(f"src_{c}") for c in value_cols],
        F.lit(True).alias("_in_src"))
    d = dst.select(
        *[F.col(c).alias(f"k_{c}") for c in key_cols],
        *[F.col(c).alias(f"dst_{c}") for c in value_cols],
        F.lit(True).alias("_in_dst"))
    j = s.join(d, [f"k_{c}" for c in key_cols], "full_outer")
    same = F.lit(True)
    for c in value_cols:
        same = same & F.col(f"src_{c}").eqNullSafe(F.col(f"dst_{c}"))
    status = (F.when(F.col("_in_dst").isNull(), F.lit("only_src"))
               .when(F.col("_in_src").isNull(), F.lit("only_dst"))
               .when(~same, F.lit("changed")))
    return (j.withColumn("diff_status", status)
             .filter(F.col("diff_status").isNotNull())
             .select(*[F.col(f"k_{c}").alias(c) for c in key_cols],
                     "diff_status",
                     *[f"src_{c}" for c in value_cols],
                     *[f"dst_{c}" for c in value_cols]))


def diff_drilldown(src: DataFrame, dst: DataFrame,
                   key_cols: list[str],
                   value_cols: list[str],
                   bucket_hex: int = 2) -> DataFrame:
    """The full sync_diff_inspector algorithm in one plan: compare
    KEY-bucketed digests first, then run the row-level diff ONLY over
    the buckets whose digests disagree (the inspector's
    chunk-checksum-then-recheck loop, tests/_utils/check_data).

    Buckets key on the md5 of the KEY columns (not the full row), so
    a changed row stays in the same bucket on both sides and the
    restricted row diff classifies it exactly. At 100 TB the row-level
    join touches ~(mismatched/256) of the table; with the snapshots
    stored bucketed on the key, the second phase is partition-pruned
    I/O rather than a full rescan.

    Output: snapshot_diff rows with the bucket carried (one row per
    differing key, 'only_src'/'only_dst'/'changed' + both images).
    """
    def with_bucket(df: DataFrame) -> DataFrame:
        return df.withColumn(
            "bucket",
            F.substring(F.md5(F.concat_ws(
                "|", *[F.col(c).cast("string") for c in key_cols])),
                1, bucket_hex))

    # phase-1 fingerprint must agree with phase-2's eqNullSafe: render
    # NULLs as a sentinel (concat_ws would silently SKIP them, making
    # (x, NULL) and (NULL, x) hash identically) and use a control-char
    # separator so values containing '|' can't alias a column shift
    def null_safe_hash(df: DataFrame) -> DataFrame:
        return df.withColumn(
            "row_md5",
            F.md5(F.concat_ws(
                "\x1f",
                *[F.coalesce(F.col(c).cast("string"), F.lit("\x00"))
                  for c in key_cols + value_cols])))

    def digests(df: DataFrame) -> DataFrame:
        h = null_safe_hash(with_bucket(df))
        return (h.groupBy("bucket")
                .agg(F.md5(F.concat_ws("", F.array_sort(
                     F.collect_list("row_md5")))).alias("digest")))

    sd = digests(src).withColumnRenamed("digest", "src_digest")
    dd = digests(dst).withColumnRenamed("digest", "dst_digest")
    mism = (sd.join(dd, "bucket", "full_outer")
            .filter(~F.col("src_digest").eqNullSafe(F.col("dst_digest")))
            .select("bucket"))
    # the mismatched-bucket set is tiny (healthy tables: near-empty);
    # broadcast it so the phase-2 restriction is a map-side semi join
    s2 = with_bucket(src).join(F.broadcast(mism), "bucket", "left_semi")
    d2 = with_bucket(dst).join(F.broadcast(mism), "bucket", "left_semi")
    return snapshot_diff(s2, d2, ["bucket"] + key_cols, value_cols)


def repair_sql(diff: DataFrame, table: str, key_cols: list[str],
               value_cols: list[str]) -> DataFrame:
    """Fix-SQL generation over a snapshot_diff frame — the step after
    the diff that sync tooling actually ships (sync-diff's fix-sql
    files; the loader's REPLACE upsert shape, pkg/loader/model.go):
      only_dst  -> DELETE ... WHERE pk LIMIT 1   (extra downstream row)
      only_src / changed -> REPLACE INTO (the upstream image wins)

    Key and value columns must arrive PRE-RENDERED as SQL literal
    strings (caller chooses the exact rendering per type — e.g.
    DECIMAL casts for floats so the text is engine-stable, quoted +
    escaped for strings). Statement text is built as a column (pure
    concat projection, zero shuffle beyond the diff itself), so a
    JDBC writer executes partitions without collecting to the driver.
    """
    from ..sinks.sqlgen import _q
    cols_sql = ", ".join(_q(c) for c in (key_cols + value_cols))
    # NULL-rendered values become the literal NULL — concat_ws would
    # silently DROP them and misalign the VALUES arity (same trap
    # diff_drilldown documents; sqlgen.generate_sql coalesces too)
    vals = F.concat_ws(
        ", ", *[F.col(c) for c in key_cols],
        *[F.coalesce(F.col(f"src_{c}"), F.lit("NULL"))
          for c in value_cols])
    where = F.concat_ws(
        " AND ", *[F.concat(F.lit(f"{_q(c)} = "), F.col(c))
                   for c in key_cols])
    replace_stmt = F.concat(
        F.lit(f"REPLACE INTO {table}({cols_sql}) VALUES("),
        vals, F.lit(")"))
    delete_stmt = F.concat(F.lit(f"DELETE FROM {table} WHERE "),
                           where, F.lit(" LIMIT 1"))
    stmt = (F.when(F.col("diff_status") == "only_dst", delete_stmt)
             .otherwise(replace_stmt))
    return diff.select(*key_cols, "diff_status",
                       stmt.alias("repair_sql"))
