"""Per-primary-key compaction ("merge by primary key").

Reference: pkg/loader/merge.go:22-129 — within an apply batch, the DML
sequence for one PK collapses to a single final operation:

    insert + update  -> insert          (new image wins)
    update + update  -> update          (first old image, last new image)
    update + delete  -> delete
    delete + insert  -> insert

Spark-first design: this is a single wide aggregation per (db, tbl, pk)
— no driver loop, no UDF. ``compact_last_image`` ranks with a window
on the event order (commit_ts, seq, sub_seq, arrival_seq);
``merge_by_pk`` (the SQL applier's batch path) is a partial-aggregating
``max_by`` over the same order. Either is one shuffle keyed on the PK,
so it scales horizontally and AQE handles skewed keys.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

KEY = ["db", "tbl", "pk"]


def _event_order(changes: DataFrame) -> list[str]:
    """The total event order: (commit_ts, seq, sub_seq, arrival_seq),
    with ``sub_seq`` only when the frame carries it. The halves a
    rewrite or PK split makes of one event (safe_mode_rewrite's D + R,
    split_pk_change's D + I) share every other column, so without
    ``sub_seq`` the pick between them would be arbitrary."""
    return [c for c in ("commit_ts", "seq", "sub_seq", "arrival_seq")
            if c != "sub_seq" or "sub_seq" in changes.columns]


def compact_last_image(changes: DataFrame) -> DataFrame:
    """Last-writer-wins image per PK: one row per key holding the final
    op and the final row image. Downstream appliers turn this into one
    statement per key (the whole point of the reference's merge: cut
    write amplification before hitting the sink).
    """
    w = Window.partitionBy(*KEY).orderBy(
        *[F.col(c).desc() for c in _event_order(changes)])
    return (
        changes
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def merge_by_pk(changes: DataFrame, image_cols: tuple[str, ...]) -> DataFrame:
    """The loader's batch-path merge (pkg/loader/merge.go:22-129): one
    row per (db, tbl, pk) with the op that leaves the key where the
    batch's events, applied one statement at a time, would leave it.

    Returns KEY, ``op``, ``pre_delete``, ``commit_ts`` (of the last
    event) and the last event's ``image_cols``. ``op`` is:

    - 'D' when the last event is a D, or when only U's follow the
      key's last D (they would update a deleted row);
    - 'R' when the last event is an R (after safe_mode_rewrite the ops
      are only D and R);
    - 'I' when an I follows the key's last D (or there is no D), with
      ``pre_delete`` set when the batch holds an earlier D — the
      DELETE must run first so the INSERT finds the key free, while an
      INSERT on a live key with no D before it still fails;
    - 'U' otherwise (U's only), so an update of a missing row stays a
      no-op.

    One partial-aggregating groupBy: the last image is a ``max_by``
    over the event order (see _event_order), and the last D and last I
    are maxima of the same order struct — no window over the batch.
    """
    order = F.struct(*_event_order(changes))

    def last(kind: str):
        return F.max(F.when(F.col("op") == kind, order))

    image = [c for c in image_cols if c not in KEY]
    agg = changes.groupBy(*KEY).agg(
        F.max_by(F.struct("op", "commit_ts", *image), order).alias("_last"),
        last("D").alias("_last_d"), last("I").alias("_last_i"))
    last_op, last_d, last_i = (F.col("_last.op"), F.col("_last_d"),
                               F.col("_last_i"))
    op = (F.when(last_op.isin("D", "R"), last_op)
           .when(last_i.isNotNull()
                 & (last_d.isNull() | (last_i > last_d)), F.lit("I"))
           .when(last_d.isNotNull(), F.lit("D"))
           .otherwise(F.lit("U")))
    return agg.select(
        *KEY, op.alias("op"),
        ((op == "I") & last_d.isNotNull()).alias("pre_delete"),
        *[F.col(f"_last.{c}").alias(c) for c in ["commit_ts", *image]])


def compact_wide(changes: DataFrame) -> DataFrame:
    """Map-model compaction (pkg/loader/merge.go:84-118 over
    DML.Values/OldValues, model.go:50-64):

    - merged op per the merge rule table: 'D' when the last op is a
      D, 'I' when an I follows the last D (or there is no D), 'U'
      otherwise;
    - final image = the LAST event's ``values`` map (insert+update ->
      insert keeps the last new image; update+update keeps the last
      new image; delete keeps the delete's row image);
    - old image = the FIRST update's ``old_values`` map
      (update+update -> ``dml.OldValues = oldDML.OldValues``), taken
      from updates AFTER the last delete (a delete resets the row's
      lineage), and only reported when the merged op is 'U'
      (insert-update -> insert clears OldValues, merge.go:104-107).

    Emitted EXPLODED per column — (db, tbl, pk, merged_op, col,
    final_val, first_old_val, n_ops) — one row per (key, column):
    engine-portable output (map rendering differs across engines) and
    the shape a per-column statement builder consumes anyway.

    Scale shape: one window + one aggregation keyed on the PK, then a
    per-(key, column) explode — no per-row Python, no driver loops.
    """
    w = Window.partitionBy(*KEY).orderBy("commit_ts", "seq", "arrival_seq")
    w_all = Window.partitionBy(*KEY)
    orded = (changes
             .select(*KEY, "op", "values", "old_values",
                     "commit_ts", "seq", "arrival_seq")
             .withColumn("ord", F.row_number().over(w).cast("long"))
             .withColumn("last_d",
                         F.max(F.when(F.col("op") == "D", F.col("ord")))
                          .over(w_all)))
    agg = (orded.groupBy(*KEY).agg(
        F.max("ord").alias("last_ord"),
        F.max(F.when(F.col("op") == "D", F.col("ord"))).alias("last_d_ord"),
        F.max(F.when(F.col("op") == "I", F.col("ord"))).alias("last_i"),
        F.max_by("values", "ord").alias("final_values"),
        F.min_by(
            "old_values",
            F.when((F.col("op") == "U")
                   & (F.col("last_d").isNull()
                      | (F.col("ord") > F.col("last_d"))),
                   F.col("ord"))).alias("first_old_values"),
        F.count(F.lit(1)).alias("n_ops"),
    ))
    merged = agg.select(
        *KEY,
        F.when(F.col("last_d_ord") == F.col("last_ord"), F.lit("D"))
         .when(F.col("last_i").isNotNull()
               & (F.col("last_d_ord").isNull()
                  | (F.col("last_i") > F.col("last_d_ord"))),
               F.lit("I"))
         .otherwise(F.lit("U")).alias("merged_op"),
        "final_values", "first_old_values", "n_ops",
    )
    exploded = merged.select(
        *KEY, "merged_op", "n_ops",
        F.explode("final_values").alias("col", "final_val"),
        "first_old_values")
    return exploded.select(
        *KEY, "merged_op", "col", "final_val",
        F.when(F.col("merged_op") == "U",
               F.try_element_at("first_old_values", F.col("col")))
         .alias("first_old_val"),
        "n_ops")


def apply_snapshot(changes: DataFrame) -> DataFrame:
    """Materialize the final table snapshot: compact to the last image
    per key, drop keys whose final op is DELETE. This is the batch
    equivalent of the full loader apply path (pkg/loader/load.go:636-724)
    with MERGE semantics at the sink.
    """
    last = compact_last_image(changes)
    return last.filter(F.col("op") != "D").select(
        "db", "tbl", "pk", "commit_ts", "op", "val", "row_json")
