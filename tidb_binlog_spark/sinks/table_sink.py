"""Idempotent table sink + transactional checkpoint — the MySQL-loader
equivalent for a lakehouse target.

Reference semantics reproduced:
- apply a compacted batch with MERGE semantics (REPLACE upserts,
  DELETE removes) so re-applying after a crash converges
  (pkg/loader/executor.go:407-443 safe mode);
- the checkpoint ts is persisted "in the same transaction" as the data
  (drainer/checkpoint/mysql.go:133-165) — here: written atomically with
  the snapshot version directory;
- exactly-once = Spark streaming checkpoint + this idempotent apply.

Local testing uses parquet snapshots (no Delta in the container); the
apply is expressed so the same code drops onto Delta/Iceberg MERGE INTO
on a real deployment.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F


def _parquet_footer_max(path: str, col: str):
    """Max of an int64 column from parquet row-group statistics —
    metadata-only, no data scan. None if any row group lacks stats."""
    import pyarrow.parquet as pq
    best = None
    for fname in os.listdir(path):
        if not fname.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(path, fname)).metadata
        try:
            idx = md.schema.names.index(col)
        except ValueError:
            return None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                return None
            best = st.max if best is None else max(best, st.max)
    return best


class SnapshotTable:
    """A versioned parquet table with last-writer-wins apply.

    Directory layout: <root>/v<N>/ (data), <root>/checkpoint.json
    ({version, commit_ts}). Readers use the checkpoint to pick the
    version — the atomic-rename analog of a sink transaction.
    """

    def __init__(self, spark: SparkSession, root: str,
                 key_cols: tuple[str, ...] = ("db", "tbl", "pk")):
        self.spark = spark
        self.root = root
        self.key_cols = list(key_cols)

    # -- checkpoint ---------------------------------------------------------
    def _ckpt_path(self) -> str:
        return os.path.join(self.root, "checkpoint.json")

    def checkpoint(self) -> dict:
        if not os.path.exists(self._ckpt_path()):
            return {"version": 0, "commit_ts": -1}
        with open(self._ckpt_path()) as f:
            return json.load(f)

    def _save_checkpoint(self, version: int, commit_ts: int) -> None:
        tmp = self._ckpt_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"version": version, "commit_ts": commit_ts}, f)
        os.replace(tmp, self._ckpt_path())  # atomic on POSIX

    def advance_checkpoint(self, commit_ts: int) -> None:
        """Heartbeat-only progress: move the savepoint cursor forward
        without writing data (fake-binlog semantics,
        drainer/syncer.go:199-272 — the checkpoint advances over idle
        periods once everything below is applied). Never regresses."""
        ck = self.checkpoint()
        if int(commit_ts) > int(ck["commit_ts"]):
            self._save_checkpoint(ck["version"], int(commit_ts))

    # -- read/apply ---------------------------------------------------------
    def _read_full(self) -> DataFrame | None:
        """Stored state including delete tombstones (op='D' rows)."""
        ck = self.checkpoint()
        if ck["version"] == 0:
            return None
        return self.spark.read.parquet(os.path.join(self.root, f"v{ck['version']}"))

    def read(self) -> DataFrame | None:
        """Visible snapshot: tombstones filtered out."""
        full = self._read_full()
        if full is None:
            return None
        return full.filter(F.col("op") != "D")

    def apply_batch(self, batch: DataFrame) -> dict:
        """MERGE a compacted change batch: later commit_ts wins against
        the current state. Deletes are KEPT as tombstones (filtered out
        by read()) — dropping them outright would let a later batch
        carrying an *older* change for the deleted key resurrect it.
        Re-applying the same batch is a no-op — idempotent by
        construction, so checkpoint replay is safe."""
        ck = self.checkpoint()
        current = self._read_full()
        if current is not None:
            unioned = current.unionByName(batch, allowMissingColumns=True)
        else:
            unioned = batch
        w = Window.partitionBy(*self.key_cols).orderBy(
            F.desc("commit_ts"), F.desc("seq"), F.desc("arrival_seq"))
        merged = (unioned
                  .withColumn("_rn", F.row_number().over(w))
                  .filter(F.col("_rn") == 1).drop("_rn"))

        new_version = ck["version"] + 1
        out = os.path.join(self.root, f"v{new_version}")
        merged.write.mode("overwrite").parquet(out)
        # the savepoint ts comes from the WRITTEN snapshot (no second
        # pass over the batch lineage — a separate max-ts action would
        # scan the streaming source twice and double-count input
        # metrics). Tombstones retain their commit_ts, so the stored
        # max equals max(prior checkpoint, batch max): the savepoint
        # only ever advances (drainer/checkpoint semantics — replaying
        # an old batch must not regress the cursor). Read from parquet
        # FOOTER statistics (driver-side metadata, O(#files)) so the
        # cost stays O(batch write), never O(snapshot scan per batch).
        m = _parquet_footer_max(out, "commit_ts")
        if m is None:       # stats missing: fall back to a column scan
            m = (self.spark.read.parquet(out)
                 .agg(F.max("commit_ts").alias("m")).collect()[0]["m"])
        batch_max = int(m) if m is not None else int(ck["commit_ts"])
        batch_max = max(batch_max, int(ck["commit_ts"]))
        self._save_checkpoint(new_version, batch_max)
        # retain only the previous version for readers mid-swap; one
        # listing finds every older dir, a crash's leftover included
        for name in os.listdir(self.root):
            v = name[1:]
            if name[:1] == "v" and v.isdigit() and int(v) < new_version - 1:
                shutil.rmtree(os.path.join(self.root, name))
        return {"version": new_version, "commit_ts": int(batch_max)}
