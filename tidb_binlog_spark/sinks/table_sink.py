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

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import compaction


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


def read_json(path: str, default: dict) -> dict:
    """The JSON object at ``path``, or ``default`` when there is none."""
    if not os.path.exists(path):
        return default
    with open(path) as f:
        return json.load(f)


def write_json(path: str, obj: dict) -> None:
    """Write ``obj`` via tmp + rename (atomic on POSIX): a reader sees
    the old checkpoint or the new one, never a torn file."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


class VersionedStore:
    """Version directories under ``root`` made visible by one JSON
    checkpoint — the atomic-rename analog of a sink transaction,
    shared by SnapshotTable and the streaming views (streaming/ivm).
    A version's data lands first; the checkpoint naming it replaces
    the old one last, so a crash in between leaves the old version
    visible and the rewrite converges."""

    _CKPT = "checkpoint.json"
    _PREFIXES: tuple[str, ...] = ("",)   # dirs <prefix>_v<N>, or v<N>

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root

    def _ckpt_path(self) -> str:
        return os.path.join(self.root, self._CKPT)

    def _load(self, default: dict) -> dict:
        return read_json(self._ckpt_path(), default)

    def _commit(self, ck: dict) -> None:
        write_json(self._ckpt_path(), ck)

    def _vdir(self, prefix: str, version: int) -> str:
        name = f"{prefix}_v{version}" if prefix else f"v{version}"
        return os.path.join(self.root, name)

    def _gc(self, keep_version: int) -> None:
        """Remove every version dir older than the kept pair
        (``keep_version`` and the one before it, for readers
        mid-swap). One listing of the root finds them all, a crash's
        leftover included."""
        for name in os.listdir(self.root):
            stem = name.rstrip("0123456789")
            if (stem != name and stem.endswith("v")
                    and stem[:-1].rstrip("_") in self._PREFIXES
                    and int(name[len(stem):]) < keep_version - 1):
                shutil.rmtree(os.path.join(self.root, name))


class SnapshotTable(VersionedStore):
    """A versioned parquet table with last-writer-wins apply.

    Directory layout: <root>/v<N>/ (data), <root>/checkpoint.json
    ({version, commit_ts}). Readers use the checkpoint to pick the
    version.
    """

    def checkpoint(self) -> dict:
        return self._load({"version": 0, "commit_ts": -1})

    # -- read/apply ---------------------------------------------------------
    def _read_full(self) -> DataFrame | None:
        """Stored state including delete tombstones (op='D' rows)."""
        ck = self.checkpoint()
        if ck["version"] == 0:
            return None
        return self.spark.read.parquet(self._vdir("", ck["version"]))

    def read(self) -> DataFrame | None:
        """Visible snapshot: tombstones filtered out."""
        full = self._read_full()
        if full is None:
            return None
        return full.filter(F.col("op") != "D")

    def apply_batch(self, batch: DataFrame) -> dict:
        """MERGE a change batch: later commit_ts wins against the
        current state (compaction.compact_last_image over stored and
        batch rows). Deletes are KEPT as tombstones (filtered out by
        read()) — dropping them outright would let a later batch
        carrying an *older* change for the deleted key resurrect it.
        Re-applying the same batch is a no-op — idempotent by
        construction, so checkpoint replay is safe."""
        ck = self.checkpoint()
        current = self._read_full()
        if current is not None:
            batch = current.unionByName(batch, allowMissingColumns=True)
        merged = compaction.compact_last_image(batch)

        new_version = ck["version"] + 1
        out = self._vdir("", new_version)
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
        self._commit({"version": new_version, "commit_ts": batch_max})
        self._gc(new_version)
        return {"version": new_version, "commit_ts": int(batch_max)}
