"""Streaming metrics surface — the Prometheus-counter analog.

Reference: drainer/syncer.go:157-178 and pkg/loader/load.go:280-295
export per-event-type counters; we attach a StreamingQueryListener that
accumulates per-batch progress (rows, duration, watermark) for any
running query — the numbers an ops dashboard scrapes.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener


class ProgressCollector(StreamingQueryListener):
    """Collects per-batch progress events in memory. A production
    deployment would push these to a metrics sink; the shape is
    identical."""

    def __init__(self) -> None:
        self.batches: list[dict] = []

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        self.batches.append({
            "query_id": str(p.id),
            "batch_id": p.batchId,
            "num_input_rows": p.numInputRows,
            "duration_ms": p.durationMs.get("triggerExecution")
                if p.durationMs else None,
        })

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass


def attach(spark: SparkSession) -> ProgressCollector:
    collector = ProgressCollector()
    spark.streams.addListener(collector)
    return collector
