"""Streaming metrics export — the streaming half of A3's labeled counters.

The reference exposes its counters over a Prometheus HTTP endpoint
(/root/reference/metrics/metrics.go:79-102); the batch side of that story
is ``operators.aggregates.observed_metrics`` (one-scan ``df.observe``
counters).  This module closes the loop for
STREAMING queries: a ``StreamingQueryListener`` drains the per-micro-batch
``observedMetrics`` payloads from progress events into a process-local
buffer, from which ``counters_relation`` builds a (batch_id, metric, value)
relation — the scrape surface a Prometheus exporter (or any metrics sink)
would read.

Scale design: ``observe`` computes its aggregates inside the micro-batch's
own job (no second pass over the data), ships ONE row of counters per
batch to the driver, and the listener is pure driver-side bookkeeping —
nothing here grows with data volume, only with batch count, and
``max_batches`` bounds that.
"""

from __future__ import annotations

import threading
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQueryListener

OBSERVATION_NAME = "etl_stream_metrics"


def observe_event_counters(
    events: DataFrame, name: str = OBSERVATION_NAME
) -> DataFrame:
    """Attach the standard event-ingest counters to a (streaming or batch)
    events relation: rows seen and value total — evaluated per micro-batch
    with no extra scan."""
    return events.observe(
        name,
        F.count(F.lit(1)).alias("events_total"),
        F.sum(F.col("value")).alias("value_total"),
        F.sum(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("purchases_total"),
    )


class StreamingMetricsCollector(StreamingQueryListener):
    """Driver-side collector for per-micro-batch observed metrics.

    Register with ``spark.streams.addListener`` BEFORE starting the query;
    progress events are delivered asynchronously, so after the query
    terminates call ``wait_for_batches(n)`` rather than reading
    ``batches`` immediately."""

    def __init__(
        self,
        observation_name: str = OBSERVATION_NAME,
        max_batches: int = 10_000,
    ) -> None:
        self.observation_name = observation_name
        self.max_batches = max_batches
        self.batches: list[dict] = []
        self._lock = threading.Lock()

    # -- StreamingQueryListener interface ---------------------------------
    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API)
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        progress = event.progress
        observed = progress.observedMetrics or {}
        row = observed.get(self.observation_name)
        if row is None:
            return
        with self._lock:
            if len(self.batches) >= self.max_batches:
                return
            self.batches.append(
                {
                    "batch_id": progress.batchId,
                    "num_input_rows": progress.numInputRows,
                    **row.asDict(),
                }
            )

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass

    # -- consumption ------------------------------------------------------
    def wait_for_batches(self, n: int, timeout: float = 30.0) -> bool:
        """Block until ``n`` batch payloads have arrived (listener delivery
        is async w.r.t. query termination)."""
        deadline = time.monotonic() + timeout
        while time.monotonic() < deadline:
            with self._lock:
                if len(self.batches) >= n:
                    return True
            time.sleep(0.05)
        with self._lock:
            return len(self.batches) >= n

    def snapshot(self) -> list[dict]:
        with self._lock:
            return [dict(b) for b in self.batches]


def counters_relation(
    spark: SparkSession, collector: StreamingMetricsCollector
) -> DataFrame:
    """(batch_id, metric, value) long-form counters — the scrape surface.
    Tiny by construction (batches × metrics rows), so building it from
    the driver-side buffer is not a distributed-data collect."""
    rows = []
    for b in collector.snapshot():
        bid = b["batch_id"]
        for k, v in b.items():
            if k == "batch_id":
                continue
            rows.append((int(bid), k, float(v if v is not None else 0.0)))
    return spark.createDataFrame(
        rows, "batch_id long, metric string, value double"
    )
