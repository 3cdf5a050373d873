"""Streaming ingest observability — the reference's TimingTracker /
FileTracker parity (collector:110-165: per-phase timings, rows and files
written, end-of-run console summary), Spark-first.

Spark already emits everything the reference hand-tracks, through
`StreamingQueryListener` progress events: rows per micro-batch, processing
rate, per-phase durations (addBatch/getBatch/commit), watermark and state
metrics. This module collects those into a per-query summary the collector
can print — no counters threaded through operators.

At scale the same listener feeds whatever metrics sink the deployment
uses (the progress event is already JSON); locally it backs the console
summary and the tests.
"""

from __future__ import annotations

from collections import OrderedDict
from dataclasses import dataclass, field
from threading import Lock

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener


#: (query id, batch id) -> rows the micro-batch's foreachBatch body read,
#: for the most recent `_ROWS_READ_KEPT` batches (see `record_rows_read`).
#: Process-wide because the body and the listeners share only the
#: session; every streaming query has a fresh id, so no query reads
#: another's entries.
_ROWS_READ: OrderedDict[tuple[str, int], int] = OrderedDict()
_ROWS_READ_KEPT = 4096
_ROWS_READ_LOCK = Lock()


def record_rows_read(query_id: str, batch_id: int, rows: int) -> None:
    """Record the rows a foreachBatch body read from its micro-batch; the
    listener reports them instead of Spark's `numInputRows`.

    Spark counts every pass over an uncached micro-batch: the schema
    sample re-reads its head, and the merge path's date pass all of it.
    The body counts one full pass with an `Observation` and records it
    here before the batch's progress event is posted. A batch older than
    the last `_ROWS_READ_KEPT` reports Spark's figure."""
    with _ROWS_READ_LOCK:
        _ROWS_READ[(query_id, batch_id)] = rows
        while len(_ROWS_READ) > _ROWS_READ_KEPT:
            _ROWS_READ.popitem(last=False)


@dataclass
class BatchMetric:
    query_id: str
    batch_id: int
    input_rows: int
    duration_ms: int
    rows_per_sec: float


@dataclass
class QuerySummary:
    name: str
    n_batches: int
    total_rows: int
    total_duration_ms: int

    @property
    def rows_per_sec(self) -> float:
        if self.total_duration_ms <= 0:
            return 0.0
        return self.total_rows / (self.total_duration_ms / 1000.0)


class IngestMetricsListener(StreamingQueryListener):
    """Collects per-micro-batch progress for every streaming query on the
    session. Attach once (`attach`), read `batches` / `summary(name)`,
    detach with `detach`."""

    def __init__(self) -> None:
        self._lock = Lock()
        # keyed (query_id, batch_id): Spark re-emits the final batch's
        # progress on query termination — keep one metric per batch
        self._batches: dict[tuple[str, int], BatchMetric] = {}
        self._names: dict[str, str] = {}
        self._terminated: set[str] = set()

    @property
    def batches(self) -> list[BatchMetric]:
        with self._lock:
            return [self._batches[k] for k in sorted(self._batches)]

    # -- listener callbacks (called from Spark's listener-bus thread) ----
    def onQueryStarted(self, event) -> None:
        with self._lock:
            self._names[str(event.id)] = event.name or str(event.id)

    def onQueryProgress(self, event) -> None:
        p = event.progress
        with _ROWS_READ_LOCK:
            rows = _ROWS_READ.get((str(p.id), p.batchId), p.numInputRows)
        # Spark's rate is its own row count over the processing time
        rate = (p.processedRowsPerSecond or 0.0) * rows / p.numInputRows if p.numInputRows else 0.0
        with self._lock:
            self._batches[(str(p.id), p.batchId)] = BatchMetric(
                query_id=str(p.id),
                batch_id=p.batchId,
                input_rows=rows,
                duration_ms=sum(
                    p.durationMs.get(k, 0)
                    for k in ("addBatch", "getBatch", "commitOffsets")
                ),
                rows_per_sec=rate,
            )

    def onQueryIdle(self, event) -> None:  # pragma: no cover - no-op
        pass

    def onQueryTerminated(self, event) -> None:
        with self._lock:
            self._terminated.add(str(event.id))

    # -- aggregation -----------------------------------------------------
    def summary(self, query_name: str | None = None) -> list[QuerySummary]:
        """Per-query rollup (one row per streaming query seen), optionally
        filtered by query name."""
        by_query: dict[str, list[BatchMetric]] = {}
        for m in self.batches:
            by_query.setdefault(m.query_id, []).append(m)
        with self._lock:
            names = dict(self._names)
        out = []
        for qid, ms in by_query.items():
            name = names.get(qid, qid)
            if query_name and name != query_name:
                continue
            out.append(
                QuerySummary(
                    name=name,
                    n_batches=len(ms),
                    total_rows=sum(m.input_rows for m in ms),
                    total_duration_ms=sum(m.duration_ms for m in ms),
                )
            )
        return sorted(out, key=lambda s: s.name)

    def wait_quiesce(
        self,
        settle_sec: float = 0.5,
        timeout_sec: float = 15.0,
        min_events: int = 1,
        poll_sec: float = 0.05,
        query_name: str | None = None,
    ) -> None:
        """Block until the watched queries' events have settled: returns
        as soon as every watched query's TERMINATED event has arrived
        (the listener bus is a single ordered queue, so termination
        implies all its progress events were delivered — this covers the
        caught-up drain that legitimately processed ZERO batches), or
        when at least `min_events` progress events have arrived and the
        count has been stable for `settle_sec`.

        `query_name` scopes the wait to one named query: concurrent
        per-topic drains share the session listener bus, so without the
        filter topic A's wait could be satisfied by topic B's events (or
        kept spinning by them). The poll interval is decoupled from the
        settle window so stability is detected at `poll_sec`
        granularity. Returns on timeout regardless — metrics are
        observability, never worth hanging a drain for.
        """
        import time

        def snapshot() -> tuple[int, bool]:
            with self._lock:
                if query_name is None:
                    ids = set(self._names)
                else:
                    ids = {q for q, nm in self._names.items() if nm == query_name}
                n = sum(1 for (qid, _b) in self._batches if qid in ids)
                done = bool(ids) and ids <= self._terminated
            return n, done

        deadline = time.monotonic() + timeout_sec
        last, _ = snapshot()
        stable_since = time.monotonic()
        while time.monotonic() < deadline:
            n, all_done = snapshot()
            now = time.monotonic()
            if n != last:
                last, stable_since = n, now
            elif all_done or (n >= min_events and now - stable_since >= settle_sec):
                return
            time.sleep(poll_sec)

    # -- lifecycle -------------------------------------------------------
    def attach(self, spark: SparkSession) -> "IngestMetricsListener":
        spark.streams.addListener(self)
        return self

    def detach(self, spark: SparkSession) -> None:
        spark.streams.removeListener(self)
