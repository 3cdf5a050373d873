"""The two benchmark workloads and the run harness around them.

Each workload is one closed-loop client in this process, driving the
package through its public entry points only: ``Collector.run``, the
``reader`` functions, ``plans.QUERIES`` and ``session.get_spark``. A
workload has

- ``setup_cycle``: session (re)start, seeded input generation and
  staging of the topic files and query tables;
- ``prepare``: the writes the program itself makes before timing (the
  collector-written history of the lakehouse);
- ``warm``: one untimed pass over every operation kind;
- ``operate``: the timed loop, one closed-loop operation at a time;
- checks of every output, outside the timed region.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import time
import traceback
from contextlib import contextmanager

import numpy as np
import pyarrow.dataset as pads

import gen
from redpanda_to_parquet_writer_spark import collector as collector_mod
from redpanda_to_parquet_writer_spark import reader, session
from redpanda_to_parquet_writer_spark.config import EngineConfig
from redpanda_to_parquet_writer_spark.operators.validate import PASS
from redpanda_to_parquet_writer_spark.plans import ORACLES, QUERIES
from spans import Tracer, median, tail_quantile

CORES = 4
SETUP_CYCLES = 3

# --- export_bulk sizing: rows per topic (one fresh export drains all three)
EXPORT_ROWS = {"spx_index": 48_000, "spx_options": 24_000, "es_futures": 16_000}
EXPORT_MIN_OPS = 2
EXPORT_MAX_ATTEMPTS = 10
EXPORT_NULL_TS_SHARE = 0.004
EXPORT_CORRUPT_SHARE = 0.003

# --- lakehouse_session sizing: the collector's resumed topic ...
RESUME_TOPIC = "spx_index"
RESUME_HISTORY_ROWS = 4_000
RESUME_INCREMENT_ROWS = 800
RESUME_REDELIVERY_SHARE = 0.2
RESUME_RUNS = 2
# ... and the query tables
TABLES_SF = 0.002
#: share of history rows whose payload repeats an earlier row's, for
#: deduplicate_table to remove
HISTORY_DUP_SHARE = 0.02
FLOOR_QUERIES = (
    "pricing_summary",
    "offset_recovery",
    "date_partition_counts",
    "dedup_anti_join",
    "hourly_event_stats",
    "revenue_by_region",
    "sink_reconciliation",
    "offset_gap_check",
)
#: one CPU-heavy Python-UDF row per family (query -> family)
HEAVY_QUERIES = {
    "multimodal_jpeg_baseline_roundtrip": "multimodal",
    "ann_ivf_topk": "vector",
    "docs_minhash_lsh_pairs": "text",
}
# two of each floor query keep the median request inside the dense
# floor-bound cluster, not at a gap between request kinds
FLOOR_REPEATS = 2
READER_CALLS = ("get_available_dates", "load_topics_batch", "analyze_table", "deduplicate_table")

ORACLE_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


# ---------------------------------------------------------------------------
# harness


class Op:
    """One attempted operation (topic drain, collector run or request)."""

    def __init__(self, run: "Run", name: str):
        self.run, self.name, self.failed = run, name, False

    def fail(self, why: str) -> None:
        if not self.failed:
            self.failed = True
            self.run.failed += 1
        self.run.errors.append(f"{self.name}: {why}")

    def check(self, ok: bool, why: str) -> bool:
        if not ok:
            self.fail(why)
        return ok


class Run:
    """State of one benchmark invocation: session, tracer, op accounting."""

    def __init__(self, seed: int, trace: bool, work: str):
        self.seed, self.work = seed, work
        self.tracer = Tracer(enabled=trace)
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.master = f"local[{CORES}]"
        self.get_spark_s: list[float] = []

    def rng(self, *stream: int) -> np.random.Generator:
        return np.random.default_rng([self.seed, *stream])

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def cfg(self, **kw) -> EngineConfig:
        return EngineConfig(
            master=self.master, shuffle_partitions=2 * CORES, driver_memory="2g", **kw
        )

    def start_session(self, master: str | None = None) -> None:
        """(Re)start the Spark session. A restart reuses the running JVM,
        so only the first start pays the JVM launch."""
        if self.spark is not None:
            self.tracer.resolve_counts()
            self.spark.stop()
        self.master = master or self.master
        t0 = time.perf_counter()
        with self.tracer.span("session.get_spark"):
            self.spark = session.get_spark(self.cfg(), app_name="lakebench")
        self.get_spark_s.append(time.perf_counter() - t0)
        self.tracer.bind(self.spark)

    def op(self, name: str) -> Op:
        self.attempted += 1
        return Op(self, name)

    @contextmanager
    def guarded(self, *ops: Op):
        """Boundary for one call into the program: its raising counts every
        operation the call carries as failed, and the run goes on."""
        try:
            yield
        except Exception as e:  # noqa: BLE001 - recorded and reported
            first_line = (str(e).splitlines() or [""])[0]
            for op in ops:
                op.fail(f"{type(e).__name__}: {first_line[:300]}")
            traceback.print_exc()

    def stop(self) -> None:
        """Stop Spark and wait for the JVM process to exit."""
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        gateway = sc._gateway
        self.spark.stop()
        self.spark = None
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:  # a JVM that will not exit is killed
                proc.kill()
                proc.wait(timeout=30)


_CLK_TCK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """User plus system CPU seconds of this process and every process
    under it (the JVM, the Python daemon and its workers), each with the
    children it has reaped, so time of a worker that exits in between is
    kept. Time the hypervisor gives to other guests (steal) is not in it."""
    procs: dict[int, tuple[int, int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                rest = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while listing
            continue
        # fields after the command: state, ppid, ..., utime, stime, cutime, cstime
        procs[int(d)] = (int(rest[1]), sum(int(x) for x in rest[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _ticks) in procs.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        ticks += procs.get(pid, (0, 0))[1]
        todo += children.get(pid, [])
    return ticks / _CLK_TCK


class OpTimer:
    """Wall and tree CPU time of one call into the program."""

    def __enter__(self):
        self.cpu = tree_cpu_s()
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        self.wall = time.perf_counter() - self.t0
        self.cpu = tree_cpu_s() - self.cpu
        return False


def peak_rss_mb(run: Run) -> float:
    """Peak resident set (VmHWM) of this driver process plus its JVM."""
    pids = [os.getpid()]
    proc = getattr(run.spark.sparkContext._gateway, "proc", None) if run.spark else None
    if proc is not None:
        pids.append(proc.pid)
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0


def read_table(root: str, columns: list[str]):
    """Read a hive-partitioned output table with pyarrow (independent of
    Spark), skipping Spark's `_`/`.` marker files."""
    return pads.dataset(root, format="parquet", partitioning="hive").to_table(columns=columns)


def table_files(root: str) -> tuple[int, int]:
    """(data files, bytes) under a table root."""
    n = size = 0
    for dirpath, _dirs, files in os.walk(root):
        for fn in files:
            if fn.endswith(".parquet") and not fn.startswith((".", "_")):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, fn))
    return n, size


class StreamProgress:
    """Streaming progress per micro-batch: the durations of every progress
    event, keyed by run id and batch id."""

    def __init__(self):
        self.batches: dict[tuple[str, int], dict] = {}

    def record(self, event) -> None:
        p = event.progress
        self.batches[(str(p.runId), p.batchId)] = {
            "run_id": str(p.runId),
            **{k: int(v) for k, v in p.durationMs.items()},
        }


# ---------------------------------------------------------------------------
# workloads


class Workload:
    name = ""

    def __init__(self, run: Run):
        self.run = run
        self.op_seconds: list[float] = []
        #: tree CPU seconds of each timed operation, parallel to op_seconds
        self.op_cpu: list[float] = []
        #: name of each timed operation, parallel to op_seconds
        self.op_names: list[str] = []
        self.bytes_per_row = 0.0

    def setup_cycle(self, cycle: int) -> None:
        """Session (re)start, seeded input generation and staging."""
        raise NotImplementedError

    def prepare(self) -> None:
        """The writes the program itself makes before timing (once)."""

    def warm(self) -> None:
        raise NotImplementedError

    def operate(self, deadline: float) -> None:
        raise NotImplementedError

    def extra_e2e(self) -> dict[str, tuple[float, str]]:
        """Workload-specific figures printed beside the contract metrics."""
        return {}

    def layer_metrics(self) -> dict[str, float]:
        return {}


def _source_factory(run: Run, src_root: str):
    def factory(topic, _resume_offsets):
        return run.spark.readStream.schema(gen.ENVELOPE_DDL).parquet(os.path.join(src_root, topic))

    return factory


def _stage_partitions(batch: gen.TopicBatch, src_dir: str, prefix: str) -> None:
    """Stage one file per Kafka partition, as a broker serves one task per
    partition."""
    table = batch.table()
    parts = np.asarray(batch.partition)
    for p in sorted(set(batch.partition)):
        gen.write_parquet(table.take(np.flatnonzero(parts == p)), os.path.join(src_dir, f"{prefix}-p{p}.parquet"))


def _samples(batch: gen.TopicBatch, n: int = 64) -> list[bytes]:
    """The first payloads of a topic, as a consumer would sample them for
    the format verdict."""
    return batch.value[:n]


class ExportBulk(Workload):
    """Fresh one-time export of three topics with dedup skipped (the
    config default). Decode, flatten and the Parquet write take about 60%
    of an export; starting and stopping the streaming queries and V1 take
    most of the rest (README)."""

    name = "export_bulk"

    def setup_cycle(self, cycle: int) -> None:
        run = self.run
        run.start_session()
        rng = run.rng(1)
        # corrupt payloads go to the JSON topics only: a corrupt
        # MessagePack payload loses its bytes (README, defect 4;
        # tests/test_known_defects.py), and a workload must not fail
        self.batches = {
            t: gen.topic_batch(
                rng, t, n, null_ts_share=EXPORT_NULL_TS_SHARE,
                corrupt_share=EXPORT_CORRUPT_SHARE if gen.TOPIC_FORMATS[t] == "json" else 0.0,
            )
            for t, n in EXPORT_ROWS.items()
        }
        self.src = run.path(f"src{cycle}")
        for t in EXPORT_ROWS:
            _stage_partitions(self.batches[t], os.path.join(self.src, t), t)
        self.n_exports = 0
        self.raw_rows = 0
        self.written = {"sink.files_written": 0, "sink.bytes_written": 0, "sink.rows_written": 0}

    def _export(self, timed: bool) -> None:
        run = self.run
        self.n_exports += 1
        out = run.path(f"export{self.n_exports}")
        cfg = run.cfg(output_dir=os.path.join(out, "tables"), checkpoint_dir=os.path.join(out, "ckpt"))
        ops = {t: run.op(f"drain {t}") for t in self.batches}
        c = collector_mod.Collector(run.spark, cfg, _source_factory(run, self.src))
        samples = {t: _samples(b) for t, b in self.batches.items()}
        result = None
        try:
            with run.tracer.span("op.export"), run.guarded(*ops.values()), OpTimer() as tm:
                result = c.run(list(self.batches), samples=samples)
            if result is None:
                return
            if timed:
                self.op_seconds.append(tm.wall)
                self.op_cpu.append(tm.cpu)
                self.op_names.append("export")
                self.topic_seconds.append({r.topic: r.seconds for r in result.reports})
            with run.tracer.span("check.export"):
                self._check(c, result, ops)
        finally:
            shutil.rmtree(out, ignore_errors=True)

    def _check(self, c, result, ops: dict) -> None:
        reports = {r.topic: r for r in result.reports}
        n_files = n_bytes = n_rows = 0
        self.raw_rows = 0
        for t, b in self.batches.items():
            op, r = ops[t], reports.get(t)
            if not op.check(r is not None, "no report"):
                continue
            expect = len(b) - b.n_null_ts
            op.check(r.fmt == b.fmt, f"fmt verdict {r.fmt} != {b.fmt}")
            op.check(r.rows_written == expect, f"rows {r.rows_written} != {expect}")
            op.check(r.validation is not None and r.validation.status == PASS, f"V1 {r.validation}")
            root = c.output_root(t)
            table = read_table(root, ["raw_value"])
            raw = table.num_rows - table.column("raw_value").null_count
            self.raw_rows += raw
            op.check(table.num_rows == expect, f"table rows {table.num_rows} != {expect}")
            op.check(raw == b.n_corrupt, f"raw_value rows {raw} != corrupt payloads {b.n_corrupt}")
            files, size = table_files(root)
            n_files += files
            n_bytes += size
            n_rows += table.num_rows
        self.written = {"sink.files_written": n_files, "sink.bytes_written": n_bytes, "sink.rows_written": n_rows}
        self.bytes_per_row = n_bytes / max(n_rows, 1)

    def warm(self) -> None:
        self.topic_seconds: list[dict] = []
        self._export(timed=False)

    def operate(self, deadline: float) -> None:
        """At least EXPORT_MIN_OPS exports; then stop when the next one
        would pass the deadline, and after EXPORT_MAX_ATTEMPTS in any case,
        whether or not the exports succeed."""
        t0 = time.perf_counter()
        for attempt in range(1, EXPORT_MAX_ATTEMPTS + 1):
            self._export(timed=True)
            last = self.op_seconds[-1] if self.op_seconds else 0.0
            if attempt >= EXPORT_MIN_OPS and time.perf_counter() + last > deadline:
                break
        self.timed_region = (t0, time.perf_counter())

    def rows_per_s(self, topics) -> float:
        rows = sum(len(self.batches[t]) - self.batches[t].n_null_ts for t in topics)
        seconds = median(sum(ts[t] for t in topics) for ts in self.topic_seconds)
        return rows / seconds if seconds else 0.0

    def extra_e2e(self):
        rows = sum(len(b) - b.n_null_ts for b in self.batches.values())
        return {"export_rows_per_s": (rows / median(self.op_seconds) if self.op_seconds else 0.0, "rows/s")}

    def layer_metrics(self):
        return {
            "export.rows_per_s.json": self.rows_per_s([t for t, f in gen.TOPIC_FORMATS.items() if f == "json"]),
            "export.rows_per_s.msgpack": self.rows_per_s([t for t, f in gen.TOPIC_FORMATS.items() if f == "msgpack"]),
            "decode.raw_value_rows": self.raw_rows,
            **self.written,
        }


class ResumeFeed:
    """One topic the collector keeps appending to: a history it drained
    during set-up, then increments on the two latest dates, each with a
    seeded share of exact redeliveries of the previous increment. Every
    run uses dedup and validation, and resumes from its checkpoint."""

    def __init__(self, run: Run, base: str, src: str, ckpt: str):
        self.run = run
        rng = run.rng(2)
        self.next_offsets: dict[int, int] = {}
        self.history = gen.topic_batch(
            rng, RESUME_TOPIC, RESUME_HISTORY_ROWS, next_offsets=self.next_offsets
        )
        self.n_dup = 0
        for i in range(1, len(self.history)):
            if rng.random() < HISTORY_DUP_SHARE:
                self.history.value[i] = self.history.value[int(rng.integers(0, i))]
                self.n_dup += 1
        self.increments = []
        prev = self.history
        for _ in range(1 + RESUME_RUNS):  # one for the warm-up
            fresh = gen.topic_batch(
                rng, RESUME_TOPIC, RESUME_INCREMENT_ROWS, day_lo=28, day_hi=30,
                next_offsets=self.next_offsets,
            )
            self.increments.append((fresh, gen.redeliver(rng, prev, RESUME_REDELIVERY_SHARE)))
            prev = fresh
        self.src = os.path.join(src, RESUME_TOPIC)
        cfg = run.cfg(output_dir=base, checkpoint_dir=ckpt, skip_dedup=False, skip_validation=False)
        self.collector = collector_mod.Collector(run.spark, cfg, _source_factory(run, src))
        self.root = self.collector.output_root(RESUME_TOPIC)
        self.samples = {RESUME_TOPIC: _samples(self.history)}
        self.expected: set[tuple[int, int]] = set()
        self.deltas: list[dict] = []
        self.run_seconds: list[float] = []
        self.done = 0
        _stage_partitions(self.history, self.src, "history")

    def load_history(self) -> None:
        """The collector drains the staged history: the table's first run."""
        self.step(self.history, timed=False)

    def next_increment(self) -> gen.TopicBatch:
        """Stage the next increment and its redeliveries (untimed)."""
        fresh, again = self.increments[self.done]
        self.done += 1
        gen.write_parquet(fresh.table(), os.path.join(self.src, f"inc{self.done:03d}.parquet"))
        if len(again):
            gen.write_parquet(again.table(), os.path.join(self.src, f"redo{self.done:03d}.parquet"))
        self.rows_in = len(fresh) + len(again)
        return fresh

    def step(self, fresh: gen.TopicBatch, timed: bool) -> OpTimer | None:
        """One `Collector.run`, then the exactly-once check: the table
        holds exactly the distinct keys generated so far."""
        run = self.run
        before = table_files(self.root) if os.path.isdir(self.root) else (0, 0)
        rows_before = len(self.expected)
        self.expected |= fresh.keys()
        op = run.op(f"collector run {RESUME_TOPIC}")
        result = None
        with run.tracer.span("op.collector_run"), run.guarded(op), OpTimer() as tm:
            result = self.collector.run([RESUME_TOPIC], samples=self.samples)
        if result is None:
            return None
        with run.tracer.span("check.collector_run"):
            table = self._check(op, result)
        if timed:
            files, size = table_files(self.root)
            self.run_seconds.append(tm.wall)
            self.deltas.append(
                {
                    "rows_in": self.rows_in,
                    "rows_written": table.num_rows - rows_before,
                    "files": files - before[0],
                    "bytes": size - before[1],
                }
            )
        return tm

    def _check(self, op: Op, result):
        table = read_table(self.root, ["kafka_partition", "kafka_offset"])
        keys = list(zip(table.column("kafka_partition").to_pylist(), table.column("kafka_offset").to_pylist()))
        op.check(len(keys) == len(set(keys)), f"{len(keys) - len(set(keys))} duplicate keys")
        op.check(set(keys) == self.expected, f"key set differs ({len(set(keys))} vs {len(self.expected)})")
        rep = result.reports[0]
        op.check(rep.validation is not None and rep.validation.status == PASS, f"V1 {rep.validation}")
        versions = [d for d in os.listdir(os.path.dirname(self.root)) if d.startswith(RESUME_TOPIC + "_v")]
        op.check(not versions, f"rows routed to schema versions {versions}")
        return table

    def finish(self) -> None:
        """V2: per-partition completeness against the generator's
        watermarks (offsets start at 0, so a watermark is a count)."""
        from redpanda_to_parquet_writer_spark.operators.validate import external_completeness

        run = self.run
        marks: dict[int, int] = {}
        for p, _o in self.expected:
            marks[p] = marks.get(p, 0) + 1
        op = run.op("external_completeness")
        with run.guarded(op):
            rows = external_completeness(run.spark, self.root, marks).collect()
            bad = [r.asDict() for r in rows if r["status"] != PASS]
            op.check(len(rows) == len(marks) and not bad, f"V2 not PASS: {bad}")

    def layer_metrics(self) -> dict[str, float]:
        def med(f):
            return median(f(d) for d in self.deltas)

        return {
            "sink.files_written": med(lambda d: d["files"]),
            "sink.bytes_written": med(lambda d: d["bytes"]),
            "sink.rows_written": med(lambda d: d["rows_written"]),
            "dedup.rows_in": med(lambda d: d["rows_in"]),
            "dedup.rows_dropped": med(lambda d: d["rows_in"] - d["rows_written"]),
            "dedup.useful_ratio": med(lambda d: d["rows_written"] / d["rows_in"]),
        }


class LakehouseSession(Workload):
    """One operator on a live lakehouse: a seeded, closed-loop sequence of
    registry queries, reader calls and incremental collector runs. Each
    request is timed from plan build to the end of a `noop` save, or
    around the reader call or `Collector.run`."""

    name = "lakehouse_session"

    def setup_cycle(self, cycle: int) -> None:
        run = self.run
        run.start_session()
        self.tables = run.path(f"tables{cycle}")
        gen.write_tables(run.seed, TABLES_SF, self.tables)
        self.lake = run.path(f"lake{cycle}")
        self.dedup_base = run.path(f"dedup{cycle}")
        self.feed = ResumeFeed(run, self.lake, run.path(f"src{cycle}"), run.path(f"ckpt{cycle}"))

    def prepare(self) -> None:
        """The collector drains the history into the lakehouse."""
        self.feed.load_history()
        self.per_date: dict[str, int] = {}
        self._count(self.feed.history)
        self.n_history = len(self.feed.history)
        # deduplicate_table writes its snapshot beside the source topic;
        # it runs on a copy so the snapshots do not become "topics" that
        # later reader calls in the session would load (README, defect 2)
        shutil.copytree(self.lake, self.dedup_base, ignore=shutil.ignore_patterns(".*", "_*"))
        self.requests = self._sequence(self.run.rng(4))

    def _count(self, batch: gen.TopicBatch) -> None:
        for ts in batch.timestamp:
            d = time.strftime("%Y-%m-%d", time.gmtime(ts // 1000))
            self.per_date[d] = self.per_date.get(d, 0) + 1

    def _sequence(self, rng) -> list[tuple[str, str]]:
        reqs = [("query", q) for q in FLOOR_QUERIES for _ in range(FLOOR_REPEATS)]
        reqs += [("query", q) for q in HEAVY_QUERIES]
        reqs += [(call, "") for call in READER_CALLS]
        reqs += [("collector_run", "")] * RESUME_RUNS
        dates = sorted(self.per_date)
        out = []
        for i in rng.permutation(len(reqs)):
            kind, arg = reqs[i]
            if kind == "load_topics_batch":
                arg = dates[int(rng.integers(0, len(dates)))]
            out.append((kind, arg))
        return out

    def _request(self, kind: str, arg: str, timed: bool) -> None:
        run = self.run
        if kind == "collector_run":
            with run.tracer.span("stage.increment"):
                fresh = self.feed.next_increment()
            tm = self.feed.step(fresh, timed=timed)
            self._count(fresh)
            if tm is not None and timed:
                self.op_seconds.append(tm.wall)
                self.op_cpu.append(tm.cpu)
                self.op_names.append(kind)
            return
        op = run.op(f"{kind} {arg}")
        tr = run.tracer
        with tr.span(f"op.{kind}", arg=arg), run.guarded(op), OpTimer() as tm:
            if kind == "query":
                with tr.span("plans.build"):
                    df = QUERIES[arg](run.spark, self.tables)
                with tr.span("plans.exec", family=HEAVY_QUERIES.get(arg, "floor")):
                    if timed:
                        df.write.format("noop").mode("overwrite").save()
                    else:
                        self._check_oracle(op, arg, df)
            elif kind == "get_available_dates":
                dates = reader.get_available_dates(self.lake)
                op.check(dates == sorted(self.per_date), "available dates differ")
            elif kind == "load_topics_batch":
                bundles = reader.load_topics_batch(run.spark, self.lake, arg)
                counts = {t: b.dataframe.count() for t, b in bundles.items()}
                want = {RESUME_TOPIC: self.per_date[arg]}
                op.check(counts == want, f"{arg}: counts {counts} != {want}")
                self.topics_discovered = len(bundles)
            elif kind == "analyze_table":
                df = reader.load_topics_batch(run.spark, self.lake, topics=[RESUME_TOPIC])[RESUME_TOPIC].dataframe
                summary = reader.analyze_table(df)
                want = sum(self.per_date.values())
                op.check(summary.n_rows == want, f"analyze n_rows {summary.n_rows} != {want}")
            elif kind == "deduplicate_table":
                res = reader.deduplicate_table(run.spark, self.dedup_base, RESUME_TOPIC)
                n, d = self.n_history, self.feed.n_dup
                want = {"before": n, "after": n - d, "removed": d}
                op.check(res == want, f"dedup {res} != {want}")
        if timed and not op.failed:
            self.op_seconds.append(tm.wall)
            self.op_cpu.append(tm.cpu)
            self.op_names.append(f"{kind} {arg}".strip())

    def _check_oracle(self, op: Op, name: str, df) -> None:
        got = _normalise(df.columns, [tuple(r) for r in df.collect()])
        res = self.oracle.execute(ORACLES[name])
        want = _normalise([d[0] for d in res.description], res.fetchall())
        op.check(got == want, f"result differs from oracle ({len(got[1])} vs {len(want[1])} rows)")

    def warm(self) -> None:
        """Every request kind once, untimed. Registry queries collect their
        result here and check it against their DuckDB oracle."""
        import duckdb

        self.oracle = duckdb.connect()
        for t in ORACLE_TABLES:
            self.oracle.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{self.tables}/{t}.parquet'")
        firsts = {}
        for kind, arg in self.requests:
            if kind != "query":
                firsts.setdefault(kind, arg)
        # the queries go last: they keep the warm-up's deduplicate_table
        # call seconds apart from the timed one (defect 2)
        for kind, arg in firsts.items():
            self._request(kind, arg, timed=False)
        for q in (*FLOOR_QUERIES, *HEAVY_QUERIES):
            self._request("query", q, timed=False)
        self.oracle.close()

    def operate(self, deadline: float) -> None:
        t0 = time.perf_counter()
        for kind, arg in self.requests:
            self._request(kind, arg, timed=True)
        self.timed_region = (t0, time.perf_counter())
        self.session_s = self.timed_region[1] - t0
        self.feed.finish()
        self.bytes_per_row = table_files(self.feed.root)[1] / sum(self.per_date.values())

    def extra_e2e(self):
        return {
            "session_s": (self.session_s, "s"),
            "query_p50_s": (median(self.op_seconds), "s"),
            # the highest quantile with ten requests beyond it
            "query_tail_quantile": (tail_quantile(len(self.op_seconds)) or 0.0, "quantile"),
            "resume_run_p50_s": (median(self.feed.run_seconds), "s"),
        }

    def layer_metrics(self):
        return self.feed.layer_metrics()


def _normalise(cols: list[str], rows: list[tuple]):
    """Column-name-sorted, row-sorted, float-formatted result — the same
    normalisation as scripts/verify_oracle.py."""
    import math

    def norm(v):
        if isinstance(v, float):
            if math.isnan(v):
                return "NaN"
            if v == 0:
                return "0"
            return f"{v:.9g}"
        if hasattr(v, "isoformat"):
            return v.isoformat()
        return str(v)

    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(cols), sorted(tuple(norm(r[i]) for i in order) for r in rows)


WORKLOADS = {w.name: w for w in (ExportBulk, LakehouseSession)}
