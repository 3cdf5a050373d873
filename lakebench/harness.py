"""One benchmark invocation: set-up cycles, warm-up, the timed loop,
checks, and the end-to-end or per-layer metrics."""

from __future__ import annotations

import json
import os
import statistics
import time

from redpanda_to_parquet_writer_spark import collector as C
from redpanda_to_parquet_writer_spark import reader as R
from redpanda_to_parquet_writer_spark.streaming import ingest as I
from redpanda_to_parquet_writer_spark.streaming import metrics as M
from redpanda_to_parquet_writer_spark.streaming import sink as K
from spans import Tracer, median, self_times
from workloads import (
    SETUP_CYCLES,
    WORKLOADS,
    ExportBulk,
    Run,
    StreamProgress,
    peak_rss_mb,
)

#: StreamingQueryProgress.durationMs key -> per-layer metric
STREAM_KEYS = {
    "triggerExecution": "stream.trigger_execution_ms",
    "addBatch": "stream.add_batch_ms",
    "queryPlanning": "stream.query_planning_ms",
    "latestOffset": "stream.latest_offset_ms",
    "walCommit": "stream.wal_commit_ms",
    "commitOffsets": "stream.commit_offsets_ms",
}


def instrument(tracer: Tracer, progress: StreamProgress) -> None:
    """Wrap the package's public functions in spans, at the module
    attribute each caller looks them up through (no-op when off).

    Streaming progress is read where the collector's own listener
    receives it: a second Python listener on the session cost about a
    second per drain (7.3 s -> 10.5 s per export, measured), which a
    traced run must not add."""
    w = tracer.wrap
    tracer.tap(M.IngestMetricsListener, "onQueryProgress", lambda _listener, event: progress.record(event))
    w(C.Collector, "run", "collector.run")
    w(C.Collector, "run_topic", "collector.run_topic")
    w(C, "ingest_available_now", "ingest.ingest_available_now")
    w(C, "existing_max_offsets", "sink.existing_max_offsets")
    w(C, "internal_consistency", "validate.internal_consistency")
    w(M.IngestMetricsListener, "wait_quiesce", "metrics.wait_quiesce")
    w(I, "prepare_envelope_batch", "ingest.prepare_envelope_batch")
    w(I, "infer_json_schema", "decode.infer_json_schema")
    w(I, "decode_json", "decode.decode_json")
    w(
        I, "flatten_struct_columns", "flatten.flatten_struct_columns",
        on_result=lambda s, df: s.attrs.update(columns_out=len(df.columns)),
    )
    w(I, "write_date_partitioned", "sink.write_date_partitioned")
    w(I, "merge_dedup_append", "sink.merge_dedup_append")
    w(K, "write_date_partitioned", "sink.write_date_partitioned")
    w(K, "dedup_frame_for_merge", "sink.dedup_frame_for_merge")
    w(K, "anti_join_dedup", "dedup.anti_join_dedup")
    w(R, "get_available_dates", "reader.get_available_dates")
    w(R, "load_topics_batch", "reader.load_topics_batch")
    w(R, "analyze_table", "reader.analyze_table")
    w(R, "deduplicate_table", "reader.deduplicate_table")


def execute(name: str, seed: int, seconds: float, trace: bool, work: str, out: str) -> dict:
    run = Run(seed, trace, work)
    wl = WORKLOADS[name](run)
    tracer = run.tracer
    progress = StreamProgress()
    instrument(tracer, progress)
    try:
        cycles = []
        for cycle in range(SETUP_CYCLES):
            t0 = time.perf_counter()
            with tracer.span("setup.cycle"):
                wl.setup_cycle(cycle)
            cycles.append(time.perf_counter() - t0)
        get_spark_s = median(run.get_spark_s)
        # only the first cycle launches the JVM: its session start's extra
        # time over a restart is counted once
        launch_s = run.get_spark_s[0] - median(run.get_spark_s[1:])
        t0 = time.perf_counter()
        with tracer.span("setup.prepare"):
            wl.prepare()
        with tracer.span("setup.warm"):
            wl.warm()
        warm_s = time.perf_counter() - t0
        setup_s = launch_s + median(cycles) + warm_s
        first_span = len(tracer.spans)
        progress.batches.clear()
        t0 = time.perf_counter()
        wl.operate(t0 + seconds)
        operate_s = time.perf_counter() - t0
        rss = peak_rss_mb(run)
        e2e = {
            "op_cpu_mean_s": statistics.fmean(wl.op_cpu) if wl.op_cpu else 0.0,
            "parquet_bytes_per_row": wl.bytes_per_row,
            "setup_s": setup_s,
        }
        wall_mean_s = statistics.fmean(wl.op_seconds) if wl.op_seconds else 0.0
        report = {k: (v, E2E_UNITS[k]) for k, v in e2e.items()}
        # wall times, printed but not gated: on a host whose CPUs are
        # stolen by other guests for minutes at a time they spread more
        # between runs than any bound allows (README, End-to-end metrics)
        report["op_p50_s"] = (median(wl.op_seconds), "s")
        report["op_mean_s"] = (wall_mean_s, "s")
        report["op_cpu_p50_s"] = (median(wl.op_cpu), "s")
        report["setup.jvm_launch_s"] = (launch_s, "s")
        report["setup.cycle_s"] = (median(cycles), "s")
        report["setup.prepare_and_warm_s"] = (warm_s, "s")
        report["peak_rss_mb"] = (rss, "MB")
        report["ops_timed"] = (len(wl.op_seconds), "count")
        report["operate_wall_s"] = (operate_s, "s")
        report.update(wl.extra_e2e())
        report["ops_failed_share"] = (run.failed / max(run.attempted, 1), "share")
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()}
        if trace:
            tracer.resolve_counts()
            layers = layer_metrics(wl, tracer.spans[first_span:], progress, get_spark_s)
            layers["trace.root_coverage"] = _coverage(tracer.spans[first_span:], wl.timed_region)
            layers["spark.peak_rss_mb"] = rss
            layers["op.wall_p50_s"] = median(wl.op_seconds)
            layers["op.wall_mean_s"] = wall_mean_s
            if isinstance(wl, ExportBulk):
                layers["baseline.local1_export_rows_per_s"] = _single_core_baseline(wl)
            tracer.dump(os.path.join(out, f"{name}-{seed}-spans.jsonl"))
            metrics = {k: {"value": v, "unit": LAYER_UNITS[k]} for k, v in layers.items()}
            report.update(_overhead(out, name, seed, e2e["op_cpu_mean_s"], wall_mean_s))
        line = {
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": metrics,
        }
        ops = list(zip(wl.op_names, wl.op_seconds, wl.op_cpu))
        return {"line": line, "report": report, "errors": run.errors, "ops": ops}
    finally:
        tracer.unwrap()
        run.stop()


E2E_UNITS = {
    "op_cpu_mean_s": "s",
    "parquet_bytes_per_row": "B/row",
    "setup_s": "s",
}


def _overhead(out: str, name: str, seed: int, cpu_mean_s: float, wall_mean_s: float) -> dict:
    """Traced per-operation CPU and wall means against those of the last
    untraced run of the same workload and seed in this directory, when
    there is one."""
    path = os.path.join(out, f"{name}-{seed}-e2e.json")
    if not os.path.exists(path):
        return {}
    with open(path) as f:
        base = json.load(f)["ops"]
    if not base:
        return {}
    return {
        "trace_overhead.op_cpu_mean_s": (cpu_mean_s / statistics.fmean(o[2] for o in base), "ratio"),
        "trace_overhead.op_mean_s": (wall_mean_s / statistics.fmean(o[1] for o in base), "ratio"),
    }


def _coverage(spans, region: tuple[float, float]) -> float:
    """Summed duration of the root spans (operations, their checks and
    their input staging) opened in the timed region, over the region's
    wall time. Time that no root span covers lowers it."""
    lo, hi = region
    covered = sum(s.seconds for s in spans if s.parent is None and lo <= s.start <= hi)
    return covered / (hi - lo)


def _single_core_baseline(wl: ExportBulk) -> float:
    """The same export at local[1]: the single-threaded baseline. The
    JVM stays warm across the session restart, so no warm-up export."""
    run = wl.run
    run.start_session(master="local[1]")
    before = len(wl.op_seconds)
    wl.topic_seconds.clear()
    wl._export(timed=True)
    seconds = wl.op_seconds[before:]
    del wl.op_seconds[before:], wl.op_cpu[before:], wl.op_names[before:]
    rows = sum(len(b) - b.n_null_ts for b in wl.batches.values())
    return rows / seconds[0] if seconds else 0.0


#: per-layer metric -> unit, in report order
LAYER_UNITS: dict[str, str] = {
    "export.rows_per_s.json": "rows/s",
    "export.rows_per_s.msgpack": "rows/s",
    "decode.infer_json_schema_s": "s",
    "decode.raw_value_rows": "count",
    "flatten.columns_out": "count",
    "sink.write_date_partitioned_s": "s",
    "sink.write_date_partitioned.jobs": "count",
    "sink.files_written": "count",
    "sink.bytes_written": "B",
    "sink.rows_written": "count",
    "sink.existing_max_offsets_s": "s",
    "sink.existing_max_offsets.jobs": "count",
    "sink.dedup_frame_for_merge_s": "s",
    "sink.merge_dedup_append_s": "s",
    "dedup.rows_in": "count",
    "dedup.rows_dropped": "count",
    "dedup.useful_ratio": "ratio",
    "collector.run_topic_s": "s",
    "collector.run_topic_self_s": "s",
    "validate.internal_consistency_s": "s",
    "metrics.wait_quiesce_s": "s",
    "ingest.ingest_available_now_s": "s",
    "ingest.prepare_envelope_batch_s": "s",
    "ingest.microbatches": "count",
    "ingest.jobs": "count",
    **{m: "ms" for m in STREAM_KEYS.values()},
    "plans.build_s": "s",
    "plans.exec_s": "s",
    "plans.jobs_per_request": "count",
    "plans.stages_per_request": "count",
    "plans.tasks_per_request": "count",
    "plans.multimodal.exec_s": "s",
    "plans.vector.exec_s": "s",
    "plans.text.exec_s": "s",
    "reader.get_available_dates_s": "s",
    "reader.load_topics_batch_s": "s",
    "reader.topics_discovered": "count",
    "reader.analyze_table_s": "s",
    "reader.deduplicate_table_s": "s",
    "session.get_spark_s": "s",
    "spark.tasks_failed": "count",
    "spark.peak_rss_mb": "MB",
    "op.wall_p50_s": "s",
    "op.wall_mean_s": "s",
    "trace.root_coverage": "ratio",
    "baseline.local1_export_rows_per_s": "rows/s",
}


def layer_metrics(wl, spans, progress: StreamProgress, get_spark_s: float) -> dict[str, float]:
    """Per-layer figures over the timed region. Times are medians per
    call; a layer the workload never calls reads 0."""
    by: dict[str, list] = {}
    for s in spans:
        by.setdefault(s.name, []).append(s)
    selfs = self_times(spans)

    def sec(name):
        return median(s.seconds for s in by.get(name, []))

    def jobs(name):
        return median(s.jobs for s in by.get(name, []))

    execs = by.get("plans.exec", [])
    floor = [s for s in execs if s.attrs.get("family") == "floor"]

    def family(f):
        xs = [s.seconds for s in execs if s.attrs.get("family") == f]
        return statistics.fmean(xs) if xs else 0.0

    per_run: dict[str, list] = {}
    for b in progress.batches.values():
        per_run.setdefault(b["run_id"], []).append(b)
    batches = list(progress.batches.values())
    m = {k: 0.0 for k in LAYER_UNITS}
    m.update(
        {
            "decode.infer_json_schema_s": sec("decode.infer_json_schema"),
            "flatten.columns_out": median(
                s.attrs.get("columns_out", 0) for s in by.get("flatten.flatten_struct_columns", [])
            ),
            "sink.write_date_partitioned_s": sec("sink.write_date_partitioned"),
            "sink.write_date_partitioned.jobs": jobs("sink.write_date_partitioned"),
            "sink.existing_max_offsets_s": sec("sink.existing_max_offsets"),
            "sink.existing_max_offsets.jobs": jobs("sink.existing_max_offsets"),
            "sink.dedup_frame_for_merge_s": sec("sink.dedup_frame_for_merge"),
            "sink.merge_dedup_append_s": sec("sink.merge_dedup_append"),
            "collector.run_topic_s": sec("collector.run_topic"),
            "collector.run_topic_self_s": median(selfs[s.id] for s in by.get("collector.run_topic", [])),
            "validate.internal_consistency_s": sec("validate.internal_consistency"),
            "metrics.wait_quiesce_s": sec("metrics.wait_quiesce"),
            "ingest.ingest_available_now_s": sec("ingest.ingest_available_now"),
            "ingest.prepare_envelope_batch_s": sec("ingest.prepare_envelope_batch"),
            "ingest.microbatches": median(len(v) for v in per_run.values()),
            "ingest.jobs": jobs("ingest.ingest_available_now"),
            **{metric: median(b.get(key, 0) for b in batches) for key, metric in STREAM_KEYS.items()},
            "plans.build_s": sec("plans.build"),
            "plans.exec_s": median(s.seconds for s in floor),
            "plans.jobs_per_request": median(s.jobs for s in floor),
            "plans.stages_per_request": median(s.stages for s in floor),
            "plans.tasks_per_request": median(s.tasks for s in floor),
            "plans.multimodal.exec_s": family("multimodal"),
            "plans.vector.exec_s": family("vector"),
            "plans.text.exec_s": family("text"),
            "reader.get_available_dates_s": sec("reader.get_available_dates"),
            "reader.load_topics_batch_s": sec("reader.load_topics_batch"),
            "reader.topics_discovered": getattr(wl, "topics_discovered", 0),
            "reader.analyze_table_s": sec("reader.analyze_table"),
            "reader.deduplicate_table_s": sec("reader.deduplicate_table"),
            "session.get_spark_s": get_spark_s,
            "spark.tasks_failed": sum(s.tasks_failed for s in spans if s.name.startswith("op.")),
        }
    )
    m.update(wl.layer_metrics())
    return m
