"""bento-spark benchmark: one command, two workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see BENCHMARK.json for why each exists):

- ``clips_window_drain``: a staged clip backlog through
  config/examples/clips_window.yaml into the exactly-once sink and DLQ;
- ``clip_transcript_live``: an open-loop generator process feeding the
  clip/transcript join pipeline in perfbench/live.yaml.

With ``--trace 0`` the last stdout line holds the end-to-end metrics; with
``--trace 1`` it holds the per-layer metrics, taken from spans the
benchmark records around calls into the program, from
StreamingQueryProgress and from a Spark event log enabled for that run
only. Outputs are checked against references computed without the program;
any mismatch makes ``correct`` false and the exit code 1. The line before
the result is a JSON ``info`` record: host shape, seed, sample counts and
load.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import harness  # noqa: E402

WORKLOADS = ("clips_window_drain", "clip_transcript_live")

END_TO_END = {
    "setup_s": "s",
    "clips_per_s": "clips/s",
    "latency_p50_ms": "ms",
    "latency_p90_ms": "ms",
    "peak_rss_mb": "MB",
}
HIGHER_IS_BETTER = {"clips_per_s"}


PER_LAYER = {
    "session.get_spark_s": "s",
    "plans.compile_yaml_ms": "ms",
    "plans.run_stream_start_ms": "ms",
    "plans.query_planning_ms": "ms",
    "engine.batches": "count",
    "engine.trigger_ms_p50": "ms",
    "engine.trigger_ms_max": "ms",
    "engine.add_batch_ms": "ms",
    "engine.wal_commit_ms": "ms",
    "engine.commit_offsets_ms": "ms",
    "source.latest_offset_ms": "ms",
    "source.get_batch_ms": "ms",
    "source.backlog_files_end": "count",
    "source.reads_per_clip": "ratio",
    "audio.udf_rows_per_clip": "ratio",
    "audio.python_data_sent_bytes": "bytes",
    "audio.python_data_received_bytes": "bytes",
    "audio.python_total_ms": "ms",
    "audio.python_boot_ms": "ms",
    "state.commit_ms": "ms",
    "state.update_ms": "ms",
    "state.removal_ms": "ms",
    "state.store_instances": "count",
    "state.rows_peak": "count",
    "state.memory_bytes_peak": "bytes",
    "state.dropped_by_watermark": "count",
    "sink.write_batch_ms_p50": "ms",
    "sink.write_batch_ms_max": "ms",
    "sink.files_written": "count",
    "sink.bytes_written": "bytes",
    "sink.rows_committed": "count",
    "dlq.rows_committed": "count",
    "exec.cpu_busy_share": "ratio",
    "exec.gc_ms": "ms",
    "exec.spill_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_fetch_wait_ms": "ms",
    "exec.task_skew": "ratio",
    "gen.lag_max_ms": "ms",
    **{f"trace.overhead_pct.{m}": "%" for m in END_TO_END},
}


class Run:
    """State of one benchmark run, filled in by the workload."""

    def __init__(self, workload: str, seed: int, seconds: int, trace: bool, smoke: bool):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.trace, self.smoke = trace, smoke
        self.tracer = harness.Tracer(f"{workload}-{seed}-{os.getpid()}", trace)
        self.spark = None
        self.setup_s = 0.0
        self.metrics: dict[str, float] = {}
        self.layers: dict[str, float] = {}
        self.samples: dict[str, list[float]] = {}
        self.info: dict = {}
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.measured = (0.0, 0.0)  # wall interval of the timed region
        self.clips_in = 0  # clips the timed region pushed through the program
        self.sampler = harness.RssSampler()

    def sample(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(float(value))


def _time_sink_writes(r: Run) -> None:
    """Record a span around every IdempotentParquetSink.write_batch call."""
    from bento_spark.streaming.sink import IdempotentParquetSink

    inner = IdempotentParquetSink.write_batch

    def write_batch(self, batch_df, epoch_id):
        t = time.time()
        try:
            return inner(self, batch_df, epoch_id)
        finally:
            r.tracer.add("write_batch", t, time.time(), None, epoch=int(epoch_id), sink=self.path)

    IdempotentParquetSink.write_batch = write_batch


def _trace_layers(r: Run) -> None:
    """Per-layer figures that need the whole run: sink write spans, the
    event log and the tracing overhead."""
    lo, hi = r.measured
    writes = [(s["end"] - s["start"]) * 1000 for s in r.tracer.spans
              if s["name"] == "write_batch" and s["start"] >= lo]
    r.layers["sink.write_batch_ms_p50"] = harness.quantile(writes, 0.5)
    r.layers["sink.write_batch_ms_max"] = max(writes, default=0.0)
    r.spark.stop()
    r.spark = None
    cores = int(harness.MASTER[len("local["):-1])
    ev = harness.event_log_layers(harness.read_event_log(), r.measured, cores)
    rows = ev.pop("_python_rows")
    r.layers.update(ev)
    r.layers["audio.udf_rows_per_clip"] = rows / r.clips_in if r.clips_in else 0.0
    base = _untraced_history(r.workload)
    for m in END_TO_END:
        vals = [h[m] for h in base if m in h]
        b = harness.median(vals)
        if b and m in r.metrics:
            d = (b - r.metrics[m]) if m in HIGHER_IS_BETTER else (r.metrics[m] - b)
            r.layers[f"trace.overhead_pct.{m}"] = 100.0 * d / b
    r.info["trace_overhead_basis_runs"] = len(base)


def _history_path(workload: str) -> str:
    return os.path.join(harness.WORK, f"untraced-{workload}.jsonl")


def _untraced_history(workload: str) -> list[dict]:
    try:
        with open(_history_path(workload)) as f:
            return [json.loads(line) for line in f if line.strip()][-20:]
    except OSError:
        return []


def _record_untraced(r: Run) -> None:
    hist = _untraced_history(r.workload)[-19:] + [r.metrics]
    with open(_history_path(r.workload), "w") as f:
        f.writelines(json.dumps(h) + "\n" for h in hist)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="bento-spark benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for the benchmark's own tests")
    a = ap.parse_args(argv)
    missing = [p for p in ("bento_spark", "__spark_entry__.py", "config", "tools")
               if not os.path.exists(os.path.join(harness.CHECKOUT, p))]
    if missing:  # the program under test is built from the checkout's sources
        print(f"perfbench: {harness.CHECKOUT} lacks the program's {missing}", file=sys.stderr)
        return 2
    harness.prepare_environment()
    r = Run(a.workload, a.seed, a.seconds, bool(a.trace), a.smoke)
    r.info.update(harness.host_facts(a.seed), workload=a.workload, trace=bool(a.trace))
    if r.trace:
        _time_sink_writes(r)
    if a.workload == "clips_window_drain":
        from perfbench import drain as wl
    else:
        from perfbench import live as wl
    crashed = None
    try:
        with r.sampler:
            wl.run(r)
            r.sampler.sample()
        r.metrics["setup_s"] = r.setup_s
        r.metrics["peak_rss_mb"] = r.sampler.peak_mb
        for name, vals in r.samples.items():
            r.layers[name] = harness.median(vals)
        if r.trace:
            _trace_layers(r)
    except Exception:
        crashed = traceback.format_exc()
    finally:
        if r.spark is not None:
            r.spark.stop()
        harness.stop_descendants()
        r.tracer.write(os.path.join(harness.WORK, f"trace-{a.workload}.json"))
        harness.cleanup()
    if crashed:
        print(crashed, file=sys.stderr)
        return 1
    r.info.update(loadavg_end=list(os.getloadavg()), problems=r.problems[:20],
                  rss_peak_by_proc=r.sampler.peak_by_name)
    correct = r.failed == 0 and not r.problems
    if not r.trace and correct:
        _record_untraced(r)
    if r.trace:
        out = {m: {"value": float(r.layers.get(m, 0.0)), "unit": u} for m, u in PER_LAYER.items()}
    else:
        out = {m: {"value": float(r.metrics[m]), "unit": u} for m, u in END_TO_END.items()}
    print(json.dumps({"info": r.info}))
    print(json.dumps({"correct": correct, "attempted": max(r.attempted, 1), "failed": r.failed,
                      "metrics": out}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
