"""clips_window_drain: a staged backlog of clips drained through the
north-rule YAML pipeline (config/examples/clips_window.yaml) with
``available_now=True``, into the exactly-once window sink plus its DLQ.

The chain is mapping -> bounds_check -> set_error -> audio_features -> 10 s
tumbling window on (key, codec) with 2 s lateness. The audio UDF decodes
every clip twice (the DLQ side query decodes it again); the output is a
few hundred window rows, so the sink and the state store do little. Drains repeat, each on fresh output and checkpoint
directories: at least MIN_DRAINS, then while another one fits in the run's
seconds; figures are medians over drains.
"""

from __future__ import annotations

import os
import shutil
import time

import yaml

from perfbench import clipgen, gates, harness

NAME = "clips_window_drain"
N_CLIPS = 3200
PER_FILE = 80
SMOKE_CLIPS = 800
SMOKE_PER_FILE = 20
MIN_DRAINS = 2
EXAMPLE = os.path.join(harness.CHECKOUT, "config", "examples", "clips_window.yaml")


def _pipeline(src: str, out: str):
    from bento_spark.plans.compiler import compile_yaml

    with open(EXAMPLE) as f:
        text = f.read()
    return compile_yaml(text, overrides={
        "input.parquet.path": src,
        "output.path": os.path.join(out, "windows"),
        "output.dlq": os.path.join(out, "dlq"),
    })


def _drain(spark, src: str, out: str, r) -> tuple[float, float, list]:
    """One drain: returns (seconds from the run_stream call until every
    query ended, the time of the call, the queries)."""
    shutil.rmtree(out, ignore_errors=True)
    with r.tracer.span("compile_yaml"):
        t = time.time()
        p = _pipeline(src, out)
        r.sample("plans.compile_yaml_ms", (time.time() - t) * 1000)
    t0 = time.time()
    with r.tracer.span("run_stream"):
        p.run_stream(spark, checkpoint=os.path.join(out, "ck"), available_now=True)
    r.sample("plans.run_stream_start_ms", (time.time() - t0) * 1000)
    queries = list(spark.streams.active)
    for q in queries:
        q.awaitTermination(150)
    return time.time() - t0, t0, queries


def run(r) -> None:
    n_clips, per_file = (SMOKE_CLIPS, SMOKE_PER_FILE) if r.smoke else (N_CLIPS, PER_FILE)
    with open(EXAMPLE) as f:
        conf = yaml.safe_load(f)
    fpb = int(conf["input"]["parquet"]["max_files_per_trigger"])
    late_from = max(n_clips // 2, 2 * fpb * per_file)
    slot = harness.cache_slot(f"drain-{r.seed}-{n_clips}-{per_file}-{late_from}")
    with r.tracer.span("stage_backlog"):
        src, ref = clipgen.stage_backlog(slot, r.seed, n_clips, per_file, late_from)
    lateness_ms = int(str(conf["window"]["lateness"]).split()[0]) * 1000
    expected = gates.drain_reference(ref, fpb, lateness_ms)
    per_drain = len(expected["windows"]) + len(expected["dlq"])

    # set-up: session, a warm-up drain over the backlog's first file, and
    # the YAML compile of the measured pipeline
    t_setup = time.time()
    with r.tracer.span("get_spark"):
        spark = r.spark = harness.start_spark(r.trace, "perfbench-drain")
    r.layers["session.get_spark_s"] = time.time() - t_setup
    warm_src = os.path.join(harness.RUN_DIR, "warm_src")
    os.makedirs(warm_src)
    for fn in sorted(os.listdir(src))[:1]:
        shutil.copy2(os.path.join(src, fn), warm_src)
    with r.tracer.span("warm_up"):
        _drain(spark, warm_src, os.path.join(harness.RUN_DIR, "warm_out"), r)
    with r.tracer.span("compile_yaml"):
        _pipeline(src, os.path.join(harness.RUN_DIR, "drain"))
    r.setup_s = time.time() - t_setup
    r.samples.clear()

    rates, p50s, p90s, n_rows = [], [], [], []
    t_begin = time.time()
    k = 0
    last = 0.0  # start a drain only if one more of the last one's length fits
    while k < MIN_DRAINS or time.time() - t_begin + last <= r.seconds:
        out = os.path.join(harness.RUN_DIR, "drain")
        try:
            with r.tracer.span("drain", iteration=k):
                elapsed, t0, queries = _drain(spark, src, out, r)
            last = elapsed
            errors = [str(q.exception()) for q in queries if q.exception() is not None]
        except Exception as e:  # a failed drain is counted, not fatal
            r.problems.append(f"drain {k}: {type(e).__name__}: {e}")
            r.attempted += 1 + per_drain
            r.failed += 1 + per_drain
            k += 1
            continue
        k += 1
        # outside the timed region: correctness and per-layer reduction
        progs = [harness.progress_dicts(q) for q in queries]
        r.attempted += sum(len(harness.data_batches(p)) for p in progs) + per_drain
        r.failed += len(errors)
        r.problems += [f"drain {k}: query failed: {e}" for e in errors]
        wdir, ddir = os.path.join(out, "windows"), os.path.join(out, "dlq")
        committed = gates.read_committed(
            wdir, ["window_start", "key", "codec", "n", "total_samples", "avg_rms"])
        rows = [dict(row, window_start=int(row["window_start"].timestamp() * 1000))
                for _, row in committed]
        bad = gates.check_windows(rows, expected["windows"])
        dlq_ids = [row["clip_id"] for _, row in gates.read_committed(ddir, ["clip_id"])]
        bad += gates.check_exactly_once(dlq_ids, expected["dlq"], "dlq clip")
        r.failed += len(bad)
        r.problems += [f"drain {k}: {b}" for b in bad[:5]]
        rates.append(n_clips / elapsed)
        marks = gates.marker_times(wdir)
        lat = [(marks[ep] - t0) * 1000 for ep, _ in committed]
        p50s.append(harness.quantile(lat, 0.5))
        p90s.append(harness.quantile(lat, 0.9))
        n_rows.append(len(rows))
        if r.trace:
            for q, pr in zip(queries, progs):
                harness.batch_spans(r.tracer, q.name or str(q.id), pr)
            layers = harness.progress_layers([b for p in progs for b in p], n_clips)
            if layers["state.dropped_by_watermark"] != expected["late"]:
                r.failed += 1
                r.problems.append(f"drain {k}: dropped_by_watermark "
                                  f"{layers['state.dropped_by_watermark']} != late {expected['late']}")
            st, sd = harness.sink_dir_stats(wdir), harness.sink_dir_stats(ddir)
            layers.update({"sink.files_written": st["files"] + sd["files"],
                           "sink.bytes_written": st["bytes"] + sd["bytes"],
                           "sink.rows_committed": st["rows"], "dlq.rows_committed": sd["rows"]})
            for name, v in layers.items():
                r.sample(name, v)
    r.measured = (t_begin, time.time())
    r.clips_in = n_clips * k
    r.info.update({"backlog_clips": n_clips, "files": len(os.listdir(src)), "files_per_batch": fpb,
                   "late_clips": expected["late"], "dlq_clips": len(expected["dlq"]),
                   "expected_windows": len(expected["windows"]), "drains": k,
                   "window_rows_per_drain": n_rows, "clips_per_s_each": rates})
    r.metrics.update({
        "clips_per_s": harness.median(rates),
        "latency_p50_ms": harness.median(p50s),
        "latency_p90_ms": harness.median(p90s),
    })
