"""clip_transcript_live: an open loop into the clip/transcript join.

A separate single-threaded generator process (clipgen.py live) writes one
clip-metadata file and one transcript file every PERIOD_MS on a fixed
wall-clock schedule: PER_FILE clips per file, so an offered rate of
PER_FILE * 1000 / PERIOD_MS clips/s. A clip's transcript lands LAG files
after the clip; one transcript in OOO_EVERY lands OOO_EXTRA files later
still, out of order. The pipeline is perfbench/live.yaml. Rows are tiny
and there is no UDF, so the fixed cost of each micro-batch (planning,
state-store commits, WAL and offset commits, the sink write and marker)
sets the latency.

A row's latency is its epoch's marker commit time minus the scheduled
time of the later of its clip and transcript files. Set-up ends once a
priming file pair has been committed, which takes the query through its
cold first batch; the first WARM_TICKS ticks of the loop are then checked
but not timed, while the query settles into its steady batch rhythm.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

from perfbench import clipgen, gates, harness

NAME = "clip_transcript_live"
PERIOD_MS = 200
PER_FILE = 80  # 400 clips/s offered
LAG = 5  # transcripts land 1 s after their clips ...
OOO_EVERY = 8
OOO_EXTRA = 8  # ... and one in 8 another 1.6 s later
WARM_TICKS = 10
SMOKE_PER_FILE = 8
PIPELINE = os.path.join(harness.BENCH_DIR, "live.yaml")


def _wait_committed(q, sink: str, rows: int, timeout_s: float) -> None:
    """Wait until the sink has committed `rows` rows, the query died, or
    the timeout passed; the correctness gate counts what is missing."""
    deadline = time.time() + timeout_s
    while time.time() < deadline and q.isActive and harness.sink_dir_stats(sink)["rows"] < rows:
        time.sleep(0.1)


def run(r) -> None:
    per_file = SMOKE_PER_FILE if r.smoke else PER_FILE
    ticks = WARM_TICKS + max(1, r.seconds * 1000 // PERIOD_MS)
    sched = clipgen.live_schedule(r.seed, ticks, per_file, LAG, OOO_EVERY, OOO_EXTRA)
    root = os.path.join(harness.RUN_DIR, "live")
    env = {"PERFBENCH_LIVE_CLIPS": os.path.join(root, "clips"),
           "PERFBENCH_LIVE_TRANSCRIPTS": os.path.join(root, "transcripts"),
           "PERFBENCH_LIVE_OUT": os.path.join(root, "out")}
    for d in ("clips", "transcripts"):
        os.makedirs(os.path.join(root, d))

    t_setup = time.time()
    with r.tracer.span("get_spark"):
        spark = r.spark = harness.start_spark(r.trace, "perfbench-live")
    r.layers["session.get_spark_s"] = time.time() - t_setup
    from bento_spark.plans.compiler import compile_yaml

    with r.tracer.span("compile_yaml"):
        t = time.time()
        with open(PIPELINE) as f:
            p = compile_yaml(f.read(), env=env)
        r.sample("plans.compile_yaml_ms", (time.time() - t) * 1000)
    with r.tracer.span("run_stream"):
        t = time.time()
        q = p.run_stream(spark, checkpoint=os.path.join(root, "ck"), available_now=False)
        r.sample("plans.run_stream_start_ms", (time.time() - t) * 1000)
    sink = env["PERFBENCH_LIVE_OUT"]
    with r.tracer.span("prime"):
        prime = clipgen.write_prime(root, r.seed, per_file, PERIOD_MS)
        _wait_committed(q, sink, len(prime), 120)
    r.setup_s = time.time() - t_setup

    start = time.time() + 1.5  # tick 0; leaves the generator time to start
    gen = subprocess.Popen(
        [sys.executable, os.path.join(harness.BENCH_DIR, "clipgen.py"), "live", "--out", root,
         "--seed", str(r.seed), "--start", repr(start), "--ticks", str(ticks),
         "--period-ms", str(PERIOD_MS), "--per-file", str(per_file), "--lag", str(LAG),
         "--ooo-every", str(OOO_EVERY), "--ooo-extra", str(OOO_EXTRA)],
        stdout=subprocess.PIPE, text=True)
    r.sampler.exclude.add(gen.pid)
    last_tick = max(tt for _, tt in sched.values())
    t_measure = start + WARM_TICKS * PERIOD_MS / 1000.0
    try:
        out, _ = gen.communicate(timeout=(last_tick + 1) * PERIOD_MS / 1000.0 + 60)
    finally:
        if gen.poll() is None:
            gen.kill()
            gen.communicate()
    gen_stats = json.loads(out.strip().splitlines()[-1])
    r.layers["gen.lag_max_ms"] = gen_stats["lag_max_ms"]
    _wait_committed(q, sink, len(sched) + len(prime), 60)  # the tail
    error = q.exception()
    q.stop()
    r.measured = (t_measure, time.time())

    # outside the timed region: correctness and latency
    committed = gates.read_committed(sink, ["clip_id"])
    bad = gates.check_exactly_once([row["clip_id"] for _, row in committed],
                                   set(sched) | set(prime), "joined clip")
    if error is not None:
        bad.append(f"query failed: {error}")
    r.attempted += len(sched) + len(prime)
    r.failed += len(bad)
    r.problems += bad[:5]
    marks = gates.marker_times(sink)
    lat, last_commit = [], t_measure
    for ep, row in committed:
        ct, tt = sched.get(row["clip_id"], (0, 0))
        later = max(ct, tt)
        if later >= WARM_TICKS:
            lat.append((marks[ep] - (start + later * PERIOD_MS / 1000.0)) * 1000)
            last_commit = max(last_commit, marks[ep])
    progs = harness.progress_dicts(q)
    batches = harness.data_batches(progs)
    r.info.update({"offered_clips_per_s": per_file * 1000 / PERIOD_MS, "ticks": ticks,
                   "warm_ticks": WARM_TICKS, "latency_rows": len(lat), "batches": len(batches),
                   "gen_lag_ms": gen_stats["lag_max_ms"], "expected_rows": len(sched)})
    r.metrics.update({
        "clips_per_s": len(lat) / (last_commit - t_measure) if last_commit > t_measure else 0.0,
        "latency_p50_ms": harness.quantile(lat, 0.5),
        "latency_p90_ms": harness.quantile(lat, 0.9),
    })
    if r.trace:
        harness.batch_spans(r.tracer, "live", progs)
        measured = [b for b in batches if harness.iso_to_epoch(b["timestamp"]) >= t_measure]
        r.layers.update(harness.progress_layers(measured, len(sched)))
        r.layers["source.reads_per_clip"] = harness.progress_layers(
            batches, len(sched) + len(prime))["source.reads_per_clip"]
        # files not yet taken when the generator wrote its last one
        t_end = start + last_tick * PERIOD_MS / 1000.0
        taken = sum(s.get("numInputRows", 0) for b in batches if harness.iso_to_epoch(b["timestamp"]) <= t_end
                    for s in b.get("sources", []))
        r.layers["source.backlog_files_end"] = (2 * (len(sched) + len(prime)) - taken) / per_file
        st = harness.sink_dir_stats(sink)
        r.layers.update({"sink.files_written": st["files"], "sink.bytes_written": st["bytes"],
                         "sink.rows_committed": st["rows"]})
        r.clips_in = len(sched) + len(prime)
