"""The benchmark's own tests: its correctness gates reject corrupted
results, and a tiny-size run of each workload completes correctly.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(BENCH))

from perfbench import clipgen, gates  # noqa: E402
from perfbench.run import END_TO_END, PER_LAYER  # noqa: E402


def _write_sink(root, epochs: dict[int, list[dict]], schema: pa.Schema) -> str:
    """An IdempotentParquetSink directory: data/_bid=<e>/ plus commits/<e>."""
    for ep, rows in epochs.items():
        d = os.path.join(root, "data", f"_bid={ep}")
        os.makedirs(d)
        pq.write_table(pa.Table.from_pylist(rows, schema=schema), os.path.join(d, "part-0.parquet"))
        os.makedirs(os.path.join(root, "commits"), exist_ok=True)
        with open(os.path.join(root, "commits", str(ep)), "w") as f:
            json.dump({"epoch": ep, "rows": len(rows)}, f)
    return str(root)


@pytest.fixture(scope="module")
def backlog(tmp_path_factory):
    root = str(tmp_path_factory.mktemp("backlog"))
    src, ref = clipgen.stage_backlog(root, seed=3, n_clips=800, per_file=20, late_from=400)
    return src, ref, gates.drain_reference(ref, files_per_batch=8, lateness_ms=2000)


def test_backlog_is_deterministic_and_in_event_time_order(backlog, tmp_path):
    src, ref, _ = backlog
    _, ref2 = clipgen.stage_backlog(str(tmp_path), seed=3, n_clips=800, per_file=20, late_from=400)
    assert ref2 == ref
    for fn in sorted(os.listdir(src)):
        with open(os.path.join(src, fn), "rb") as a, open(os.path.join(tmp_path, "src", fn), "rb") as b:
            assert a.read() == b.read()
    files = sorted(os.listdir(src))
    assert [os.stat(os.path.join(src, f)).st_mtime_ns for f in files] == sorted(
        os.stat(os.path.join(src, f)).st_mtime_ns for f in files)
    on_time = [ts for ts, late in zip(ref["event_ms"], ref["late"]) if not late]
    assert on_time == sorted(on_time)


def test_drain_reference_counts_late_clips(backlog):
    _, ref, expected = backlog
    designated = sum(1 for late, sr in zip(ref["late"], ref["sr_hz"]) if late and sr > 8000)
    assert expected["late"] == designated > 0
    assert expected["dlq"] == {c for c, sr in zip(ref["clip_id"], ref["sr_hz"]) if sr == 8000}


def _window_rows(expected: dict) -> list[dict]:
    return [{"window_start": k[0], "key": k[1], "codec": k[2], "n": n, "total_samples": s, "avg_rms": r}
            for k, (n, s, r) in expected["windows"].items()]


def test_window_gate_accepts_reference_and_rejects_corruption(backlog):
    _, _, expected = backlog
    rows = _window_rows(expected)
    assert rows and gates.check_windows(rows, expected["windows"]) == []
    assert gates.check_windows(rows[1:], expected["windows"])  # a window missing
    assert gates.check_windows(rows + rows[:1], expected["windows"])  # one twice
    for field, delta in (("n", 1), ("total_samples", 1), ("avg_rms", 2e-6)):
        bad = [dict(rows[0], **{field: rows[0][field] + delta})] + rows[1:]
        assert gates.check_windows(bad, expected["windows"]), field


def test_gates_reject_a_removed_epoch(tmp_path):
    schema = pa.schema([("clip_id", pa.string())])
    ids = [f"c{i}" for i in range(30)]
    sink = _write_sink(tmp_path / "sink", {0: [{"clip_id": c} for c in ids[:10]],
                                           1: [{"clip_id": c} for c in ids[10:20]],
                                           2: [{"clip_id": c} for c in ids[20:]]}, schema)
    got = [row["clip_id"] for _, row in gates.read_committed(sink, ["clip_id"])]
    assert gates.check_exactly_once(got, set(ids), "clip") == []
    os.remove(os.path.join(sink, "commits", "1"))  # epoch 1 never committed
    got = [row["clip_id"] for _, row in gates.read_committed(sink, ["clip_id"])]
    assert len(gates.check_exactly_once(got, set(ids), "clip")) == 10
    shutil.copytree(os.path.join(sink, "data", "_bid=2"), os.path.join(sink, "data", "_bid=3"))
    shutil.copy(os.path.join(sink, "commits", "2"), os.path.join(sink, "commits", "3"))
    got = [row["clip_id"] for _, row in gates.read_committed(sink, ["clip_id"])]
    assert any("2 times" in p for p in gates.check_exactly_once(got, set(ids), "clip"))


def test_live_schedule_is_deterministic_with_stated_disorder():
    a = clipgen.live_schedule(5, ticks=40, per_file=50, lag=2, ooo_every=8, ooo_extra=3)
    assert a == clipgen.live_schedule(5, ticks=40, per_file=50, lag=2, ooo_every=8, ooo_extra=3)
    late = sum(1 for ct, tt in a.values() if tt == ct + 5)
    assert sum(1 for ct, tt in a.values() if tt == ct + 2) + late == len(a) == 2000
    assert 0.08 < late / len(a) < 0.17


def _bench(workload: str, trace: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload, "--seed", "7",
         "--seconds", "2", "--trace", str(trace), "--smoke"],
        capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-4000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", ["clips_window_drain", "clip_transcript_live"])
def test_smoke_run(workload):
    res = _bench(workload, 0)
    assert res["correct"] and res["failed"] == 0 and res["attempted"] > 0
    assert {k: v["unit"] for k, v in res["metrics"].items()} == END_TO_END
    assert all(v["value"] > 0 for v in res["metrics"].values())


def test_smoke_traced_run_prints_every_layer():
    res = _bench("clips_window_drain", 1)
    assert res["correct"]
    assert {k: v["unit"] for k, v in res["metrics"].items()} == PER_LAYER
    assert res["metrics"]["audio.udf_rows_per_clip"]["value"] == 2.0
    assert res["metrics"]["source.reads_per_clip"]["value"] == 2.0


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work", "__pycache__"))
    out = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "clips_window_drain",
                          "--seed", "1", "--seconds", "1", "--trace", "0"],
                         cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert out.returncode != 0 and out.stdout == ""
