"""Seeded clip generators for the benchmark, written independently of the
program so that the expected results can be computed from the generator's
own per-clip parameters.

Two generators:

- ``stage_backlog`` writes the ``clips_window_drain`` backlog: parquet files
  in event-time order (each file's mtime increases with its index, which is
  the order Spark's file source takes them in), with a stated share of
  late clips, and returns the per-clip reference table.
- ``main()`` (run as ``python3 perfbench/clipgen.py live ...``) is the
  ``clip_transcript_live`` open-loop generator: a separate, single-threaded
  process that writes one clip file and one transcript file per tick on a
  fixed wall-clock schedule, never waiting for the system under test.

Every value is a function of (seed, clip index) only, so one seed always
gives byte-identical files.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import shutil
import sys
import time
import wave

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

BASE_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z, event-time origin

# --- drain backlog ---------------------------------------------------------
SR_CYCLE = (8000, 16000, 22050, 44100)  # i % 4 == 0 -> 8 kHz -> DLQ
CODEC_CYCLE = ("pcm_s16le", "wav", "pcm_f32le")
N_KEYS = 8
EVENT_STEP_MS = 30
LATE_EVERY = 47  # one clip in 47 from `late_from` on is late ...
LATE_SHIFT_MS = 60_000  # ... by 60 s: far behind any micro-batch watermark
LONG_EVERY = 64  # one clip in 64 is a long (8-30 s) clip: task skew

CLIP_SCHEMA = pa.schema(
    [
        ("clip_id", pa.string()),
        ("bytes", pa.binary()),
        ("sr_hz", pa.int32()),
        ("dur_ms", pa.int32()),
        ("codec", pa.string()),
        ("transcript", pa.string()),
        ("event_ts", pa.timestamp("us", tz="UTC")),
    ]
)


def _rng(*key: int) -> np.random.Generator:
    return np.random.default_rng([int(k) & 0xFFFFFFFF for k in key])


def base_wave(seed: int) -> np.ndarray:
    """31 s of two tones plus noise; each clip is a gained slice of it
    (the program's cost does not depend on the samples, so synthesis is
    kept cheap)."""
    rng = _rng(seed, 3)
    t = np.arange(31 * 44100, dtype=np.float64) / 44100
    f1, f2 = rng.uniform(80.0, 3500.0, 2)
    x = 0.4 * np.sin(2 * np.pi * f1 * t) + 0.4 * np.sin(2 * np.pi * f2 * t + rng.uniform(0, 6.28))
    x += rng.standard_normal(t.size) * 0.01
    return np.clip(x, -0.95, 0.95)


def _synth(rng: np.random.Generator, n: int, wave_: np.ndarray) -> np.ndarray:
    off = int(rng.integers(0, wave_.size - n + 1))
    return wave_[off : off + n] * rng.uniform(0.3, 1.0)


def _encode(x: np.ndarray, sr: int, codec: str) -> tuple[bytes, np.ndarray]:
    """Encode float PCM; return (payload, the exact values a decoder yields)."""
    if codec == "pcm_f32le":
        f = x.astype("<f4")
        return f.tobytes(), f.astype(np.float64)
    q = np.round(x * 32767.0).astype("<i2")
    decoded = q.astype(np.float64) / 32768.0
    if codec == "pcm_s16le":
        return q.tobytes(), decoded
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1)
        w.setsampwidth(2)
        w.setframerate(sr)
        w.writeframes(q.tobytes())
    return buf.getvalue(), decoded


def backlog_clip(seed: int, i: int, late_from: int, wave_: np.ndarray) -> dict:
    """Parameters and payload of backlog clip i."""
    rng = _rng(seed, i, 7)
    sr = SR_CYCLE[i % 4]
    if i % LONG_EVERY == LONG_EVERY - 1:
        dur_ms = 8000 + int(rng.integers(0, 22001))
    else:
        dur_ms = 250 + int(rng.integers(0, 1000))
    codec = CODEC_CYCLE[i % 3]
    key = int(rng.integers(0, N_KEYS))
    n = max(1, sr * dur_ms // 1000)
    payload, decoded = _encode(_synth(rng, n, wave_), sr, codec)
    late = i >= late_from and i % LATE_EVERY == 5
    return {
        "clip_id": f"drain-{seed % 10000:04d}{key:02d}-{i:07d}",
        "key": f"{key:02d}",
        "bytes": payload,
        "sr_hz": sr,
        "dur_ms": dur_ms,
        "codec": codec,
        "transcript": f"clip {i} of seed {seed}",
        "event_ms": BASE_MS + i * EVENT_STEP_MS - (LATE_SHIFT_MS if late else 0),
        "late": late,
        "n_samples": int(decoded.size),
        "rms": float(np.sqrt(np.mean(decoded * decoded))),
    }


REF_COLS = ("clip_id", "key", "sr_hz", "codec", "event_ms", "late", "n_samples", "rms", "file")


def stage_backlog(root: str, seed: int, n_clips: int, per_file: int,
                  late_from: int) -> tuple[str, dict]:
    """Write the backlog under root/src (cached: a finished staging leaves
    root/ref.json) and return (src_dir, reference columns). Late clips
    start at index `late_from`, which the caller places at least two
    micro-batches into the backlog so that a watermark exists to drop them."""
    src, ref_path = os.path.join(root, "src"), os.path.join(root, "ref.json")
    if os.path.exists(ref_path):
        with open(ref_path) as f:
            return src, json.load(f)
    shutil.rmtree(root, ignore_errors=True)
    os.makedirs(src)
    ref = {c: [] for c in REF_COLS}
    wave_ = base_wave(seed)
    mtime_ns = BASE_MS * 1_000_000
    for k, lo in enumerate(range(0, n_clips, per_file)):
        clips = [backlog_clip(seed, i, late_from, wave_) for i in range(lo, min(lo + per_file, n_clips))]
        table = pa.table(
            {
                "clip_id": [c["clip_id"] for c in clips],
                "bytes": [c["bytes"] for c in clips],
                "sr_hz": pa.array([c["sr_hz"] for c in clips], pa.int32()),
                "dur_ms": pa.array([c["dur_ms"] for c in clips], pa.int32()),
                "codec": [c["codec"] for c in clips],
                "transcript": [c["transcript"] for c in clips],
                "event_ts": pa.array([c["event_ms"] * 1000 for c in clips], pa.timestamp("us", tz="UTC")),
            },
            schema=CLIP_SCHEMA,
        )
        path = os.path.join(src, f"part-{k:05d}.parquet")
        pq.write_table(table, path)
        os.utime(path, ns=(mtime_ns + k * 1_000_000_000,) * 2)
        with open(path, "rb") as f:  # write back now, not during the timed drain
            os.fsync(f.fileno())
        for c in clips:
            for col in REF_COLS[:-1]:
                ref[col].append(c[col])
            ref["file"].append(k)
    with open(ref_path + ".tmp", "w") as f:
        json.dump(ref, f)
    os.replace(ref_path + ".tmp", ref_path)
    return src, ref


# --- live open loop --------------------------------------------------------
TRANSCRIPT_OFFSET_MS = 3000  # t_event_ts = event_ts + 3 s (join max_lag 30 s)


def live_schedule(seed: int, ticks: int, per_file: int, lag: int, ooo_every: int, ooo_extra: int):
    """Which tick each clip's metadata and transcript land in.

    Clip j of tick u lands in clip file u. Its transcript lands `lag` files
    later, except for one clip in `ooo_every` (seeded choice) whose
    transcript lands `lag + ooo_extra` files later: out of order with
    respect to its neighbours. Returns {clip_id: (clip_tick, transcript_tick)}.
    """
    out = {}
    for u in range(ticks):
        ooo = _rng(seed, u, 11).integers(0, ooo_every, per_file) == 0
        for j in range(per_file):
            out[live_clip_id(seed, u, j)] = (u, u + lag + (ooo_extra if ooo[j] else 0))
    return out


def live_clip_id(seed: int, u: int, j: int) -> str:
    return f"live-{seed % 10000:04d}-{u:06d}-{j:04d}"


def live_tables(seed: int, sched: dict, per_file: int, period_ms: int) -> list:
    """[(clip table or None, transcript table or None)] per tick, built
    before the loop starts so that each tick only writes."""
    last = max(tt for _, tt in sched.values())
    due: list[list[tuple[str, int]]] = [[] for _ in range(last + 1)]
    for cid, (ct, tt) in sched.items():
        due[tt].append((cid, ct))
    ticks = max(ct for ct, _ in sched.values()) + 1
    out = []
    for u in range(last + 1):
        clips = None
        if u < ticks:
            clips = pa.table(
                {
                    "clip_id": [live_clip_id(seed, u, j) for j in range(per_file)],
                    "codec": [CODEC_CYCLE[(u + j) % 3] for j in range(per_file)],
                    "sr_hz": pa.array([SR_CYCLE[(u * 7 + j) % 4] for j in range(per_file)], pa.int32()),
                    "event_ts": pa.array([live_event_ms(u, j, per_file, period_ms) * 1000
                                          for j in range(per_file)], pa.timestamp("us", tz="UTC")),
                }
            )
        trans = None
        if due[u]:
            rows = sorted(due[u])
            trans = pa.table(
                {
                    "clip_id": [cid for cid, _ in rows],
                    "transcript": [f"words of {cid}" for cid, _ in rows],
                    "t_event_ts": pa.array(
                        [(live_event_ms(ct, int(cid.rsplit("-", 1)[1]), per_file, period_ms)
                          + TRANSCRIPT_OFFSET_MS) * 1000 for cid, ct in rows],
                        pa.timestamp("us", tz="UTC")),
                }
            )
        out.append((clips, trans))
    return out


def live_event_ms(u: int, j: int, per_file: int, period_ms: int) -> int:
    return BASE_MS + u * period_ms + j * period_ms // per_file


def write_prime(out: str, seed: int, per_file: int, period_ms: int) -> list[str]:
    """One clip file and its transcript file, a minute before the schedule
    in event time, that take the query through its first (cold) batch
    before the open loop starts. Returns the clip ids."""
    ids = [f"prime-{seed % 10000:04d}-{j:04d}" for j in range(per_file)]
    ev = [live_event_ms(0, j, per_file, period_ms) - 60_000 for j in range(per_file)]
    ts = pa.timestamp("us", tz="UTC")
    clips = pa.table({
        "clip_id": ids,
        "codec": [CODEC_CYCLE[j % 3] for j in range(per_file)],
        "sr_hz": pa.array([SR_CYCLE[j % 4] for j in range(per_file)], pa.int32()),
        "event_ts": pa.array([e * 1000 for e in ev], ts),
    })
    trans = pa.table({
        "clip_id": ids,
        "transcript": [f"words of {c}" for c in ids],
        "t_event_ts": pa.array([(e + TRANSCRIPT_OFFSET_MS) * 1000 for e in ev], ts),
    })
    _write_atomic(clips, os.path.join(out, "clips"), "c-prime.parquet")
    _write_atomic(trans, os.path.join(out, "transcripts"), "t-prime.parquet")
    return ids


def _write_atomic(table: pa.Table, d: str, name: str) -> None:
    tmp = os.path.join(d, "." + name + ".tmp")  # hidden: the file source skips it
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(d, name))


def run_live(out: str, seed: int, start: float, ticks: int, period_ms: int, per_file: int,
             lag: int, ooo_every: int, ooo_extra: int) -> dict:
    sched = live_schedule(seed, ticks, per_file, lag, ooo_every, ooo_extra)
    tables = live_tables(seed, sched, per_file, period_ms)
    cdir, tdir = os.path.join(out, "clips"), os.path.join(out, "transcripts")
    lag_max = 0.0
    for u, (clips, trans) in enumerate(tables):
        due = start + u * period_ms / 1000.0
        now = time.time()
        if due > now:
            time.sleep(due - now)
        lag_max = max(lag_max, time.time() - due)
        if clips is not None:
            _write_atomic(clips, cdir, f"c-{u:06d}.parquet")
        if trans is not None:
            _write_atomic(trans, tdir, f"t-{u:06d}.parquet")
    return {"lag_max_ms": lag_max * 1000.0, "ticks": len(tables)}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("mode", choices=["live"])
    ap.add_argument("--out", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--start", type=float, required=True, help="wall-clock time of tick 0")
    ap.add_argument("--ticks", type=int, required=True, help="clip files to write")
    ap.add_argument("--period-ms", type=int, required=True)
    ap.add_argument("--per-file", type=int, required=True)
    ap.add_argument("--lag", type=int, required=True)
    ap.add_argument("--ooo-every", type=int, required=True)
    ap.add_argument("--ooo-extra", type=int, required=True)
    a = ap.parse_args(argv)
    stats = run_live(a.out, a.seed, a.start, a.ticks, a.period_ms, a.per_file,
                     a.lag, a.ooo_every, a.ooo_extra)
    print(json.dumps(stats), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
