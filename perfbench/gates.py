"""Correctness gates. Each compares what the program committed with a
reference computed from the generator's own parameters, without the
program, and returns one line per mismatch; an empty list means correct."""

from __future__ import annotations

import os
from collections import Counter

import pyarrow.parquet as pq

WINDOW_MS = 10_000
RMS_TOL = 1e-6


def read_committed(sink_path: str, columns: list[str]) -> list[tuple[int, dict]]:
    """(epoch, row) for every row of every committed epoch of an
    IdempotentParquetSink directory. Epochs without a commit marker are
    ignored, as the sink's own readers ignore them."""
    commits = os.path.join(sink_path, "commits")
    if not os.path.isdir(commits):
        return []
    out = []
    for ep in sorted(int(x) for x in os.listdir(commits) if x.isdigit()):
        d = os.path.join(sink_path, "data", f"_bid={ep}")
        for fn in sorted(os.listdir(d)) if os.path.isdir(d) else []:
            if fn.endswith(".parquet"):
                for row in pq.read_table(os.path.join(d, fn), columns=columns).to_pylist():
                    out.append((ep, row))
    return out


def marker_times(sink_path: str) -> dict[int, float]:
    """Commit time (epoch seconds) of each committed epoch's marker."""
    commits = os.path.join(sink_path, "commits")
    return {int(x): os.stat(os.path.join(commits, x)).st_mtime_ns / 1e9
            for x in os.listdir(commits) if x.isdigit()} if os.path.isdir(commits) else {}


# ----------------------------------------------------------------- drain
def drain_reference(ref: dict, files_per_batch: int, lateness_ms: int) -> dict:
    """Expected windows and DLQ set of the clips_window drain.

    Applies the event-time watermark per micro-batch: batch b holds files
    [b*files_per_batch, (b+1)*files_per_batch); the watermark used to drop
    late rows in batch b trails the largest event time of earlier batches by
    the lateness. A clip is counted late when its window ends at or before
    the watermark of two batches back (the oldest one Spark may apply) and
    on time when its event time is not below the current one; a clip
    between the two would make the result depend on Spark internals, so the
    reference refuses it. Windows are emitted when the final watermark
    passes their end.
    """
    n = len(ref["clip_id"])
    batch = [f // files_per_batch for f in ref["file"]]
    nb = max(batch) + 1 if n else 0
    ok = [ref["sr_hz"][i] > 8000 for i in range(n)]
    max_ts = [None] * nb
    for i in range(n):
        if ok[i]:
            b = batch[i]
            max_ts[b] = ref["event_ms"][i] if max_ts[b] is None else max(max_ts[b], ref["event_ms"][i])
    wm, run = [], None  # wm[b]: watermark in effect while batch b runs
    for b in range(nb):
        wm.append(run - lateness_ms if run is not None else None)
        if max_ts[b] is not None:
            run = max_ts[b] if run is None else max(run, max_ts[b])
    final_wm = run - lateness_ms if run is not None else None
    windows: dict[tuple, list] = {}
    late = 0
    for i in range(n):
        if not ok[i]:
            continue
        b, ts = batch[i], ref["event_ms"][i]
        wstart = ts - ts % WINDOW_MS
        old = wm[b - 1] if b >= 1 else None
        is_late = old is not None and wstart + WINDOW_MS <= old
        on_time = wm[b] is None or ts >= wm[b]
        if is_late == on_time:
            raise ValueError(f"clip {ref['clip_id'][i]} is neither clearly late nor on time")
        if is_late:
            late += 1
            continue
        w = windows.setdefault((wstart, ref["key"][i], ref["codec"][i]), [0, 0, 0.0])
        w[0] += 1
        w[1] += ref["n_samples"][i]
        w[2] += ref["rms"][i]
    emitted = {k: (v[0], v[1], v[2] / v[0]) for k, v in windows.items()
               if final_wm is not None and k[0] + WINDOW_MS <= final_wm}
    dlq = {ref["clip_id"][i] for i in range(n) if not ok[i]}
    return {"windows": emitted, "dlq": dlq, "late": late}


def check_windows(rows: list[dict], expected: dict) -> list[str]:
    """rows: committed window rows (window_start as epoch ms, key, codec, n,
    total_samples, avg_rms)."""
    problems = []
    seen = Counter((r["window_start"], r["key"], r["codec"]) for r in rows)
    problems += [f"window {k} committed {c} times" for k, c in seen.items() if c > 1]
    got = {(r["window_start"], r["key"], r["codec"]): r for r in rows}
    problems += [f"window {k} missing" for k in expected if k not in got]
    problems += [f"window {k} unexpected" for k in got if k not in expected]
    for k, (n, samples, rms) in expected.items():
        r = got.get(k)
        if r is None:
            continue
        if r["n"] != n or r["total_samples"] != samples or abs(r["avg_rms"] - rms) > RMS_TOL:
            problems.append(f"window {k}: got n={r['n']} samples={r['total_samples']} "
                            f"rms={r['avg_rms']:.9f}, want {n} {samples} {rms:.9f}")
    return problems


def check_exactly_once(ids: list[str], expected: set[str], what: str) -> list[str]:
    """Every expected id committed exactly once, and nothing else."""
    seen = Counter(ids)
    problems = [f"{what} {k} committed {c} times" for k, c in seen.items() if c > 1]
    problems += [f"{what} {k} missing" for k in sorted(expected - seen.keys())]
    problems += [f"{what} {k} unexpected" for k in sorted(seen.keys() - expected)]
    return problems

