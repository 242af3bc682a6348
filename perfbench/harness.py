"""Shared machinery of the benchmark: the scratch root, the Spark session it
measures, host facts, the span tracer, the process-tree RSS sampler and the
reducers for Spark's own instruments (StreamingQueryProgress and the event
log).

Nothing here changes the program: the session comes from
``bento_spark.session.get_spark`` with settings passed through its
``extra_conf`` argument, and every layer is timed from outside.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(BENCH_DIR)
WORK = os.path.join(BENCH_DIR, ".work")
RUN_DIR = os.path.join(WORK, "run")
CACHE_DIR = os.path.join(WORK, "cache")

MASTER = "local[4]"
# get_spark's own default heap (24g) cannot start on a 15 GB host; this one
# is passed through extra_conf and reported with every result.
DRIVER_MEMORY = "3g"


def prepare_environment() -> None:
    """Point every temporary path of the driver, the JVM and the Python
    workers into the run directory, and put the checkout on the workers'
    PYTHONPATH so the benchmark runs from any working directory. Must run
    before pyspark starts a JVM."""
    shutil.rmtree(RUN_DIR, ignore_errors=True)
    tmp = os.path.join(RUN_DIR, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    jvm_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"  # no /tmp/hsperfdata_* either
    for var in ("SPARK_SUBMIT_OPTS", "SPARK_LAUNCHER_OPTS"):
        os.environ[var] = " ".join([os.environ.get(var, ""), jvm_opts]).strip()
    os.environ["PYSPARK_PYTHON"] = sys.executable
    paths = [CHECKOUT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    if CHECKOUT not in sys.path:
        sys.path.insert(0, CHECKOUT)


def cleanup() -> None:
    shutil.rmtree(RUN_DIR, ignore_errors=True)


def stop_descendants(timeout_s: float = 30.0) -> None:
    """Terminate every process this one started (the JVM outlives a stopped
    SparkContext; Python workers follow it) and wait until all have ended."""
    import signal

    procs = _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _comm) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    todo, found = list(kids.get(os.getpid(), ())), []
    while todo:
        pid = todo.pop()
        found.append(pid)
        todo.extend(kids.get(pid, ()))
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for pid in found:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + timeout_s
        while time.time() < deadline:
            found = [p for p in found if os.path.exists(f"/proc/{p}") and _reap(p)]
            if not found:
                return
            time.sleep(0.1)


def _reap(pid: int) -> bool:
    """True while pid is alive; collects it if it is our exited child."""
    try:
        done, _ = os.waitpid(pid, os.WNOHANG)
        return done == 0
    except ChildProcessError:  # not our child: alive until /proc drops it
        try:
            with open(f"/proc/{pid}/stat") as f:
                return f.read().split(")")[-1].split()[0] != "Z"
        except OSError:
            return False


CACHE_KEEP = 2  # cached input sets kept per workload


def cache_slot(name: str) -> str:
    """Directory for cached inputs, keeping only the CACHE_KEEP most
    recently used slots of the same workload so that many seeds do not fill
    the disk."""
    os.makedirs(CACHE_DIR, exist_ok=True)
    slot = os.path.join(CACHE_DIR, name)
    prefix = name.split("-", 1)[0] + "-"
    others = sorted(
        (p for p in glob.glob(os.path.join(CACHE_DIR, prefix + "*")) if p != slot),
        key=os.path.getmtime,
    )
    for old in others[: max(0, len(others) - (CACHE_KEEP - 1))]:
        shutil.rmtree(old, ignore_errors=True)
    if os.path.isdir(slot):
        os.utime(slot)
    return slot


def spark_conf(trace: bool) -> dict[str, str]:
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.local.dir": os.path.join(RUN_DIR, "tmp"),
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }
    if trace:
        logdir = os.path.join(RUN_DIR, "eventlog")
        os.makedirs(logdir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + logdir,
            "spark.eventLog.compress": "false",
        })
    return conf


def start_spark(trace: bool, app_name: str):
    from bento_spark.session import get_spark

    spark = get_spark(app_name=app_name, master=MASTER, extra_conf=spark_conf(trace))
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# --------------------------------------------------------------- host facts
def _meminfo_kb(field: str) -> int | None:
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith(field + ":"):
                    return int(line.split()[1])
    except OSError:
        pass
    return None


def _java_version() -> str | None:
    try:
        out = subprocess.run(["java", "-XX:-UsePerfData", "-version"],
                             capture_output=True, text=True, timeout=30)
    except (OSError, subprocess.TimeoutExpired):
        return None
    first = (out.stderr or out.stdout).splitlines()
    return first[0] if first else None


def _git_commit() -> str | None:
    try:
        out = subprocess.run(["git", "-C", CHECKOUT, "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=30)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None if out.returncode == 0 else None


def program_digest() -> str:
    """sha256 over the program's sources: identifies the code measured when
    the checkout is not a git repository."""
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(CHECKOUT, "bento_spark", "**", "*.py"), recursive=True))
    files += [os.path.join(CHECKOUT, "__spark_entry__.py")]
    for p in files:
        h.update(os.path.relpath(p, CHECKOUT).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def host_facts(seed: int) -> dict:
    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "mem_total_kb": _meminfo_kb("MemTotal"),
        "driver_memory": DRIVER_MEMORY,
        "master": MASTER,
        "pyspark": pyspark.__version__,
        "java": _java_version(),
        "git_commit": _git_commit(),
        "program_digest": program_digest(),
        "seed": seed,
        "loadavg_start": list(os.getloadavg()),
    }


# ------------------------------------------------------------------- tracer
class Tracer:
    """Spans recorded around calls into each layer, kept in memory and
    written out once when the run ends."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._lock = threading.Lock()  # foreachBatch callbacks add spans from another thread

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        if not self.enabled:
            return -1
        with self._lock:
            sid = len(self.spans)
            self.spans.append({"id": sid, "name": name, "start": start, "end": end,
                               "parent": parent, "run": self.run_id, **attrs})
        return sid

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        """Time a block; the innermost open span becomes its parent."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sid = self.add(name, time.time(), 0.0, parent, **attrs)
        self._stack.append(sid)
        try:
            yield sid
        finally:
            self._stack.pop()
            self.spans[sid]["end"] = time.time()

    def self_time(self, sid: int) -> float:
        """Duration of span sid minus the part of it its children cover."""
        s = self.spans[sid]
        kids = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                for c in self.spans if c["parent"] == sid]
        return (s["end"] - s["start"]) - union_seconds(kids)

    def write(self, path: str) -> None:
        if not self.enabled:
            return
        for s in self.spans:
            s["self_s"] = self.self_time(s["id"])
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans}, f)


# ---------------------------------------------------------------- RSS sampler
def _proc_table() -> dict[int, tuple[int, str]]:
    """pid -> (ppid, command name) for every process."""
    table = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        table[int(d)] = (ppid, stat[stat.index("(") + 1 : stat.rindex(")")])
    return table


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * (os.sysconf("SC_PAGE_SIZE") // 1024)
    except OSError:
        return 0


class RssSampler:
    """Peak summed RSS of this process and its descendants (the JVM and the
    Python workers), sampled from /proc. Pids in `exclude` and their
    descendants (the load generator) are left out."""

    def __init__(self, interval_s: float = 0.1):
        self.interval_s = interval_s
        self.exclude: set[int] = set()
        self.peak_kb = 0
        self.peak_by_name: dict[str, int] = {}  # MB per command name at the peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def sample(self) -> int:
        procs = _proc_table()
        kids: dict[int, list[int]] = {}
        for pid, (ppid, _comm) in procs.items():
            kids.setdefault(ppid, []).append(pid)
        todo, total, by_name = [os.getpid()], 0, {}
        while todo:
            pid = todo.pop()
            if pid in self.exclude or pid not in procs:
                continue
            comm = procs[pid][1]
            # Only the JVM and Python processes own memory here. A helper the
            # JVM spawns reports the JVM's own pages between vfork and exec
            # (it still carries the name of the spawning thread), so it is
            # not counted.
            if comm == "java" or comm.startswith("python"):
                kb = _rss_kb(pid)
                total += kb
                by_name[comm] = by_name.get(comm, 0) + kb
            todo.extend(kids.get(pid, ()))
        if total > self.peak_kb:
            self.peak_kb = total
            self.peak_by_name = {k: v // 1024 for k, v in by_name.items()}
        return total

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self.sample()

    def __enter__(self) -> RssSampler:
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024.0


# ----------------------------------------------------------------- statistics
def quantile(values, q: float) -> float:
    """Linear-interpolated quantile q in [0, 1]; 0.0 for no values."""
    v = sorted(values)
    if not v:
        return 0.0
    pos = q * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def median(values) -> float:
    v = list(values)
    return statistics.median(v) if v else 0.0


# ------------------------------------------------------------- progress reduce
PHASES = ("latestOffset", "getBatch", "queryPlanning", "walCommit", "addBatch", "commitOffsets")


def progress_dicts(query) -> list[dict]:
    return [json.loads(p.json) for p in query.recentProgress]


def data_batches(progs: list[dict]) -> list[dict]:
    """Progress records of batches that executed (no idle triggers)."""
    return [p for p in progs if "addBatch" in p.get("durationMs", {})]


def iso_to_epoch(ts: str) -> float:
    from datetime import datetime

    return datetime.strptime(ts.replace("Z", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def batch_spans(tracer: Tracer, query_name: str, progs: list[dict]) -> None:
    """One span per executed batch (epoch), with its durationMs phases as
    children laid out in execution order from the batch start. A sink
    write_batch span of the same epoch that lies inside the batch becomes a
    child of its addBatch phase."""
    if not tracer.enabled:
        return
    for p in data_batches(progs):
        start = iso_to_epoch(p["timestamp"])
        d = p["durationMs"]
        end = start + d.get("triggerExecution", 0) / 1000.0
        bid = tracer.add(f"batch:{query_name}", start, end, batch=p["batchId"],
                         rows=p.get("numInputRows", 0))
        t = start
        for ph in PHASES:
            if ph in d:
                pid = tracer.add(f"phase:{ph}", t, t + d[ph] / 1000.0, bid, batch=p["batchId"])
                t += d[ph] / 1000.0
                if ph == "addBatch":
                    for s in tracer.spans:
                        if (s["name"] == "write_batch" and s["parent"] is None
                                and s.get("epoch") == p["batchId"]
                                and start <= s["start"] and s["end"] <= end + 0.05):
                            s["parent"] = pid


def progress_layers(progs: list[dict], clips: int) -> dict:
    """engine.*, source.*, state.* and plans.query_planning_ms from the
    progress records of every query of a workload."""
    b = data_batches(progs)
    d = [p["durationMs"] for p in b]

    def tot(k):
        return float(sum(x.get(k, 0) for x in d))

    ops = [op for p in b for op in p.get("stateOperators", [])]
    rows_by_src: dict[str, int] = {}
    for p in b:
        for s in p.get("sources", []):
            src = s["description"]
            rows_by_src[src] = rows_by_src.get(src, 0) + int(s.get("numInputRows", 0))
    trig = [x.get("triggerExecution", 0) for x in d]
    return {
        "engine.batches": len(b),
        "engine.trigger_ms_p50": quantile(trig, 0.5),
        "engine.trigger_ms_max": float(max(trig, default=0)),
        "engine.add_batch_ms": tot("addBatch"),
        "engine.wal_commit_ms": tot("walCommit"),
        "engine.commit_offsets_ms": tot("commitOffsets"),
        "plans.query_planning_ms": tot("queryPlanning"),
        "source.latest_offset_ms": tot("latestOffset"),
        "source.get_batch_ms": tot("getBatch"),
        "source.reads_per_clip": (max(rows_by_src.values()) / clips) if rows_by_src and clips else 0.0,
        "state.commit_ms": float(sum(o.get("commitTimeMs", 0) for o in ops)),
        "state.update_ms": float(sum(o.get("allUpdatesTimeMs", 0) for o in ops)),
        "state.removal_ms": float(sum(o.get("allRemovalsTimeMs", 0) for o in ops)),
        "state.store_instances": float(max((o.get("numStateStoreInstances", 0) for o in ops), default=0)),
        "state.rows_peak": float(max((o.get("numRowsTotal", 0) for o in ops), default=0)),
        "state.memory_bytes_peak": float(max((o.get("memoryUsedBytes", 0) for o in ops), default=0)),
        "state.dropped_by_watermark": float(sum(o.get("numRowsDroppedByWatermark", 0) for o in ops)),
    }


# ------------------------------------------------------------ event-log reduce
PYTHON_NODES = ("MapInPandas", "MapInArrow", "ArrowEvalPython", "BatchEvalPython",
                "FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas", "AggregateInPandas",
                "WindowInPandas", "ArrowWindowPython", "FlatMapGroupsInArrow")
PY_METRICS = {
    "data sent to Python workers": "audio.python_data_sent_bytes",
    "data returned from Python workers": "audio.python_data_received_bytes",
    "time to run Python workers": "audio.python_total_ms",
    "time to start Python workers": "audio.python_boot_ms",
}


def _walk_plan(node: dict, out: dict[int, tuple[str, str]]) -> None:
    for m in node.get("metrics", []):
        out[int(m["accumulatorId"])] = (node.get("nodeName", ""), m["name"])
    for c in node.get("children", []):
        _walk_plan(c, out)


def read_event_log() -> list[dict]:
    events = []
    paths = glob.glob(os.path.join(RUN_DIR, "eventlog", "**", "*"), recursive=True)
    for path in sorted(p for p in paths if os.path.isfile(p) and "appstatus" not in p):
        with open(path) as f:
            for line in f:
                try:
                    events.append(json.loads(line))
                except ValueError:
                    continue  # a torn last line of a log still being written
    return events


def event_log_layers(events: list[dict], window: tuple[float, float], cores: int) -> dict:
    """exec.* and audio.python_* over tasks that ended inside `window`
    (epoch seconds)."""
    accs: dict[int, tuple[str, str]] = {}
    for e in events:
        ev = e.get("Event", "")
        if ev.endswith("SQLExecutionStart") or ev.endswith("SQLAdaptiveExecutionUpdate"):
            _walk_plan(e.get("sparkPlanInfo", {}), accs)
    lo, hi = window[0] * 1000, window[1] * 1000
    cpu_ns = gc = spill = sw = sr = fetch = 0
    py = {k: 0.0 for k in PY_METRICS.values()}
    py_rows = 0
    stage_tasks: dict[tuple[int, int], list[float]] = {}
    for e in events:
        if e.get("Event") != "SparkListenerTaskEnd":
            continue
        info, m = e.get("Task Info", {}), e.get("Task Metrics") or {}
        if not (lo <= info.get("Finish Time", 0) <= hi):
            continue
        cpu_ns += m.get("Executor CPU Time", 0)
        gc += m.get("JVM GC Time", 0)
        spill += m.get("Disk Bytes Spilled", 0) + m.get("Memory Bytes Spilled", 0)
        w = m.get("Shuffle Write Metrics", {})
        r = m.get("Shuffle Read Metrics", {})
        sw += w.get("Shuffle Bytes Written", 0)
        sr += r.get("Remote Bytes Read", 0) + r.get("Local Bytes Read", 0)
        fetch += r.get("Fetch Wait Time", 0)
        key = (e.get("Stage ID", -1), e.get("Stage Attempt ID", 0))
        stage_tasks.setdefault(key, []).append(info.get("Finish Time", 0) - info.get("Launch Time", 0))
        for a in info.get("Accumulables", []):
            node_metric = accs.get(int(a.get("ID", -1)))
            if not node_metric or node_metric[0] not in PYTHON_NODES:
                continue
            upd = a.get("Update", 0)
            try:
                upd = float(upd)
            except (TypeError, ValueError):
                continue
            if node_metric[1] in PY_METRICS:
                py[PY_METRICS[node_metric[1]]] += upd
            elif node_metric[1] == "number of output rows":
                py_rows += upd
    skew = 1.0
    for durs in stage_tasks.values():
        if len(durs) >= 2:
            med = statistics.median(durs)
            skew = max(skew, max(durs) / med if med > 0 else 1.0)
    wall = max(window[1] - window[0], 1e-9)
    out = {
        "exec.cpu_busy_share": cpu_ns / 1e9 / (wall * cores),
        "exec.gc_ms": float(gc),
        "exec.spill_bytes": float(spill),
        "exec.shuffle_write_bytes": float(sw),
        "exec.shuffle_read_bytes": float(sr),
        "exec.shuffle_fetch_wait_ms": float(fetch),
        "exec.task_skew": skew,
        **py,
        "_python_rows": py_rows,
    }
    return out


def union_seconds(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for a, b in sorted(intervals):
        if b <= a:
            continue
        if cur_e is None or a > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = a, b
        else:
            cur_e = max(cur_e, b)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def sink_dir_stats(path: str) -> dict:
    """Files, bytes and rows under an IdempotentParquetSink directory, read
    from its committed layout (data/_bid=<epoch>/ plus commits/<epoch>)."""
    import pyarrow.parquet as pq

    commits = os.path.join(path, "commits")
    epochs = sorted(int(x) for x in os.listdir(commits) if x.isdigit()) if os.path.isdir(commits) else []
    files = nbytes = rows = 0
    for ep in epochs:
        d = os.path.join(path, "data", f"_bid={ep}")
        for fn in os.listdir(d):
            if fn.endswith(".parquet"):
                files += 1
                nbytes += os.path.getsize(os.path.join(d, fn))
                rows += pq.ParquetFile(os.path.join(d, fn)).metadata.num_rows
    return {"files": files, "bytes": nbytes, "rows": rows}

