"""Profile every Python worker task of a pipeline's batch build with cProfile.

    python tools/profile_workers.py config/examples/clips_window.yaml [--stage-clips N]

Spark's own UDF profiler (``spark.sql.pyspark.udf.profiler``) wraps only
the UDF body, so it cannot show what a worker spends before and after it:
reading the task, setting up files and broadcasts, unpickling the UDF,
reporting. Here the whole task is profiled instead. The tool writes a
small worker module into a scratch directory, puts that directory on the
workers' PYTHONPATH and names it in ``spark.python.worker.module``; the
module runs pyspark's ``worker.main`` under cProfile and dumps one stats
file per task. ``pyspark/daemon.py`` imports a worker module only if its
name starts with ``pyspark``, hence the module's name.

It then builds the pipeline in batch mode (``Pipeline.run_batch``), runs it
into Spark's ``noop`` sink, and prints the top functions by cumulative
time summed across all tasks. ``--stage-clips N`` first writes N
deterministic clips to the pipeline's ``input.parquet.path``, as
``python -m bento_spark run`` does. The clock is the worker's CPU time,
so time a worker waits on its socket for the JVM is not counted. The
master comes from ``get_spark`` (``SPARK_GRAFT_MASTER``/``SPARK_GRAFT_CPUS``).
"""

from __future__ import annotations

import argparse
import glob
import os
import pstats
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKER_MODULE = "pyspark_profiled_worker"
TOP = 25

WORKER_SRC = '''"""pyspark's worker main, with each task run under cProfile."""
import cProfile
import itertools
import os
import time

from pyspark.worker import main as _main

_tasks = itertools.count()


def main(infile, outfile):
    prof = cProfile.Profile(time.process_time)
    try:
        prof.runcall(_main, infile, outfile)
    finally:
        path = os.path.join({out!r}, f"{{os.getpid()}}-{{next(_tasks)}}")
        prof.dump_stats(path + ".tmp")
        os.replace(path + ".tmp", path + ".prof")
'''


def _settled(out: str, timeout_s: float = 10.0) -> list[str]:
    """Stats files once none is being written and the count is stable:
    a worker dumps its stats after the task has reported back."""
    seen, deadline = -1, time.monotonic() + timeout_s
    while time.monotonic() < deadline:
        files = glob.glob(os.path.join(out, "*.prof"))
        if len(files) == seen and not glob.glob(os.path.join(out, "*.tmp")):
            return files
        seen = len(files)
        time.sleep(0.5)
    return glob.glob(os.path.join(out, "*.prof"))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("config", help="pipeline YAML")
    ap.add_argument("--stage-clips", type=int, default=0, help="stage N clips at input.parquet.path first")
    args = ap.parse_args(argv)

    scratch = tempfile.mkdtemp(prefix="profile_workers-")
    try:
        return _profile(args, scratch)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def _profile(args, scratch: str) -> int:
    out = os.path.join(scratch, "stats")
    os.makedirs(out)
    with open(os.path.join(scratch, WORKER_MODULE + ".py"), "w") as f:
        f.write(WORKER_SRC.format(out=out))
    # the JVM, and through it the worker daemon, inherit this environment
    os.environ["PYTHONPATH"] = os.pathsep.join([scratch, REPO] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    sys.path.insert(0, REPO)

    from bento_spark.plans.compiler import compile_yaml
    from bento_spark.session import get_spark

    spark = get_spark(extra_conf={"spark.python.worker.module": WORKER_MODULE})
    master = spark.sparkContext.master
    try:
        with open(args.config, encoding="utf-8") as f:
            p = compile_yaml(f.read())
        if args.stage_clips:
            path = ((p.conf.get("input") or {}).get("parquet") or {}).get("path")
            if not path:
                print("--stage-clips needs input.parquet.path", file=sys.stderr)
                return 1
            p.stage_clips(spark, path, args.stage_clips)
        staging = set(_settled(out))  # the staging job's tasks are not the build's
        t0 = time.perf_counter()
        p.run_batch(spark).write.format("noop").mode("overwrite").save()
        wall = time.perf_counter() - t0
        files = sorted(set(_settled(out)) - staging)
    finally:
        spark.stop()
    if not files:
        print(f"no worker task was profiled (is {WORKER_MODULE} on the workers' PYTHONPATH?)", file=sys.stderr)
        return 1
    stats = pstats.Stats(*files)
    print(f"{len(files)} Python worker tasks, {stats.total_tt:.2f} s of CPU time profiled, "
          f"build wall {wall:.2f} s ({master})")
    stats.sort_stats("cumulative").print_stats(TOP)
    return 0


if __name__ == "__main__":
    sys.exit(main())
