"""Seeded BAL benchmark: one workload per invocation, closed loop, one
driver process at local[<cores>].

    python3 perfbench/run.py --workload veg_factors --seed 1 --seconds 15 \
        --trace 0

Run from the repository root. Prints progress to stderr and, as the last
line of stdout, one JSON object {correct, attempted, failed, metrics}.
``--trace 0`` reports the end-to-end metrics of the named workload;
``--trace 1`` reports the per-layer metrics (layer spans of all four
workloads, Python-kernel microtimings and the tracing overhead). All
scratch files go under .perfbench_work/ in the working directory.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import tempfile
import threading
import time
import traceback

ROOT = os.getcwd()
WORK = os.path.join(ROOT, ".perfbench_work")
SETUP_REPEATS = 3
# the first runs after the cold check still warm up (JIT, codegen, the
# Python workers' memos): they run, and are checked, untimed
WARM_SECONDS = 5
# a median of at least three timed runs
MIN_RUNS = 3


T_START = time.perf_counter()


def log(*args):
    """Progress to stderr, stamped with the seconds since start."""
    print(f"[{time.perf_counter() - T_START:6.1f} s]", *args,
          file=sys.stderr, flush=True)


def _tree_rss(root_pid: int) -> dict:
    """Resident bytes of ``root_pid`` and each of its descendants: the
    Python driver, the driver JVM and the Python workers it forks."""
    children: dict = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    page = os.sysconf("SC_PAGE_SIZE")
    out, todo = {}, [root_pid]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, []))
        try:
            with open(f"/proc/{pid}/comm") as f:
                comm = f.read().strip()
            with open(f"/proc/{pid}/statm") as f:
                rss = int(f.read().split()[1]) * page
        except (OSError, IndexError, ValueError):
            continue
        # a JVM child that is still "java" is a fork caught before its
        # exec: its pages are the JVM's own, so counting it would double
        # the JVM (the driver JVM itself is a child of the root)
        if comm == "java" and pid not in children.get(root_pid, []):
            continue
        out[pid] = rss
    return out


class PeakRss:
    """Samples the process tree's summed RSS every 200 ms while active;
    ``next_run()`` closes one run's high-water mark and starts the next."""

    def __init__(self):
        self.run_peaks: list[int] = []
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._sample_until_stopped,
                                        daemon=True)

    def _sample(self):
        total = sum(_tree_rss(os.getpid()).values())
        with self._lock:
            self._peak = max(self._peak, total)

    def _sample_until_stopped(self):
        while not self._stop.wait(0.2):
            self._sample()

    def next_run(self):
        self._sample()
        with self._lock:
            self.run_peaks.append(self._peak)
            self._peak = 0

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


def start_spark(ui: bool):
    """local[<cores>] with shuffle partitions to match, the engine's
    session settings otherwise (balrog_spark.session.get_spark), and every
    scratch path inside the working directory. The UI (and its REST API)
    is on only for traced runs."""
    from pyspark.sql import SparkSession

    n = os.cpu_count() or 1
    tmp = os.path.join(WORK, "tmp")
    # the Python workers import the engine from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    java_opts = (f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} "
                 "-Xms2g -XX:+AlwaysPreTouch")
    b = (SparkSession.builder.master(f"local[{n}]").appName("perfbench")
         .config("spark.sql.shuffle.partitions", str(n))
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
         .config("spark.sql.adaptive.skewJoin.enabled", "true")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
         .config("spark.driver.memory", "2g")
         .config("spark.driver.extraJavaOptions", java_opts)
         .config("spark.sql.session.timeZone", "UTC")
         .config("spark.local.dir", os.path.join(WORK, "spark-local"))
         .config("spark.sql.warehouse.dir", os.path.join(WORK, "warehouse"))
         .config("spark.ui.showConsoleProgress", "false")
         .config("spark.ui.enabled", "true" if ui else "false"))
    if ui:
        b = (b.config("spark.ui.retainedJobs", "100000")
             .config("spark.ui.retainedStages", "100000")
             .config("spark.sql.ui.retainedExecutions", "100000"))
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark):
    """Stop the session, then the driver JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=60)


def warm_up(spark):
    """First codegen, the noop sink and the Python worker pool: a
    long-lived session pays these once, so no timed run should."""
    n = spark.sparkContext.defaultParallelism
    spark.range(1 << 16).selectExpr("id % 7 AS k").groupBy("k").count() \
        .write.format("noop").mode("overwrite").save()
    spark.range(4 * n).repartition(n).mapInPandas(
        lambda it: (pdf for pdf in it), schema="id long") \
        .write.format("noop").mode("overwrite").save()


def timed_loop(wl, ref, seconds: float):
    """Warm-up runs for WARM_SECONDS (at least one), then a closed loop for
    ``seconds`` and at least MIN_RUNS runs: (walls, attempted, failed,
    high-water RSS of each run), walls and RSS of the timed runs only.
    Every run is checked; warm-up runs count in attempted and failed."""
    attempted, failed = 0, 0
    with PeakRss() as rss:
        for phase_s, min_runs in ((WARM_SECONDS, 1), (seconds, MIN_RUNS)):
            walls = []
            rss.run_peaks.clear()
            t_end = time.perf_counter() + phase_s
            while len(walls) < min_runs or time.perf_counter() < t_end:
                attempted += 1
                t0 = time.perf_counter()
                try:
                    fp = wl.run()
                except Exception:  # a failed run counts, the loop goes on
                    log(f"run {attempted} raised:\n"
                        f"{traceback.format_exc()}")
                    failed += 1
                    fp = None
                walls.append(time.perf_counter() - t0)
                rss.next_run()
                if fp is not None and fp != ref:
                    log(f"run {attempted}: output {fp} != checked {ref}")
                    failed += 1
    return walls, attempted, failed, rss.run_peaks


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    # every temp file stays in the working directory: Python's, the JVMs'
    # (spark-submit's launcher too) and their perf-data files
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = \
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    import workloads  # imports the engine: fails outside a checkout
    if a.workload not in workloads.WORKLOADS:
        ap.error(f"--workload must be one of {sorted(workloads.WORKLOADS)}")

    t0 = time.perf_counter()
    spark = start_spark(ui=bool(a.trace))
    try:
        session_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        warm_up(spark)
        warm_s = time.perf_counter() - t0
        wl = workloads.WORKLOADS[a.workload](spark, a.seed, WORK)
        gen = []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            wl.setup()
            gen.append(time.perf_counter() - t0)
        setup_s = session_s + warm_s + statistics.median(gen)
        log(f"{a.workload} seed {a.seed}: session {session_s:.2f} s, "
            f"warm-up {warm_s:.2f} s, inputs {gen} s; {wl.facts}")

        correct, ref = True, None
        try:
            ref = wl.check()
        except workloads.CheckFailed as e:
            log(f"output check failed: {e}")
            correct = False
        except Exception:  # the engine raised: report it, still time it
            log(f"output check raised:\n{traceback.format_exc()}")
            correct = False
        log(f"checked output {ref}; {wl.item}: {wl.items}")
        print(json.dumps({**workloads.facts_line(wl), "setup_s": {
            "session": session_s, "warm_up": warm_s, "inputs": gen}}),
              flush=True)

        walls, attempted, failed, peaks = timed_loop(wl, ref, a.seconds)
        wall = statistics.median(walls)
        log(f"walls {[round(w, 3) for w in walls]}, high-water RSS "
            f"{[round(p / 1e6) for p in peaks]} MB")
        if a.trace:
            import layers
            traced_ok, metrics = layers.per_layer(spark, wl, wall, a.seed,
                                                  WORK, log)
            correct = correct and traced_ok
        else:
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "wall_s": {"value": wall, "unit": "s"},
                "items_per_s": {"value": wl.items / wall, "unit": "1/s"},
                "peak_rss_mb": {"value": statistics.median(peaks) / 1e6,
                                "unit": "MB"},
            }
    finally:
        stop_spark(spark)
    print(json.dumps({"correct": correct and failed == 0,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
