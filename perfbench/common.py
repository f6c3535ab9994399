"""Run context shared by the workloads: hermetic work root, Spark
session set-up (timed, repeated), Spark job counters, peak RSS and
percentiles."""

from __future__ import annotations

import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time


def process_start_time() -> float:
    """Wall-clock start of this process, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (OSError, IndexError, ValueError):
        return 0


class RssSampler:
    """Peak resident set of this process and all its descendants
    (the JVM and Python workers), sampled every `period` seconds."""

    def __init__(self, period: float = 0.2):
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            total = sum(_rss_bytes(p) for p in [me, *descendants(me)])
            self.peak = max(self.peak, total)
            self._stop.wait(self.period)

    def start(self) -> "RssSampler":
        self._t.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._t.join(timeout=5)


def median(xs) -> float:
    return float(statistics.median(xs))


def percentile(xs, q: float) -> float:
    """Nearest-rank percentile (q in 0..100) of a non-empty sample."""
    s = sorted(xs)
    return float(s[max(0, min(len(s) - 1, int(round(q / 100 * len(s) + 0.5)) - 1))])


def weighted_percentile(pairs, q: float) -> float:
    """Percentile of values given as (value, count) pairs."""
    pairs = sorted(pairs)
    total = sum(c for _, c in pairs)
    need = q / 100 * total
    acc = 0
    for v, c in pairs:
        acc += c
        if acc >= need:
            return float(v)
    return float(pairs[-1][0])


def job_counts(sc, group: str) -> dict[str, int]:
    """Jobs, stages and tasks of one job group, from the StatusTracker."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages, done, failed = set(), 0, 0
    for j in jobs:
        info = st.getJobInfo(j)
        if info is not None:
            stages.update(info.stageIds)
    ran = 0
    for s in stages:
        si = st.getStageInfo(s)
        if si is None or si.numCompletedTasks + si.numFailedTasks == 0:
            continue  # skipped stage (shuffle output reused)
        ran += 1
        done += si.numCompletedTasks
        failed += si.numFailedTasks
    return {"jobs": len(jobs), "stages": ran, "tasks": done + failed, "tasks_failed": failed}


class Session:
    """Creates the Spark session the way the program's entry points do
    (`logstash_spark.session.get_spark`), with every scratch directory
    under the run's work root, and times each set-up phase."""

    def __init__(self, work: str, cpus: int):
        self.work = work
        self.cpus = cpus
        self.spark = None
        self.samples: list[dict[str, float]] = []

    def conf(self) -> dict[str, str]:
        return {
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }

    def setup(self, build_spec, register):
        """One set-up: session ready, spec built, input registered.
        Returns (spec, source frame); appends the phase times."""
        from logstash_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(master=f"local[{self.cpus}]", extra_conf=self.conf())
        t1 = time.perf_counter()
        spec = build_spec()
        t2 = time.perf_counter()
        src = register(self.spark, spec)
        t3 = time.perf_counter()
        self.spark.sparkContext.setLogLevel("ERROR")
        self.samples.append({"get_spark": t1 - t0, "spec": t2 - t1,
                             "register": t3 - t2, "total": t3 - t0})
        return spec, src

    def resetup(self, build_spec, register, times: int):
        """Stop the session and set up again `times` times (the JVM stays
        up, so these exclude JVM launch)."""
        out = None
        for _ in range(times):
            self.spark.stop()
            out = self.setup(build_spec, register)
        return out

    def close(self) -> None:
        """Stop Spark, shut the JVM gateway down and wait for every
        process this run started."""
        from pyspark import SparkContext

        started = descendants(os.getpid())  # the JVM and its Python workers
        if self.spark is not None:
            try:
                self.spark.stop()
            except Exception as e:  # keep tearing down; the run result stands
                print(f"perfbench: spark.stop failed: {e!r}", file=sys.stderr, flush=True)
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            try:
                gw.shutdown()
            except Exception as e:  # py4j raises its own errors when already down
                print(f"perfbench: gateway shutdown: {e!r}", file=sys.stderr, flush=True)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        reap(started + descendants(os.getpid()))


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def reap(pids, grace: float = 10.0) -> None:
    """Wait until every process in `pids` has ended: first on its own,
    then after SIGTERM, then after SIGKILL. Orphans re-parented away from
    this process are waited for too."""
    deadline = time.time() + grace
    sig = None
    while True:
        for p in pids:
            try:
                os.waitpid(p, os.WNOHANG)  # reap our own exited children
            except ChildProcessError:
                pass
        left = [p for p in pids if _alive(p)]
        if not left:
            return
        if time.time() > deadline:
            sig = signal.SIGKILL if sig == signal.SIGTERM else signal.SIGTERM
            deadline = time.time() + grace
        if sig is not None:
            for p in left:
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
        time.sleep(0.1)


def dir_bytes_files(root: str) -> tuple[int, int]:
    """Bytes and number of parquet files under `root`."""
    total, n = 0, 0
    for d, _, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                total += os.path.getsize(os.path.join(d, f))
                n += 1
    return total, n


def rmtree(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
