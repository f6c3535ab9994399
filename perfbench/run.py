#!/usr/bin/env python3
"""Benchmark of the pipeline paths a user runs, end to end and per layer.

    python3 perfbench/run.py --workload batch_flagship --seed 1 --seconds 10 --trace 0
    python3 perfbench/selftest.py     # the benchmark's own check, tiny sizes

Run from the repository root. Workloads and metrics are declared in
BENCHMARK.json; the last line of stdout is one JSON object
{"correct", "attempted", "failed", "metrics"}: the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1 (a separate run
that records spans). Nothing before the timed passes or window is
timed, and no cold pass is in an end-to-end metric.

End-to-end metrics (batch pass = one run_flagship call; stream = the
micro-batches of the open-loop window):
  setup_s        median of 5 set-ups after the first: session ready
                 (get_spark), spec built, input registered
  events_per_s   events / pass wall time (median pass); stream: window
                 events / summed micro-batch time
  latency_p50_s, latency_p90_s
                 batch: per event, pass start to the commit of the last
                 sink snapshot it routes to (per-pass percentile, median
                 over passes); stream: per file, scheduled drop to the
                 commit of the micro-batch holding its events
  sink_bytes_per_event   parquet bytes across all sinks / input events
  success_ratio  verified operations / attempted (a batch pass, or a
                 delivered stream file)

Per-layer metrics use the same names on both workloads. A "commit" is a
batch pass or a micro-batch; pipeline.write_s is the table writes of a
pass (every append) or a micro-batch's addBatch. Layers only one
workload has (kv and mutate prefixes, runner phases per sink and side
table, streaming progress fields, generator lateness) are in the traced
run's layer table.

Spark runs on local[nproc] with SPARK_GRAFT_CPUS=nproc. Sinks,
checkpoints, the warehouse, SPARK_LOCAL_DIRS and temp files live under
.perfbench/work-* and are removed at exit; generated inputs are cached
under .perfbench/cache per (seed, size); traced runs write their spans
and per-layer self-time table under .perfbench/traces/.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import signal
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

from common import (  # noqa: E402
    RssSampler, Session, median, process_start_time, rmtree,
)
from spans import Tracer  # noqa: E402

NAME_RE = re.compile(r"[A-Za-z0-9_.-]+")
RESETUPS = 5
CACHE_KEEP = 8  # generated input sets kept in the cache


class Context:
    def __init__(self, workload, seed, seconds, trace, size, work, corrupt=None):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.size, self.work, self.corrupt = size, work, corrupt
        self.cache = os.path.join(ROOT, ".perfbench", "cache")
        self.cpus = len(os.sched_getaffinity(0))
        self.resetups = RESETUPS
        self.session = Session(work, self.cpus)
        self.tracer = Tracer(f"{workload}-s{seed}-{os.getpid()}")
        self.cold_setup_s = None
        self.workload_start = self._setup_start = None

    def log(self, msg: str) -> None:
        print(f"perfbench[{self.workload}]: {msg}", file=sys.stderr, flush=True)

    # -- set-up timing ---------------------------------------------------------

    def begin_setup(self) -> None:
        self._setup_start = time.perf_counter()

    def end_cold_setup(self) -> None:
        """Cold set-up: process start to session ready, spec built and
        input registered, minus the benchmark's own input generation."""
        own = self._setup_start - self.workload_start
        self.cold_setup_s = time.time() - process_start_time() - own

    # -- traced run helpers ----------------------------------------------------

    def install_runner_spans(self, runner, flagship) -> None:
        """Spans around the runner's phases, recorded by wrapping calls
        from outside: every table's `append` (first action = the
        _sink_lineage job, sink writes, side tables), the run-id
        fingerprint, plan building, snapshot reads, the
        totals collect, persist/unpersist."""
        t = self.tracer

        def phase(table: str) -> str:
            if table == "_sink_lineage":
                return "plans.runner.first_action"
            if table.startswith("_"):
                return f"plans.runner.side_table.{table[1:]}"
            return f"plans.runner.sink_write.{table}"

        open_table = runner.open_table

        def open_traced(root, *a, **k):
            table = open_table(root, *a, **k)
            table.append = t.wrap(phase(os.path.basename(root)), table.append)
            return table

        t.replace(runner, "open_table", open_traced)
        t.patch(runner, "run_pipeline", "plans.runner.run_pipeline")
        t.patch(runner, "_input_fingerprint", "plans.runner.fingerprint")
        t.patch(runner, "build_plan", "plans.runner.build_plan")
        t.patch(runner, "route_filter", "operators.route.route_filter")
        t.patch(flagship, "enrich_sources", "plans.flagship.enrich_sources")
        from pyspark.sql.classic.dataframe import DataFrame

        from logstash_spark.operators import aggregate
        from logstash_spark.sources.tableio import SnapshotTable

        t.patch(aggregate, "metrics", "operators.aggregate.metrics")
        t.patch(SnapshotTable, "read", "sources.tableio.read")
        t.patch(SnapshotTable, "latest", "sources.tableio.latest")
        t.patch(DataFrame, "collect", "plans.runner.totals")
        t.patch(DataFrame, "persist", "plans.runner.persist")
        t.patch(DataFrame, "unpersist", "plans.runner.unpersist")

    def runner_layers(self, out: dict) -> None:
        """Per-pass runner phases from the spans: every table append is a
        write; the rest of a pass is overhead; run_pipeline's own time
        outside every phase span is unattributed."""
        t = self.tracer
        t.restore()
        kids: dict[int, list[int]] = {}
        for j, s in enumerate(t.spans):
            if s["parent"] is not None and s["end"] is not None:
                kids.setdefault(s["parent"], []).append(j)

        def dur(j: int) -> float:
            return t.spans[j]["end"] - t.spans[j]["start"]

        per_pass: list[dict[str, float]] = []
        for i, s in enumerate(t.spans):
            if s["name"] != "bench.pass" or s["end"] is None:
                continue
            rp = next(j for j in kids.get(i, [])
                      if t.spans[j]["name"] == "plans.runner.run_pipeline")
            row: dict[str, float] = {}
            for j in kids.get(rp, []):
                name = t.spans[j]["name"]
                row[name] = row.get(name, 0.0) + dur(j)
            for group in ("sink_write", "side_table"):
                row[f"plans.runner.{group}.total"] = sum(
                    v for k, v in row.items() if k.startswith(f"plans.runner.{group}."))
            row["writes"] = row["plans.runner.sink_write.total"] + row[
                "plans.runner.side_table.total"] + row.get("plans.runner.first_action", 0.0)
            row["plans.runner.run_pipeline"] = dur(rp)
            row["plans.runner.unattributed"] = dur(rp) - sum(dur(j) for j in kids.get(rp, []))
            row["pass"] = dur(i)
            per_pass.append(row)
        names = sorted({k for r in per_pass for k in r})
        out["layers"].update({
            "pipeline.write_s": median(r["writes"] for r in per_pass),
            "pipeline.overhead_s": median(r["pass"] - r["writes"] for r in per_pass),
            "pipeline.unattributed_share": median(
                r["plans.runner.unattributed"] / r["plans.runner.run_pipeline"]
                for r in per_pass),
        })
        out["detail"]["runner_phases_median_s"] = {
            k: median(r.get(k, 0.0) for r in per_pass) for k in names}

    def operator_prefixes(self, out: dict, df, chain, reps: int = 3) -> None:
        """Time each operator prefix, forced by one fixed consumer
        (sum of xxhash64 over the prefix's columns, the token payload
        excluded); a layer's self time is the difference from the
        previous prefix."""
        from pyspark.sql import functions as F

        def consume(fn) -> float:
            # a fresh frame per call: re-collecting one frame would reuse
            # its materialized shuffle stages under AQE
            t0 = time.perf_counter()
            frame = fn(df)
            cols = [F.col(f"`{c}`") for c in frame.columns if c != "tokens"]
            frame.select(F.sum(F.xxhash64(*cols)).alias("h")).collect()
            return time.perf_counter() - t0

        times: dict[str, float] = {}
        for name, fn in chain:
            consume(fn)  # untimed: first compile of this prefix
            times[name] = median(consume(fn) for _ in range(reps))
        prev = 0.0
        selfs = {}
        for name, _ in chain:
            selfs[name + "_s"] = times[name] - prev
            prev = times[name]
        out["layers"].update({k: v for k, v in selfs.items() if k in {
            "operators.scan_s", "operators.parse.grok_s", "operators.parse.date_s",
            "operators.enrich.translate_s", "operators.route.add_routes_s"}})
        out["layers"]["operators.chain_s"] = prev
        out["detail"]["operator_prefix_s"] = times
        out["detail"]["operator_self_s"] = selfs


def _trim_cache(cache: str) -> None:
    if not os.path.isdir(cache):
        return
    entries = sorted((os.path.getmtime(os.path.join(cache, e)), e) for e in os.listdir(cache))
    for _, e in entries[:-CACHE_KEEP]:
        rmtree(os.path.join(cache, e))


def run_workload(workload: str, seed: int, seconds: int, trace: bool,
                 size: str = "full", corrupt=None) -> dict:
    """Run one workload in this process; returns the result object."""
    import batch
    import stream

    runners = {"batch_flagship": batch.run, "stream_open_loop": stream.run}
    if workload not in runners:
        raise SystemExit(f"unknown workload {workload!r}; have {sorted(runners)}")
    work = os.path.join(ROOT, ".perfbench", f"work-{os.getpid()}-{time.time_ns()}")
    os.makedirs(os.path.join(work, "tmp"))
    # hermetic: every scratch path of Spark, the JVM and Python under work
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONDONTWRITEBYTECODE"] = "1"
    # -XX:-UsePerfData: no hsperfdata file in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData")
    ctx = Context(workload, seed, seconds, trace, size, work, corrupt)
    os.environ["SPARK_GRAFT_CPUS"] = str(ctx.cpus)
    rss = RssSampler().start()
    try:
        ctx.workload_start = time.perf_counter()
        out = runners[workload](ctx)
    finally:
        rss.stop()
        ctx.session.close()
        rmtree(work)
        _trim_cache(ctx.cache)

    samples = ctx.session.samples[1:]  # re-setups; [0] is the cold one
    attempted, failed = out["attempted"], out["failed"]
    e2e = {
        "setup_s": median(s["total"] for s in samples),
        **{k: out[k] for k in ("events_per_s", "latency_p50_s", "latency_p90_s",
                               "sink_bytes_per_event")},
        "success_ratio": (attempted - failed) / attempted,
    }
    layers = dict(out["layers"])
    layers.update({
        "setup.cold_s": ctx.cold_setup_s,
        "session.get_spark_s": median(s["get_spark"] for s in samples),
        "plans.spec_s": median(s["spec"] for s in samples),
        "sources.register_s": median(s["register"] for s in samples),
        "tracing.overhead_s": ctx.tracer.overhead_s / max(1, layers["pipeline.commits"]),
        "rss_peak_mb": rss.peak / 2**20,
    })
    tasks = layers["spark.tasks"]
    layers["spark.task_success_ratio"] = (
        (tasks - layers["spark.tasks_failed"]) / tasks if tasks else 1.0)
    if trace:
        tdir = os.path.join(ROOT, ".perfbench", "traces", f"{workload}-s{seed}-{os.getpid()}")
        ctx.tracer.dump(tdir, {"layers": layers, "detail": out["detail"]})
        ctx.log(f"spans and layer table in {tdir}")
    ctx.log(json.dumps(out["detail"], default=str))
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "e2e": e2e, "layers": layers}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="tiny inputs, for the benchmark's self-test")
    args = ap.parse_args(argv)
    # a terminated run still stops Spark and removes its work root
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    try:
        import duckdb  # noqa: F401
        import logstash_spark.plans.runner  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program: {e}", file=sys.stderr)
        return 3
    res = run_workload(args.workload, args.seed, args.seconds, bool(args.trace), args.size)
    values = res["layers"] if args.trace else res["e2e"]
    declared = bench["per_layer" if args.trace else "end_to_end"]
    names = {m["name"] for m in declared}
    bad = [k for k in values if k not in names or not NAME_RE.fullmatch(k)]
    missing = names - set(values)
    if bad or missing:
        print(f"perfbench: metrics not as declared: extra {bad}, missing {sorted(missing)}",
              file=sys.stderr)
        return 4
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
               for m in declared}
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
