"""stream_open_loop: the LSCL streaming path `main.py --streaming` runs —
`plans.lscl.compile_conf` on perfbench/conf_parse.conf, then
`streaming.pipeline.run_streaming_fanout(..., available_now=False)` with
the default unified layout and `plans.runner.build_plan` as the
per-micro-batch transform — fed open-loop from a file landing directory.

Input files (EVENTS_PER_FILE narrow conf-shaped events each, ~5%
malformed) are generated untimed. One generator thread renames them into
the landing directory on a fixed schedule (RATE files/s) that never
waits for the system. Protocol: one file and its cold micro-batch, then
an untimed open-loop warm-up at the same rate, drained; then the timed
open-loop window of `--seconds`, drained. Latency of a file runs from its
scheduled drop to the commit of the micro-batch that wrote its events;
events_per_s is the window's events over its summed micro-batch time.
"""

from __future__ import annotations

import os
import threading
import time
from datetime import datetime, timezone

import gen
import oracle
from common import dir_bytes_files, job_counts, median, percentile

# Offered load 10 files/s x 20 events = 200 events/s. Measured on a
# 4-core box, a micro-batch takes ~2.5-3 s fixed plus ~0.35 ms per event,
# so the backlog only grows above ~2.8k events/s; at 200 events/s the
# per-event part is under a tenth of a batch and latency measures the
# per-micro-batch overhead this workload is for. 10 files/s gives 100
# latency samples in a 10 s window (10 beyond p90).
EVENTS_PER_FILE = {"full": 20, "tiny": 10}
RATE = 10.0  # files/s
WARM_S = {"full": 5.0, "tiny": 2.0}
DRAIN_TIMEOUT_S = 60.0
CONF = os.path.join(os.path.dirname(os.path.abspath(__file__)), "conf_parse.conf")


def _commit_time(p) -> float:
    ts = datetime.strptime(p.timestamp, "%Y-%m-%dT%H:%M:%S.%fZ")
    return ts.replace(tzinfo=timezone.utc).timestamp() + p.durationMs["triggerExecution"] / 1e3


class Feeder:
    """Open-loop file generator: renames staged files into the landing
    directory at due = start + i / rate, whatever the system is doing."""

    def __init__(self, staging: str, landing: str, names: list[str], rate: float):
        self.staging, self.landing, self.names, self.rate = staging, landing, names, rate
        self.due: list[float] = []
        self.actual: list[float] = []
        self._t = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        start = time.time()
        for i, name in enumerate(self.names):
            due = start + i / self.rate
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            os.rename(os.path.join(self.staging, name), os.path.join(self.landing, name))
            self.due.append(due)
            self.actual.append(time.time())

    def run(self) -> "Feeder":
        self._t.start()
        self._t.join()
        return self


class Progress:
    """Micro-batch progress reports by batch id, polled from the query."""

    def __init__(self, q):
        self.q = q
        self.by_id: dict[int, object] = {}

    def poll(self) -> None:
        for p in self.q.recentProgress:
            self.by_id[p.batchId] = p

    def rows(self) -> int:
        return sum(p.numInputRows for p in self.by_id.values())

    def ids(self) -> set[int]:
        """Batches that processed data (idle progress reports excluded)."""
        return {b for b, p in self.by_id.items() if p.numInputRows > 0}

    def drain(self, events: int) -> None:
        deadline = time.time() + DRAIN_TIMEOUT_S
        while True:
            self.poll()
            if self.rows() >= events:
                return
            if self.q.exception() is not None:
                raise RuntimeError(f"stream query failed: {self.q.exception()}")
            if time.time() > deadline:
                raise TimeoutError(f"stream drained {self.rows()} of {events} events")
            time.sleep(0.05)

    def batches(self, ids) -> list:
        return [self.by_id[b] for b in sorted(ids) if b in self.by_id]


def run(ctx) -> dict:
    from logstash_spark.plans.lscl import compile_conf
    from logstash_spark.plans.runner import build_plan
    from logstash_spark.streaming.pipeline import file_stream_source, run_streaming_fanout

    per_file = EVENTS_PER_FILE[ctx.size]
    n_warm = int(WARM_S[ctx.size] * RATE)
    n_window = max(1, int(ctx.seconds * RATE))
    n_files = 1 + n_warm + n_window
    inp = gen.inputs(ctx.cache, "conf", ctx.seed, n_files * per_file, n_files)
    names = [os.path.basename(p) for p in inp.file_paths()]
    landing = os.path.join(ctx.work, "landing")
    staging = os.path.join(ctx.work, "staging")
    sinks_root = os.path.join(ctx.work, "sinks")
    os.makedirs(landing)
    os.makedirs(staging)
    for p in inp.file_paths():
        os.link(p, os.path.join(staging, os.path.basename(p)))
    with open(CONF) as f:
        conf_text = f.read()

    def build_spec():
        return compile_conf(conf_text, name="conf_parse.conf")[0]

    def register(spark, spec):
        return file_stream_source(spark, landing, "doc_id string, raw string")

    ctx.begin_setup()
    ctx.session.setup(build_spec, register)
    ctx.end_cold_setup()
    spec, src = ctx.session.resetup(build_spec, register, ctx.resetups)
    sc = ctx.session.spark.sparkContext
    tracer = ctx.tracer
    transform = tracer.wrap("plans.runner.build_plan", build_plan)
    q = run_streaming_fanout(
        src, lambda df: transform(df, spec), list(spec.sink_names()), sinks_root,
        os.path.join(ctx.work, "checkpoint"), available_now=False,
    )
    prog = Progress(q)
    try:
        # cold micro-batch: one file
        Feeder(staging, landing, names[:1], RATE).run()
        prog.drain(per_file)
        cold_ids = prog.ids()
        # untimed open-loop warm-up at the window's rate, drained
        Feeder(staging, landing, names[1:1 + n_warm], RATE).run()
        prog.drain((1 + n_warm) * per_file)
        warm_ids = prog.ids() - cold_ids
        # timed open-loop window
        tracer.enabled = ctx.trace
        feeder = Feeder(staging, landing, names[1 + n_warm:], RATE).run()
        window_end = time.time()
        try:
            prog.drain(n_files * per_file)
        except TimeoutError as e:  # undelivered files fail verification below
            ctx.log(str(e))
        tracer.enabled = False
    finally:
        q.stop()
    prog.poll()
    window_ids = prog.ids() - cold_ids - warm_ids

    batch_of, bad, unknown, sink_rows = oracle.check_stream(sinks_root, inp)
    closed = gen.expected_counts("conf", n_files * per_file)
    if sink_rows != closed:
        ctx.log(f"per-sink rows {sink_rows} != closed form {closed}")
        bad = set(range(n_files))
    if bad or unknown:
        ctx.log(f"{len(bad)} files not delivered exactly once; {unknown} unknown rows")

    commit = {b: _commit_time(p) for b, p in prog.by_id.items()}
    win_files = range(1 + n_warm, n_files)
    lat = [commit[batch_of[f]] - feeder.due[f - 1 - n_warm]
           for f in win_files if f in batch_of and batch_of[f] in commit]
    wins = prog.batches(window_ids)
    trig = [p.durationMs["triggerExecution"] / 1e3 for p in wins]
    add = [p.durationMs.get("addBatch", 0) / 1e3 for p in wins]
    other = [sum(v for k, v in p.durationMs.items() if k != "triggerExecution") / 1e3
             for p in wins]
    warm_trig = [p.durationMs["triggerExecution"] / 1e3 for p in prog.batches(warm_ids)]
    cold_trig = max(p.durationMs["triggerExecution"] / 1e3 for p in prog.batches(cold_ids))
    total_bytes, total_files = dir_bytes_files(sinks_root)
    jc = job_counts(sc, str(q.runId))
    n_batches = len(prog.ids())
    late = [a - d for a, d in zip(feeder.actual, feeder.due)]

    if ctx.trace:
        for p in prog.batches(prog.ids()):
            start = _commit_time(p) - p.durationMs["triggerExecution"] / 1e3
            parent = tracer.add("streaming.trigger", start, _commit_time(p), None)
            t = start
            for k in ("latestOffset", "walCommit", "getBatch", "queryPlanning",
                      "addBatch", "commitOffsets"):
                d = p.durationMs.get(k, 0) / 1e3
                tracer.add(f"streaming.{k}", t, t + d, parent)
                t += d

    out = {
        "attempted": n_files,
        "failed": min(n_files, len(bad) + unknown),
        "events_per_s": sum(p.numInputRows for p in wins) / sum(trig),
        "latency_p50_s": percentile(lat, 50),
        "latency_p90_s": percentile(lat, 90),
        "sink_bytes_per_event": total_bytes / (n_files * per_file),
        "layers": {
            "jit.first_pass_s": cold_trig,
            "jit.warmup_commits": len(warm_trig),
            "jit.tail_ratio": warm_trig[-1] / median(trig),
            "pipeline.commits": len(wins),
            "pipeline.commit_s": median(trig),
            "pipeline.write_s": median(add),
            "pipeline.overhead_s": median(t - a for t, a in zip(trig, add)),
            "pipeline.unattributed_share": median(
                max(0.0, t - o) / t for t, o in zip(trig, other)),
            "pipeline.rows_per_commit": median(p.numInputRows for p in wins),
            "sources.tableio.bytes": total_bytes,
            "sources.tableio.files": total_files,
            "latency.samples": len(lat),
            **{f"spark.{k}": v / n_batches for k, v in jc.items()},
        },
        "detail": {
            "rate_files_per_s": RATE, "events_per_file": per_file,
            "window_files": n_window, "warmup_files": n_warm,
            "generator.late_s.p90": percentile(late, 90),
            "generator.late_s.max": max(late),
            "streaming.backlog_files_end": sum(
                1 for f in win_files if commit.get(batch_of.get(f), 1e18) > window_end),
            "streaming.batches": len(wins),
            "streaming.batch_s.p50": median(trig),
            "streaming.batch_s.p90": percentile(trig, 90),
            "streaming.add_batch_s": median(add),
            "streaming.overhead_s": median(t - a for t, a in zip(trig, add)),
            "streaming.rows_per_batch": median(p.numInputRows for p in wins),
            "warm_batches_s": warm_trig, "window_batches_s": trig,
            "window_batch_rows": [p.numInputRows for p in wins],
        },
    }
    if ctx.trace:
        ctx.operator_prefixes(out, ctx.session.spark.read.parquet(inp.input_dir),
                              conf_chain(spec))
    return out


_OP_LAYER = {"grok": "operators.parse.grok", "kv": "operators.parse.kv",
             "date": "operators.parse.date", "translate": "operators.enrich.translate",
             "mutate": "operators.mutate"}


def conf_chain(spec):
    """Operator prefixes of the compiled conf: each filter in order, then
    the route flags. Repeated ops get a numeric suffix."""
    from logstash_spark.operators.route import add_routes
    from logstash_spark.plans.runner import apply_filters
    from logstash_spark.plans.spec import PipelineSpec

    def upto(k):
        return lambda df: apply_filters(
            df, PipelineSpec(name="prefix", filters=spec.filters[:k], routes={}))

    chain, seen = [("operators.scan", lambda df: df)], {}
    for k, f in enumerate(spec.filters, 1):
        name = _OP_LAYER.get(f.op, f"operators.{f.op}")
        seen[name] = seen.get(name, 0) + 1
        chain.append((name if seen[name] == 1 else f"{name}.{seen[name]}", upto(k)))
    everything = upto(len(spec.filters))
    chain.append(("operators.route.add_routes", lambda df: add_routes(
        everything(df), spec.routes, else_sink=spec.else_sink)))
    return chain
