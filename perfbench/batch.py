"""batch_flagship: `plans.flagship.run_flagship(..., resume=False)` into a
fresh sinks root per pass, over seeded file-backed input with the tokens
payload and ~0.5% malformed lines.

Protocol (nothing before the timed passes is timed): a cold pass and
WARM_SMALL warm-up passes of the identical plan over a small input (most
of the JIT warm-up is per pass, not per event, so small passes buy it
cheaply), one warm pass over the full input (the first full-size pass is
~25% slower than the next), then timed passes until `--seconds` of pass
time has accumulated. Every timed pass is verified afterwards, outside
the timed section. The warm-up is a fixed count, not "until steady",
so that a whole run stays near one minute on a 4-core box.
"""

from __future__ import annotations

import os
import time

import gen
import oracle
from common import dir_bytes_files, job_counts, median, rmtree, weighted_percentile

N_EVENTS = {"full": 80_000, "tiny": 2_000}
N_WARM_EVENTS = 2_000
N_FILES = 16
WARM_SMALL = 2


def _commit_offsets(sinks_root: str, sinks, t0: float) -> dict[str, float]:
    """Seconds from pass start to each sink's snapshot commit (the
    manifest file's modification time)."""
    out = {}
    for s in sinks:
        d = os.path.join(sinks_root, s, "_snapshots")
        m = max(os.stat(os.path.join(d, f)).st_mtime_ns for f in os.listdir(d)
                if f.endswith(".json"))
        out[s] = m / 1e9 - t0
    return out


def _latency(route_sets, offsets) -> tuple[float, float]:
    """p50/p90 over events of the time until the event is committed in
    every sink it routes to."""
    pairs = [(max(offsets[s] for s in sinks), n) for sinks, n in route_sets.items()]
    return weighted_percentile(pairs, 50), weighted_percentile(pairs, 90)


def run(ctx) -> dict:
    from logstash_spark.plans import flagship, runner

    n = N_EVENTS[ctx.size]
    inp = gen.inputs(ctx.cache, "flagship", ctx.seed, n, N_FILES)
    small = gen.inputs(ctx.cache, "flagship", ctx.seed, N_WARM_EVENTS, N_FILES)
    closed = gen.expected_counts("flagship", n)
    route_sets = gen.route_set_counts("flagship", n)
    want = oracle.flagship_oracle(inp)
    sinks = list(gen.FLAG_SINKS)

    def register(spark, spec):
        return spark.read.parquet(inp.input_dir)

    ctx.begin_setup()
    spec, df = ctx.session.setup(flagship.flagship_spec, register)
    ctx.end_cold_setup()
    spec, df = ctx.session.resetup(flagship.flagship_spec, register, ctx.resetups)
    spark = ctx.session.spark
    sc = spark.sparkContext
    tracer = ctx.tracer

    small_df = spark.read.parquet(small.input_dir)

    def one_pass(i: int, traced: bool, frame=df):
        root = os.path.join(ctx.work, "sinks", f"p{i}")
        group = f"pass-{i}"
        sc.setJobGroup(group, group)
        tracer.enabled = traced
        t0, c0 = time.time(), time.perf_counter()
        with tracer.span("bench.pass"):
            res = flagship.run_flagship(spark, frame, root, resume=False)
        wall = time.perf_counter() - c0
        tracer.enabled = False
        return root, t0, wall, res, group

    def untimed(i: int, frame) -> float:
        root, _, wall, _, _ = one_pass(i, False, frame)
        rmtree(root)
        return wall

    cold = untimed(0, small_df)
    warm = [untimed(i, small_df) for i in range(1, WARM_SMALL + 1)]
    full_warm = untimed(WARM_SMALL + 1, df)

    if ctx.trace:
        ctx.install_runner_spans(runner, flagship)

    walls, p50s, p90s, attempted, failed = [], [], [], 0, 0
    per_pass: list[dict] = []
    bytes_files = None
    i = WARM_SMALL + 2
    timed = 0.0
    while timed < ctx.seconds or not walls:
        root, t0, wall, res, group = one_pass(i, ctx.trace)
        i += 1
        timed += wall
        walls.append(wall)
        # --- untimed: verify, measure outputs ---
        attempted += 1
        if ctx.corrupt is not None:
            ctx.corrupt(root)
        problems = oracle.check_flagship_pass(root, want, closed)
        if res.sink_counts != closed:
            problems.append(f"RunResult.sink_counts {res.sink_counts} != {closed}")
        if problems:
            failed += 1
            ctx.log(f"pass {i - 1} failed: {problems}")
        p50, p90 = _latency(route_sets, _commit_offsets(root, sinks, t0))
        p50s.append(p50)
        p90s.append(p90)
        if bytes_files is None:
            bytes_files = [dir_bytes_files(os.path.join(root, s)) for s in sinks]
        per_pass.append({"wall": wall, "group": group, **job_counts(sc, group)})
        rmtree(root)

    total_bytes = sum(b for b, _ in bytes_files)
    out = {
        "attempted": attempted,
        "failed": failed,
        "events_per_s": n / median(walls),
        "latency_p50_s": median(p50s),
        "latency_p90_s": median(p90s),
        "sink_bytes_per_event": total_bytes / n,
        "layers": {
            "jit.first_pass_s": cold,
            "jit.warmup_commits": len(warm) + 1,
            "jit.tail_ratio": full_warm / median(walls),
            "pipeline.commits": len(walls),
            "pipeline.commit_s": median(walls),
            "pipeline.rows_per_commit": n,
            "sources.tableio.bytes": total_bytes,
            "sources.tableio.files": sum(f for _, f in bytes_files),
            "latency.samples": n * len(walls),
            **{f"spark.{k}": median(p[k] for p in per_pass)
               for k in ("jobs", "stages", "tasks", "tasks_failed")},
        },
        "detail": {"cold_pass_s": cold, "warm_small_passes_s": warm,
                   "warm_full_pass_s": full_warm, "timed_passes_s": walls,
                   "per_pass_latency_p50_s": p50s, "per_pass_latency_p90_s": p90s,
                   "per_sink_bytes_files": dict(zip(sinks, bytes_files))},
    }
    if ctx.trace:
        ctx.runner_layers(out)
        ctx.operator_prefixes(out, df, flagship_chain(spark, spec))
    return out


def flagship_chain(spark, spec):
    """The flagship's operator prefixes in plan order: translate runs
    before run_pipeline's filters (enrich_sources), then grok, date and
    the route flags."""
    from logstash_spark.operators.route import add_routes
    from logstash_spark.plans.flagship import enrich_sources
    from logstash_spark.plans.runner import apply_filters
    from logstash_spark.plans.spec import PipelineSpec

    def filters(upto):
        return PipelineSpec(name="prefix", filters=spec.filters[:upto], routes={})

    return [
        ("operators.scan", lambda df: df),
        ("operators.enrich.translate", enrich_sources),
        ("operators.parse.grok", lambda df: apply_filters(enrich_sources(df), filters(1))),
        ("operators.parse.date", lambda df: apply_filters(enrich_sources(df), filters(2))),
        ("operators.route.add_routes", lambda df: add_routes(
            apply_filters(enrich_sources(df), filters(2)), spec.routes,
            else_sink=spec.else_sink)),
    ]
