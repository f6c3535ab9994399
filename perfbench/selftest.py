#!/usr/bin/env python3
"""Self-test of the benchmark at tiny sizes (about three minutes).

    python3 perfbench/selftest.py

Checks that the output checks catch corrupted sinks (a dropped row, a
row in the wrong sink) so that success_ratio falls below 1, and that
every metric a run prints is declared in BENCHMARK.json under a name
matching [A-Za-z0-9_.-]+. Exits non-zero on the first failure.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import pyarrow as pa  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402

import batch  # noqa: E402
import gen  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402

SCRATCH = os.path.join(ROOT, ".perfbench", "selftest")


def _first_file(sink_dir: str) -> str:
    return sorted(glob.glob(os.path.join(sink_dir, "**", "*.parquet"), recursive=True))[0]


def drop_row(root: str, sink: str) -> None:
    """Rewrite one data file of `sink` without its first row."""
    f = [p for p in glob.glob(os.path.join(root, sink, "**", "*.parquet"), recursive=True)
         if pq.read_metadata(p).num_rows > 0][0]
    t = pq.read_table(f)
    pq.write_table(t.slice(1), f)


def move_row(root: str, src: str, dst: str) -> None:
    """Move one row of sink `src` into a data file of sink `dst`."""
    f = [p for p in glob.glob(os.path.join(root, src, "**", "*.parquet"), recursive=True)
         if pq.read_metadata(p).num_rows > 0][0]
    t = pq.read_table(f)
    pq.write_table(t.slice(1), f)
    g = _first_file(os.path.join(root, dst))
    u = pq.read_table(g)
    pq.write_table(pa.concat_tables([u, t.slice(0, 1).select(u.column_names).cast(u.schema)]), g)


def check(cond: bool, what: str) -> None:
    print(("ok   " if cond else "FAIL ") + what, flush=True)
    if not cond:
        sys.exit(1)


def stream_oracle() -> None:
    """The stream check on a hand-built unified layout from truth."""
    inp = gen.inputs(os.path.join(SCRATCH, "cache"), "conf", 5, 400, 8)
    truth = pq.read_table(inp.truth).to_pylist()
    root = os.path.join(SCRATCH, "stream_sinks")

    def write(rows):
        shutil.rmtree(root, ignore_errors=True)
        by_sink: dict[str, list] = {}
        for r in rows:
            by_sink.setdefault(r["sink"], []).append(r)
        for sink, rs in by_sink.items():
            d = os.path.join(root, f"sink={sink}", "_batch_id=0")
            os.makedirs(d)
            pq.write_table(pa.table({
                "doc_id": [r["doc_id"] for r in rs],
                "status": pa.array([r["status"] for r in rs], pa.int64()),
            }), os.path.join(d, "part-0.parquet"))

    def sink_of(t):
        if t["malformed"]:
            return "dlq"
        return "alerts" if t["level"] == "ERROR" or t["status"] >= 500 else "events"

    rows = [{"doc_id": t["doc_id"], "sink": sink_of(t),
             "status": None if t["malformed"] else t["status"]} for t in truth]
    write(rows)
    _, bad, unknown, _ = oracle.check_stream(root, inp)
    check(not bad and not unknown, "stream check passes on correct output")
    write(rows[1:])
    _, bad, _, _ = oracle.check_stream(root, inp)
    check(bad == {truth[0]["file_idx"]}, "stream check flags the file of a dropped row")
    wrong = dict(rows[0], sink="events" if rows[0]["sink"] != "events" else "alerts")
    write([wrong] + rows[1:])
    _, bad, _, _ = oracle.check_stream(root, inp)
    check(bad == {truth[0]["file_idx"]}, "stream check flags a row in the wrong sink")
    write(rows + rows[:1])
    _, bad, _, _ = oracle.check_stream(root, inp)
    check(bad == {truth[0]["file_idx"]}, "stream check flags a duplicated row")


def batch_corruption() -> None:
    """A tiny traced flagship run whose sinks are corrupted after each
    pass: both corruptions must be caught and success_ratio must drop."""
    n = batch.N_EVENTS["tiny"]
    inp = gen.inputs(os.path.join(ROOT, ".perfbench", "cache"), "flagship", 3, n,
                     batch.N_FILES)
    want = oracle.flagship_oracle(inp)
    closed = gen.expected_counts("flagship", n)
    caught = []

    def corrupt(root: str) -> None:
        for name, fn in (("dropped row", lambda r: drop_row(r, "sink_edge")),
                         ("row in the wrong sink",
                          lambda r: move_row(r, "sink_edge", "sink_service"))):
            copy = os.path.join(SCRATCH, "copy")
            shutil.rmtree(copy, ignore_errors=True)
            shutil.copytree(root, copy)
            fn(copy)
            caught.append((name, bool(oracle.check_flagship_pass(copy, want, closed))))
        drop_row(root, "sink_edge")

    res = run.run_workload("batch_flagship", 3, 1, True, size="tiny", corrupt=corrupt)
    for name, hit in caught[:2]:
        check(hit, f"batch check flags a {name}")
    ratio = res["e2e"]["success_ratio"]
    check(res["failed"] >= 1 and ratio < 1 and not res["correct"],
          f"success_ratio falls below 1 on corrupted output ({ratio})")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    check(set(res["layers"]) == {m["name"] for m in bench["per_layer"]},
          "batch per-layer metrics are exactly the declared ones")
    check(set(res["e2e"]) == {m["name"] for m in bench["end_to_end"]},
          "batch end-to-end metrics are exactly the declared ones")


def cli_names() -> None:
    """The command the benchmark is run with prints only declared names."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    for workload, trace in (("stream_open_loop", 1), ("stream_open_loop", 0)):
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", "4", "--seconds", "2", "--trace", str(trace), "--size", "tiny"],
            cwd=ROOT, capture_output=True, text=True, timeout=300)
        last = json.loads(p.stdout.strip().splitlines()[-1])
        declared = bench["per_layer" if trace else "end_to_end"]
        names = set(last["metrics"])
        check(p.returncode == 0 and last["correct"] and last["failed"] == 0
              and names == {m["name"] for m in declared}
              and all(run.NAME_RE.fullmatch(k) for k in names),
              f"{workload} --trace {trace} prints every declared metric and only those")


def main() -> int:
    os.makedirs(SCRATCH, exist_ok=True)
    try:
        stream_oracle()
        cli_names()
        batch_corruption()
    finally:
        shutil.rmtree(SCRATCH, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
