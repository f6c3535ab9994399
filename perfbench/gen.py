"""Seeded input generator for the benchmark workloads.

Every event has a slot index k. Its routing attributes (level, source or
app, HTTP status, malformed) are pure functions of k over coprime moduli,
so per-sink counts are closed-form in the workload size and never depend
on the seed. The seed draws everything else (row order, hosts, pids,
words, token payloads, file membership order) with numpy's PCG64.

Inputs are written once per (kind, seed, size) under the cache root
and reused, so generation never falls inside a timed section. Beside the
input the generator writes `truth.parquet`: the per-event attributes the
oracle needs, which the program under test never reads.
"""

from __future__ import annotations

import json
import os
import shutil
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH_S = 1767225600  # 2026-01-01T00:00:00Z
WORDS = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima "
    "mike november oscar papa quebec romeo sierra tango uniform victor whiskey "
    "xray yankee zulu amber birch cedar dune ember flint"
).split()

# k % 9 -> level: ERROR 1/9, INFO 4/9, WARN 2/9, DEBUG 2/9
LEVELS = ("ERROR", "INFO", "INFO", "INFO", "INFO", "WARN", "WARN", "DEBUG", "DEBUG")

# flagship: k % 100 -> source (the flagship's skewed mix; iot misses the
# translate dictionary); malformed when k % 199 == 0 (~0.5%)
_FLAG_SOURCES = ("web",) * 55 + ("app",) * 25 + ("syslog",) * 10 + ("db",) * 6 + (
    "crawler",
) * 3 + ("iot",)
SOURCE_CLASS = {"web": "edge", "app": "service", "syslog": "infra", "db": "infra",
                "crawler": "batch"}
FLAG_SINKS = ("sink_errors", "sink_edge", "sink_service", "sink_rest", "dlq")

# conf-parse: k % 20 -> app, k % 11 -> status, malformed when k % 19 == 0 (~5%)
_CONF_APPS = ("web",) * 8 + ("api",) * 5 + ("auth",) * 3 + ("cron",) * 2 + ("worker",) * 2
_CONF_STATUS = (500, 503, 404, 302) + (200,) * 7
_METHODS = ("get", "post", "put", "delete")


@dataclass(frozen=True)
class Inputs:
    root: str
    kind: str
    seed: int
    n: int
    files: int

    @property
    def input_dir(self) -> str:
        return os.path.join(self.root, "input")

    @property
    def truth(self) -> str:
        return os.path.join(self.root, "truth.parquet")

    def file_paths(self) -> list[str]:
        return [os.path.join(self.input_dir, f"part-{i:05d}.parquet")
                for i in range(self.files)]


def _iso(seconds: np.ndarray) -> list[str]:
    ts = seconds.astype("datetime64[s]").astype(str)
    return [t + "Z" for t in ts]


def _flag_attrs(k: np.ndarray):
    level = np.asarray(LEVELS)[k % 9]
    source = np.asarray(_FLAG_SOURCES)[k % 100]
    malformed = k % 199 == 0
    return level, source, malformed


def _conf_attrs(k: np.ndarray):
    level = np.asarray(LEVELS)[k % 9]
    app = np.asarray(_CONF_APPS)[k % 20]
    status = np.asarray(_CONF_STATUS)[k % 11]
    malformed = k % 19 == 0
    return level, app, status, malformed


def flagship_routes(level, source, malformed) -> dict[str, np.ndarray]:
    """The flagship route table (plans.flagship.ROUTES) over generator
    attributes. A malformed line has no parsed level; LSCL `!=` is
    null-safe, so `[level] != "DEBUG"` holds for it."""
    cls = np.asarray([SOURCE_CLASS.get(s, "unknown") for s in source.tolist()])
    lvl_ok = malformed | (level != "DEBUG")
    edge = (cls == "edge") & lvl_ok
    service = cls == "service"
    return {
        "sink_errors": (level == "ERROR") | malformed,
        "sink_edge": edge,
        "sink_service": service,
        "sink_rest": ~edge & ~service,
        "dlq": malformed,
    }


def conf_routes(level, status, malformed) -> dict[str, np.ndarray]:
    """Routes of perfbench/conf_parse.conf over generator attributes."""
    alert = ~malformed & ((level == "ERROR") | (status >= 500))
    return {"dlq": malformed, "alerts": alert, "events": ~malformed & ~alert}


def _routes(kind: str, n: int) -> dict[str, np.ndarray]:
    k = np.arange(n)
    if kind == "conf":
        level, _, status, malformed = _conf_attrs(k)
        return conf_routes(level, status, malformed)
    return flagship_routes(*_flag_attrs(k))


def expected_counts(kind: str, n: int) -> dict[str, int]:
    """Closed-form per-sink row counts: they depend on the size only."""
    return {s: int(m.sum()) for s, m in _routes(kind, n).items()}


def route_set_counts(kind: str, n: int) -> dict[tuple[str, ...], int]:
    """Number of events per set of sinks they route to (closed form)."""
    routes = _routes(kind, n)
    names = list(routes)
    code = sum(m.astype(np.int64) << i for i, m in enumerate(routes.values()))
    vals, counts = np.unique(code, return_counts=True)
    return {tuple(s for i, s in enumerate(names) if v >> i & 1): int(c)
            for v, c in zip(vals, counts)}


def _tokens(rng: np.random.Generator, n_tok: np.ndarray) -> pa.ListArray:
    offsets = np.zeros(len(n_tok) + 1, dtype=np.int32)
    np.cumsum(n_tok, out=offsets[1:])
    values = rng.integers(0, 50257, int(offsets[-1]), dtype=np.int32)
    return pa.ListArray.from_arrays(pa.array(offsets), pa.array(values))


def _flagship_tables(seed: int, n: int) -> tuple[pa.Table, pa.Table]:
    rng = np.random.default_rng([seed, 1])
    k = rng.permutation(n)
    level, source, malformed = _flag_attrs(k)
    host = rng.integers(0, 17, n)
    pid = rng.integers(100, 1000, n)
    n_tok = rng.integers(16, 257, n).astype(np.int32)  # mean ~136 tokens
    word = np.asarray(WORDS)[rng.integers(0, len(WORDS), n)]
    ts = _iso(EPOCH_S + k)
    doc_id = [f"doc-{seed}-{x:09d}" for x in k]
    raw = [
        f"{t} h{h} {s}[{p}]: doc={d} ntok={nt} level={lv} msg={w}"
        for t, h, s, p, d, nt, lv, w in zip(ts, host, source, pid, doc_id, n_tok,
                                            level, word)
    ]
    raw = [r[:14] if m else r for r, m in zip(raw, malformed)]
    inp = pa.table({
        "doc_id": doc_id,
        "tokens": _tokens(rng, n_tok),
        "n_tok": pa.array(n_tok, pa.int32()),
        "source": source.tolist(),
        "raw": raw,
    })
    truth = pa.table({"doc_id": doc_id, "level": level.tolist(),
                      "source": source.tolist(), "malformed": malformed})
    return inp, truth


def _conf_tables(seed: int, n: int) -> tuple[pa.Table, pa.Table]:
    rng = np.random.default_rng([seed, 2])
    k = rng.permutation(n)
    level, app, status, malformed = _conf_attrs(k)
    host = rng.integers(0, 17, n)
    pid = rng.integers(100, 1000, n)
    user = rng.integers(0, 5000, n)
    nbytes = rng.integers(0, 100000, n)
    method = np.asarray(_METHODS)[rng.integers(0, 4, n)]
    w1 = np.asarray(WORDS)[rng.integers(0, len(WORDS), n)]
    w2 = np.asarray(WORDS)[rng.integers(0, len(WORDS), n)]
    ts = _iso(EPOCH_S + k)
    doc_id = [f"ev-{seed}-{x:09d}" for x in k]
    raw = [
        f"{t} h{h} {a}[{p}]: {lv} {x} user=u{u} status={st} bytes={b} "
        f"method={m} path=/{x}/{y}"
        for t, h, a, p, lv, x, y, u, st, b, m in zip(
            ts, host, app, pid, level, w1, w2, user, status, nbytes, method)
    ]
    raw = [r[:20] if m else r for r, m in zip(raw, malformed)]
    inp = pa.table({"doc_id": doc_id, "raw": raw})
    truth = pa.table({
        "doc_id": doc_id, "level": level.tolist(), "app": app.tolist(),
        "status": pa.array(np.where(malformed, 0, status), pa.int64()),
        "malformed": malformed,
    })
    return inp, truth


def inputs(cache_root: str, kind: str, seed: int, n: int, files: int) -> Inputs:
    """Generate (or reuse) the inputs of one kind ("flagship" or "conf")
    for one (seed, size).

    The input is split into `files` parquet files so the scan has several
    partitions; for the stream workload these are the files the open-loop
    generator drops, and truth carries each event's `file_idx`."""
    key = f"{kind}-s{seed}-n{n}-f{files}"
    out = Inputs(os.path.join(cache_root, key), kind, seed, n, files)
    if os.path.exists(os.path.join(out.root, "DONE")):
        return out
    tmp = out.root + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "input"))
    if kind == "conf":
        inp, truth = _conf_tables(seed, n)
    else:
        inp, truth = _flagship_tables(seed, n)
    bounds = np.linspace(0, n, files + 1).astype(int)
    file_idx = np.repeat(np.arange(files), np.diff(bounds))
    for i in range(files):
        part = inp.slice(bounds[i], bounds[i + 1] - bounds[i])
        pq.write_table(part, os.path.join(tmp, "input", f"part-{i:05d}.parquet"))
    truth = truth.append_column("file_idx", pa.array(file_idx, pa.int32()))
    pq.write_table(truth, os.path.join(tmp, "truth.parquet"))
    with open(os.path.join(tmp, "DONE"), "w") as f:
        json.dump({"kind": kind, "seed": seed, "n": n, "files": files}, f)
    shutil.rmtree(out.root, ignore_errors=True)
    os.rename(tmp, out.root)
    return out
