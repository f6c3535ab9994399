"""In-memory spans around calls into the program's layers.

Spans are recorded from the benchmark's own code only: the program is
never edited. `Tracer.patch` swaps a module attribute for a wrapper that
opens a span around each call and restores it on `restore`, so the
untraced passes of a run execute the program exactly as shipped.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self.enabled = False
        self.overhead_s = 0.0  # time spent inside the tracer's own bookkeeping
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str) -> int | None:
        if not self.enabled:
            return None
        t = time.perf_counter()
        st = self._stack()
        idx = len(self.spans)
        self.spans.append({"name": name, "start": time.time(), "end": None,
                           "parent": st[-1] if st else None, "run_id": self.run_id})
        st.append(idx)
        self.overhead_s += time.perf_counter() - t
        return idx

    def end(self, idx: int | None) -> None:
        if idx is None:
            return
        t = time.perf_counter()
        self.spans[idx]["end"] = time.time()
        st = self._stack()
        if st and st[-1] == idx:
            st.pop()
        self.overhead_s += time.perf_counter() - t

    def add(self, name: str, start: float, end: float, parent: int | None) -> int:
        """Record a span measured elsewhere (e.g. a streaming progress report)."""
        self.spans.append({"name": name, "start": start, "end": end,
                           "parent": parent, "run_id": self.run_id})
        return len(self.spans) - 1

    def span(self, name: str):
        tracer = self

        class _Span:
            def __enter__(self):
                self.idx = tracer.begin(name)
                return self.idx

            def __exit__(self, *exc):
                tracer.end(self.idx)
                return False

        return _Span()

    def wrap(self, name: str, fn):
        def traced(*a, **k):
            idx = self.begin(name)
            try:
                return fn(*a, **k)
            finally:
                self.end(idx)

        return traced

    def patch(self, owner: object, attr: str, name: str) -> None:
        self.replace(owner, attr, self.wrap(name, getattr(owner, attr)))

    def replace(self, owner: object, attr: str, replacement) -> None:
        self._patches.append((owner, attr, getattr(owner, attr)))
        setattr(owner, attr, replacement)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()

    # -- derived tables ------------------------------------------------------

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the part of each span's
        interval that its child spans cover."""
        kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                kids[s["parent"]].append((s["start"], s["end"]))
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            if s["end"] is None:
                continue
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in sorted(kids.get(i, [])):
                a, b = max(a, s["start"]), min(b, s["end"])
                if b <= a:
                    continue
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[s["name"]] += (s["end"] - s["start"]) - covered
        return dict(out)

    def dump(self, out_dir: str, extra: dict | None = None) -> None:
        """Write the spans (JSON lines) and the per-layer self-time table."""
        os.makedirs(out_dir, exist_ok=True)
        with open(os.path.join(out_dir, "spans.jsonl"), "w") as f:
            for i, s in enumerate(self.spans):
                f.write(json.dumps({"id": i, **s}) + "\n")
        with open(os.path.join(out_dir, "layers.json"), "w") as f:
            json.dump({"run_id": self.run_id, "self_time_s": self.self_times(),
                       **(extra or {})}, f, indent=1, sort_keys=True)
