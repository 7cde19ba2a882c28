"""In-memory spans for the traced run, written once as a Chrome trace.

A span has a name, a start, an end, the span that caused it and the query it
belongs to. Spans are kept in a list while the run goes and exported at the
end in the reference's ``timeline.json`` shape
(``{"traceEvents": [{ph, cat, name, pid, tid, ts, dur, args: {name, op}}]}``).
A second document holds the same events with ``dur`` set to each span's self
time (its duration minus its children's), and the engine's own
``operators.flatten.flatten_trace`` -> ``trace_top_ops`` ranks it.
"""

from __future__ import annotations

import contextlib
import json
import os
import time


class Tracer:
    """Records spans while ``enabled``; a disabled tracer records nothing,
    so untraced passes pay only a no-op context manager per span."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[list] = []  # [name, start_ns, end_ns, parent, qid]
        self.stack: list[int] = []
        self.wall0_ns = time.time_ns()
        self.pc0_ns = time.perf_counter_ns()

    @contextlib.contextmanager
    def span(self, name: str, qid: str = ""):
        if not self.enabled:
            yield
            return
        parent = self.stack[-1] if self.stack else None
        if not qid and parent is not None:
            qid = self.spans[parent][4]
        idx = len(self.spans)
        self.spans.append([name, time.perf_counter_ns(), None, parent, qid])
        self.stack.append(idx)
        try:
            yield
        finally:
            self.stack.pop()
            self.spans[idx][2] = time.perf_counter_ns()

    def add_batches(self, batches: list[dict]) -> None:
        """One span per streaming micro-batch, placed under the innermost
        recorded span that covers it."""
        for b in batches:
            start = int(b["start_ms"] * 1e6) - self.wall0_ns + self.pc0_ns
            end = start + int(b["duration"].get("triggerExecution", 0) * 1e6)
            parent = None
            for i, s in enumerate(self.spans):
                if s[0] != "streaming.batch" and s[1] <= start and end <= s[2]:
                    if parent is None or s[1] >= self.spans[parent][1]:
                        parent = i
            qid = self.spans[parent][4] if parent is not None else ""
            self.spans.append(["streaming.batch", start, end, parent, qid])

    def self_ns(self) -> list[int]:
        child = [0] * len(self.spans)
        for s in self.spans:
            if s[3] is not None:
                child[s[3]] += s[2] - s[1]
        return [max(s[2] - s[1] - c, 0) for s, c in zip(self.spans, child)]

    def events(self, self_time: bool) -> list[dict]:
        t0 = min(s[1] for s in self.spans)
        durs = self.self_ns() if self_time else \
            [s[2] - s[1] for s in self.spans]
        return [{
            "ph": "X", "cat": "perfbench", "name": s[0], "pid": 0,
            "tid": 1 if s[0] == "streaming.batch" else 0,
            "ts": (s[1] - t0) // 1000, "dur": d // 1000,
            "args": {"name": f"{s[0]}:{s[4]}" if s[4] else s[0],
                     "op": s[4],
                     "parent": "" if s[3] is None else self.spans[s[3]][0]},
        } for s, d in zip(self.spans, durs)]

    def export(self, path: str, spark, stream_batches: list[dict]) -> dict:
        """Write the trace and its self-time twin; rank the twin with the
        engine's trace pipeline. Returns the top spans by self time."""
        from columnar_estimator_sample_spark.operators.flatten import (
            flatten_trace,
            trace_top_ops,
        )
        self.add_batches(stream_batches)
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        with open(path, "w") as f:
            json.dump({"traceEvents": self.events(self_time=False)}, f)
        self_path = path + ".self.ndjson"
        with open(self_path, "w") as f:
            f.write(json.dumps({"traceEvents": self.events(self_time=True)})
                    + "\n")
        top = trace_top_ops(flatten_trace(spark, self_path), 20).collect()
        return {"path": path, "self_path": self_path, "spans": len(self.spans),
                "top_ops": [r.asDict() for r in top]}

