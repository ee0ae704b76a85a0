"""Span recorder and Spark event-log attribution for the traced run.

Spans are kept in memory and written out once, when the run ends. Each
span has a name, start and end (epoch seconds), the id of the span that
was open when it began (its parent) and a request id shared by every
span of one API request. Calls into the program run one at a time —
the streaming sinks call back on another thread, but only while the
main thread blocks on them — so a single stack gives every span its
parent, and a Spark task belongs to the innermost span whose window
holds its launch time.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from contextlib import contextmanager
from functools import wraps


class Recorder:
    """Collects spans; a disabled recorder keeps nothing and wraps nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.request_id: int | None = None
        self._stack: list[int] = []
        self._lock = threading.Lock()
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        with self._lock:
            sid = len(self.spans)
            rec = {
                "id": sid,
                "name": name,
                "parent": self._stack[-1] if self._stack else None,
                "request": self.request_id,
                "start": time.time(),
                "end": None,
            }
            rec.update(attrs)
            self.spans.append(rec)
            self._stack.append(sid)
        try:
            yield
        finally:
            with self._lock:
                rec["end"] = time.time()
                self._stack.remove(sid)

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a version that runs inside a span."""
        if not self.enabled:
            return
        fn = getattr(owner, attr)

        @wraps(fn)
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        self._patched.append((owner, attr, fn))
        setattr(owner, attr, traced)

    def unwrap_all(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    def closed(self, name: str, requests: set[int] | None = None) -> list[dict]:
        """Ended ``name`` spans, only those of ``requests`` when given."""
        return [
            s
            for s in self.spans
            if s["name"] == name and s["end"] is not None and (requests is None or s["request"] in requests)
        ]

    def durations(self, name: str, requests: set[int] | None = None) -> list[float]:
        return [s["end"] - s["start"] for s in self.closed(name, requests)]

    def self_times(self, name: str, requests: set[int] | None = None) -> list[float]:
        """Duration of each ``name`` span minus the part of it covered
        by its direct children (overlapping children counted once)."""
        kids: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
        out = []
        for s in self.closed(name, requests):
            covered, cur_a, cur_b = 0.0, None, None
            for a, b in sorted(kids.get(s["id"], [])):
                a, b = max(a, s["start"]), min(b, s["end"])
                if cur_b is None or a > cur_b:
                    if cur_b is not None:
                        covered += cur_b - cur_a
                    cur_a, cur_b = a, b
                else:
                    cur_b = max(cur_b, b)
            if cur_b is not None:
                covered += cur_b - cur_a
            out.append(s["end"] - s["start"] - covered)
        return out

    def ancestors(self, sid: int):
        while sid is not None:
            yield self.spans[sid]
            sid = self.spans[sid]["parent"]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


# -- Spark event log ---------------------------------------------------------
def read_event_log(log_dir: str) -> tuple[list[dict], list[dict]]:
    """(jobs, tasks) from every application log under ``log_dir``; times
    in epoch seconds."""
    jobs, tasks = [], []
    for path in sorted(glob.glob(f"{log_dir}/**", recursive=True)):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs.append({"time": ev["Submission Time"] / 1000.0})
                elif kind == "SparkListenerTaskEnd":
                    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    tasks.append(
                        {
                            "time": info["Launch Time"] / 1000.0,
                            "run_s": m.get("Executor Run Time", 0) / 1000.0,
                            "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                            "shuffle_read_bytes": sr.get("Remote Bytes Read", 0)
                            + sr.get("Local Bytes Read", 0),
                            "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
                            "spill_bytes": m.get("Memory Bytes Spilled", 0)
                            + m.get("Disk Bytes Spilled", 0),
                        }
                    )
    return jobs, tasks


def attribute(rec: Recorder, items: list[dict]) -> dict[int, list[dict]]:
    """Map span id -> items whose time falls in that span and in none of
    its children (the innermost enclosing span)."""
    spans = sorted(
        (s for s in rec.spans if s["end"] is not None), key=lambda s: s["start"]
    )
    out: dict[int, list[dict]] = {}
    for it in items:
        best = None
        for s in spans:
            if s["start"] > it["time"]:
                break
            if it["time"] <= s["end"] and (
                best is None or s["start"] >= best["start"]
            ):
                best = s
        if best is not None:
            out.setdefault(best["id"], []).append(it)
    return out


def under(rec: Recorder, by_span: dict[int, list[dict]], top: str) -> list[dict]:
    """Every attributed item whose span has an ancestor named ``top``."""
    out = []
    for sid, items in by_span.items():
        if any(a["name"] == top for a in rec.ancestors(sid)):
            out.extend(items)
    return out
