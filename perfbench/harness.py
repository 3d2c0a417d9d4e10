"""Measurement helpers: latency statistics, memory, spans and the Spark
event-log reader. Nothing here imports pyspark or the program under test,
so the helpers are unit-testable on their own."""

from __future__ import annotations

import json
import math
import os
import time
from contextlib import contextmanager

# Percentile levels a tail may be reported at, highest first.
TAIL_LEVELS = (99, 95, 90, 75, 50)
# A reported percentile is best read with this many samples beyond it.
SAMPLES_BEYOND = 10


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile (numpy's default method), q in
    [0, 100]."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def highest_supported_level(n: int, levels=TAIL_LEVELS, beyond: int = SAMPLES_BEYOND):
    """The highest percentile level with at least ``beyond`` of ``n``
    samples above it, or None when even the median lacks them."""
    for q in levels:
        if n * (100 - q) / 100.0 >= beyond:
            return q
    return None


def vm_hwm_mb(pid: "int | str" = "self") -> float:
    """Peak resident set size of a process, from /proc/<pid>/status."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def cpu_s(pid: "int | str" = "self") -> float:
    """User plus system CPU time of a process, from /proc/<pid>/stat."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


class Tracer:
    """In-memory spans (name, start, end, parent), written out once at the
    end. Disabled tracers cost one attribute check."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.bookkeeping_s = 0.0

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        b0 = time.perf_counter()
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        b1 = time.perf_counter()
        self.bookkeeping_s += b1 - b0
        rec["start"] = b1
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.bookkeeping_s += time.perf_counter() - rec["end"]

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and "end" in s]

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: duration minus the time its
        direct children cover."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and "end" in s:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            if "end" in s:
                out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - child[s["id"]]
        return out

    def wrap(self, module, attr: str, span_name: str):
        """Replace ``module.attr`` with a wrapper that records a span around
        each call; returns a function that restores the original."""
        original = getattr(module, attr)
        tracer = self

        def wrapper(*args, **kwargs):
            with tracer.span(span_name):
                return original(*args, **kwargs)

        setattr(module, attr, wrapper)
        return lambda: setattr(module, attr, original)

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                {"spans": self.spans, "self_s": self.self_times(), **extra},
                f,
                indent=1,
            )


# --- Spark event log ------------------------------------------------------------

PHASE_PROPERTY = "perfbench.phase"
# SQL accumulable Spark's Python runners update with the bytes they send.
PYTHON_SENT = "data sent to Python workers"


COUNTERS = ("tasks", "executor_run_s", "gc_s", "shuffle_write_bytes", "input_bytes",
            "input_records", "python_bytes_sent")


def parse_event_log(path: str) -> dict[str, dict[str, float]]:
    """Task metrics summed per value of the job property
    ``perfbench.phase``: tasks, executor run time (s), JVM GC time (s),
    shuffle bytes written, input bytes and records read, and bytes sent to
    Python workers."""
    stage_phase: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                tag = (ev.get("Properties") or {}).get(PHASE_PROPERTY)
                for sid in ev.get("Stage IDs", []):
                    stage_phase[sid] = tag
            elif kind == "SparkListenerTaskEnd":
                tag = stage_phase.get(ev.get("Stage ID"))
                if tag is None:
                    continue
                c = out.setdefault(tag, dict.fromkeys(COUNTERS, 0.0))
                m = ev.get("Task Metrics") or {}
                c["tasks"] += 1
                c["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                c["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                c["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                inp = m.get("Input Metrics") or {}
                c["input_bytes"] += inp.get("Bytes Read", 0)
                c["input_records"] += inp.get("Records Read", 0)
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    if acc.get("Name") == PYTHON_SENT:
                        c["python_bytes_sent"] += float(acc.get("Update") or 0)
    return out


def phase_total(by_phase: dict[str, dict[str, float]], phase: str) -> dict[str, float]:
    """Counters summed over ``phase`` and its sub-phases (``phase/<part>``)."""
    total = dict.fromkeys(COUNTERS, 0.0)
    for tag, c in by_phase.items():
        if tag == phase or tag.startswith(phase + "/"):
            for k in COUNTERS:
                total[k] += c[k]
    return total


def find_event_log(log_dir: str) -> str:
    logs = [os.path.join(log_dir, f) for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {len(logs)}")
    return logs[0]
