"""Spans, job-group attribution, Spark event-log parsing and RSS sampling.

A `Tracer` partitions one op's wall time into segments, each charged to the
layer that is "current" at that moment:

- entering a span makes its layer current and tags every Spark job started
  from then on with `setJobGroup(<layer>)`;
- leaving an eager span hands back to the parent layer;
- leaving a lazy span (a function that only builds a DataFrame plan) keeps
  its layer current until the next span boundary, because the plan it built
  executes in the caller's next action. Execution is therefore attributed to
  the layer that planned it, by time and by job group alike.

Inside an "op" span, the self times of all layers plus the op span's own
self time sum to the op wall exactly; the op span's share is reported as
unattributed time.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

HARNESS_GROUP = "harness"


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


class Tracer:
    def __init__(self, sc):
        self.sc = sc
        self.stack: list[str] = []
        self.sticky: str | None = None
        self.self_s: dict[str, float] = defaultdict(float)
        self.wall_s: dict[str, float] = defaultdict(float)
        self.spans: list[dict] = []
        self.overhead_s = 0.0  # time spent in span bookkeeping itself
        self._mark = time.perf_counter()
        self._open_lazy: dict | None = None

    def current(self) -> str:
        if self.sticky is not None:
            return self.sticky
        return self.stack[-1] if self.stack else HARNESS_GROUP

    def _boundary(self) -> float:
        """Charge the time since the last boundary to the current layer and
        close a pending lazy tail."""
        now = time.perf_counter()
        self.self_s[self.current()] += now - self._mark
        self._mark = now
        if self._open_lazy is not None:
            self._close(self._open_lazy, now)
            self._open_lazy = None
        self.sticky = None
        return now

    def _close(self, span: dict, end: float) -> None:
        span["end"] = end
        if span["name"] not in self.stack:  # outermost occurrence only
            self.wall_s[span["name"]] += end - span["start"]

    @contextmanager
    def span(self, name: str, lazy: bool = False):
        start = self._boundary()
        span = {"name": name, "parent": self.current(), "start": start, "lazy": lazy}
        self.spans.append(span)
        self.stack.append(name)
        self.sc.setJobGroup(name, name)
        self.overhead_s += time.perf_counter() - start
        try:
            yield
        finally:
            end = self._boundary()
            self.stack.pop()
            if lazy:
                self.sticky = name
                self._open_lazy = span
            else:
                self._close(span, end)
                self.sc.setJobGroup(self.current(), self.current())
            self.overhead_s += time.perf_counter() - end

    def finish(self) -> None:
        self._boundary()
        self.sc.setJobGroup(HARNESS_GROUP, HARNESS_GROUP)

    def span_records(self) -> list[dict]:
        """The recorded spans, times in seconds from the first span's start."""
        t0 = self.spans[0]["start"] if self.spans else 0.0
        return [
            {"name": s["name"], "parent": s["parent"], "lazy": s["lazy"],
             "start_s": s["start"] - t0, "dur_s": s.get("end", s["start"]) - s["start"]}
            for s in self.spans
        ]

    def wrap(self, fn, name: str, lazy: bool = False):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name, lazy=lazy):
                return fn(*args, **kwargs)

        return traced


class TracedModule:
    """Stand-in for a module imported by name at one call site: listed
    functions are traced, everything else is forwarded untouched. Patching
    the call site's reference (not the defining module) keeps the spans
    local to that caller."""

    def __init__(self, module, tracer: Tracer, spans: dict[str, tuple[str, bool]]):
        self._module = module
        for fn_name, (layer, lazy) in spans.items():
            setattr(self, fn_name, tracer.wrap(getattr(module, fn_name), layer, lazy))

    def __getattr__(self, item):
        return getattr(self._module, item)


@contextmanager
def patched(obj, attr: str, value):
    old = getattr(obj, attr)
    setattr(obj, attr, value)
    try:
        yield
    finally:
        setattr(obj, attr, old)


# ------------------------------------------------------------- event log


LAYER_COUNTERS = (
    "jobs", "tasks", "failed_tasks", "task_busy_s", "shuffle_bytes", "spill_bytes",
)


def parse_event_log(path: str) -> dict[str, dict[str, float]]:
    """Per job group: jobs, tasks, failed tasks, summed executor run time,
    shuffle bytes written and disk bytes spilled."""
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(LAYER_COUNTERS, 0))
    stage_group: dict[int, str] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get("spark.jobGroup.id") or HARNESS_GROUP
                out[group]["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                c = out[stage_group.get(ev["Stage ID"], HARNESS_GROUP)]
                c["tasks"] += 1
                info = ev.get("Task Info", {})
                if info.get("Failed") or info.get("Killed"):
                    c["failed_tasks"] += 1
                m = ev.get("Task Metrics") or {}
                c["task_busy_s"] += m.get("Executor Run Time", 0) / 1000.0
                c["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                c["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    return dict(out)


def find_event_log(log_dir: str) -> str:
    logs = [os.path.join(log_dir, f) for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {logs}")
    return logs[0]


# ------------------------------------------------------------------- /proc


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rfind(")") + 2 :].split()[1])
        kids[ppid].append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s(pid: int) -> float:
    """CPU seconds (user + system) used by `pid` and its descendants,
    including their reaped children."""
    ticks = os.sysconf("SC_CLK_TCK")
    total = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2 :].split()
        total += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    return total / ticks


def vm_cpu_jiffies() -> tuple[int, int]:
    """(jiffies this machine's CPUs wanted to run, jiffies of those the
    hypervisor gave to another guest), summed over CPUs since boot."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:]]
    user, nice, system, _idle, _iowait, irq, softirq, steal = v[:8]
    return user + nice + system + irq + softirq + steal, steal


def tree_rss_bytes(pid: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in [pid, *descendants(pid)]:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total


class RssSampler:
    """Peak resident memory of this process and all its descendants."""

    def __init__(self, interval_s: float = 0.5):
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
