"""Measurement helpers: spans with self time, a Spark status-store reader,
a process-tree RSS sampler, and wrappers that put spans around the
public functions of the repo's modules from outside.

Spans stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import json
import os
import threading
import time
from collections import defaultdict


class Tracer:
    """Nested spans: name, start, end, parent and run id.  A disabled
    tracer records nothing, so the untraced path pays one attribute test
    per span."""

    def __init__(self, run_id: str, enabled: bool = True):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, after=None):
        """Record ``name`` around the block.  ``after()``, if given, runs
        once the span has ended (e.g. a status-store delta) and its result
        becomes the span's attributes."""
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            "attrs": {},
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if after is not None:
                rec["attrs"] = after()

    def attrs(self, name: str) -> list[dict]:
        return [s["attrs"] for s in self.spans if s["name"] == name]

    def wrap(self, owner, attr: str, name: str):
        """Replace ``owner.attr`` with a spanned twin; returns an undo."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def spanned(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        setattr(owner, attr, spanned)
        return lambda: setattr(owner, attr, fn)

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans if s["name"] == name)

    def self_times(self) -> dict[str, dict]:
        """name -> {calls, total_s, self_s}; self time is a span's
        duration minus the union of its children's intervals."""
        kids = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                kids[s["parent"]].append((s["start"], s["end"]))
        out: dict[str, dict] = {}
        for s in self.spans:
            covered, cur_end = 0.0, s["start"]
            for a, b in sorted(kids[s["id"]]):
                a, b = max(a, cur_end), min(b, s["end"])
                if b > a:
                    covered += b - a
                    cur_end = b
            row = out.setdefault(s["name"], {"calls": 0, "total_s": 0.0, "self_s": 0.0})
            row["calls"] += 1
            row["total_s"] += s["end"] - s["start"]
            row["self_s"] += s["end"] - s["start"] - covered
        return out

    def dump(self, path: str, extra: dict) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [
            {**s, "start": s["start"] - t0, "end": s["end"] - t0} for s in self.spans
        ]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": spans, "self_times": self.self_times(), **extra}, f, indent=1)


SPARK_COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "single_task_stages",
    "task_run_s",
    "task_cpu_s",
    "max_task_s",
    "input_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "gc_s",
)


class StatusStore:
    """Reads Spark's in-process status store (works with
    ``spark.ui.enabled=false``).  ``delta()`` returns the counters of
    every job and stage completed since the previous call; call it after
    each operation so the default 1000-stage retention never drops one."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc
        self._jsc = sc._jsc.sc()
        gw = sc._gateway
        self._no_q = gw.new_array(gw.jvm.double, 0)
        self._max_q = gw.new_array(gw.jvm.double, 1)
        self._max_q[0] = 1.0
        self._seen_jobs = set(self._job_ids())
        self._last_stage = self._newest_stage()

    def _job_ids(self):
        return self._sc.statusTracker().getJobIdsForGroup(None)

    def _stages(self):
        self._jsc.listenerBus().waitUntilEmpty()
        return self._jsc.statusStore().stageList(None, False, False, self._no_q, None)

    def _newest_stage(self) -> int:
        st = self._stages()
        return st.apply(0).stageId() if st.size() else -1

    def _job_count(self) -> int:
        """Jobs started since the previous call."""
        self._jsc.listenerBus().waitUntilEmpty()
        ids = set(self._job_ids())
        new = ids - self._seen_jobs
        self._seen_jobs |= new
        return len(new)

    def delta(self) -> dict[str, float]:
        out = dict.fromkeys(SPARK_COUNTERS, 0.0)
        out["jobs"] = self._job_count()
        st = self._stages()  # newest first
        store = self._jsc.statusStore()
        newest = self._last_stage
        for i in range(st.size()):
            s = st.apply(i)
            sid = s.stageId()
            if sid <= self._last_stage:
                break
            newest = max(newest, sid)
            n = s.numTasks()
            out["stages"] += 1
            out["tasks"] += n
            out["single_task_stages"] += n == 1
            out["task_run_s"] += s.executorRunTime() / 1e3
            out["task_cpu_s"] += s.executorCpuTime() / 1e9
            out["input_bytes"] += s.inputBytes()
            out["shuffle_read_bytes"] += s.shuffleReadBytes()
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            out["gc_s"] += s.jvmGcTime() / 1e3
            summ = store.taskSummary(sid, s.attemptId(), self._max_q)
            if summ.isDefined():
                out["max_task_s"] = max(
                    out["max_task_s"], summ.get().executorRunTime().apply(0) / 1e3
                )
        self._last_stage = newest
        return out

    def persisted_rdds(self) -> int:
        return self._sc._jsc.getPersistentRDDs().size()


def add_counters(acc: dict, d: dict) -> None:
    for k, v in d.items():
        acc[k] = max(acc.get(k, 0.0), v) if k == "max_task_s" else acc.get(k, 0.0) + v


def _children() -> dict[int, list[int]]:
    out = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:  # the process ended while we listed /proc
            continue
        out[int(stat[stat.rindex(")") + 2 :].split()[1])].append(int(name))
    return out


def descendants(root: int) -> list[int]:
    children = _children()
    out, todo = [], list(children.get(root, ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _tree_rss_bytes(root: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for pid in [root, *descendants(root)]:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            pass
    return total


class RssSampler:
    """Summed RSS of this process and all its descendants (driver JVM,
    Python workers), sampled from /proc every ``period`` seconds;
    ``take_peak`` returns the peak of the window since its previous call."""

    def __init__(self, period: float = 0.1):
        self.period = period
        self._peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        me = os.getpid()
        while not self._stop.is_set():
            rss = _tree_rss_bytes(me)
            with self._lock:
                self._peak = max(self._peak, rss)
            self._stop.wait(self.period)

    def take_peak(self) -> int:
        rss = _tree_rss_bytes(os.getpid())
        with self._lock:
            peak, self._peak = max(self._peak, rss), 0
        return peak

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
