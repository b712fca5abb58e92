"""Outside-in instrumentation: layer spans, Spark status reads, /proc.

Nothing here edits the engine. In a traced run :class:`Tracer` swaps
selected public callables of ``walden_spark`` modules for timing
wrappers (monkeypatching from the benchmark's side), keeps every span
in memory and writes them out at exit. Untraced runs install nothing,
so they pay no instrumentation cost.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import threading
import time
from collections import defaultdict

LAYERS = (
    "client", "session", "queries", "timetravel", "catalog",
    "operators", "functions", "streaming",
)


class Tracer:
    """Span recorder. A span is (id, name, start, end, parent, op,
    error); the name's first dotted segment is its layer. Parents come from a
    per-thread stack; threads the engine starts itself (streaming
    callbacks) fall back to the op most recently started."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[tuple] = []
        self.overhead_s = 0.0
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._last_op: str | None = None
        self._patched: list[tuple] = []

    # ---- span bookkeeping ----

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def begin(self, name: str, op: str | None = None) -> tuple:
        a = time.perf_counter()
        st = self._stack()
        parent = st[-1] if st else None
        if op is None:
            op = parent[3] if parent else self._last_op
        else:
            self._last_op = op
        frame = (next(self._ids), name, parent[0] if parent else None, op)
        st.append(frame)
        t0 = time.perf_counter()
        self.overhead_s += t0 - a
        return frame + (t0,)

    def end(self, token: tuple, err: str | None = None) -> float:
        t1 = time.perf_counter()
        sid, name, parent, op, t0 = token
        self._stack().pop()
        with self._lock:
            self.spans.append((sid, name, t0, t1, parent, op, err))
        self.overhead_s += time.perf_counter() - t1
        return t1 - t0

    @contextlib.contextmanager
    def span(self, name: str, op: str | None = None):
        """Record the enclosed block as a span; ``op`` starts a new op."""
        if not self.enabled:
            yield
            return
        token = self.begin(name, op)
        try:
            yield
        finally:
            self.end(token)

    @contextlib.contextmanager
    def paused(self):
        """Record nothing in the enclosed block (single-client use: the
        switch is shared by all threads)."""
        enabled, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = enabled

    # ---- monkeypatching ----

    def wrap(self, owner, attr: str, name, call_name=None) -> None:
        """Replace ``owner.attr`` with a span-recording wrapper. The span
        is called ``name``, or ``call_name(*args)`` when that is given;
        a raised exception's class name is kept on the span."""
        if not self.enabled:
            return
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            token = tracer.begin(call_name(*args) if call_name else name)
            err = None
            try:
                return fn(*args, **kwargs)
            except BaseException as e:
                err = type(e).__name__
                raise
            finally:
                tracer.end(token, err)

        self._patched.append((owner, attr, fn))
        setattr(owner, attr, wrapper)

    def restore(self) -> None:
        for owner, attr, fn in reversed(self._patched):
            setattr(owner, attr, fn)
        self._patched.clear()

    # ---- reporting ----

    def durations(self, prefix: str, since: float = 0.0) -> list[float]:
        """Durations of the spans whose name is ``prefix`` or starts
        with ``prefix.``, begun at or after ``since``."""
        dot = prefix + "."
        return [
            s[3] - s[2] for s in self.spans
            if s[2] >= since and (s[1] == prefix or s[1].startswith(dot))
        ]

    def errors(self, name: str, err: str, since: float = 0.0) -> int:
        return sum(1 for s in self.spans if s[1] == name and s[6] == err and s[2] >= since)

    def self_times(self, since: float = 0.0) -> dict[str, float]:
        """Seconds each layer spent in its own code: span duration minus
        the durations of its direct children, summed per layer."""
        spans = [s for s in self.spans if s[2] >= since]
        child = defaultdict(float)
        for s in spans:
            if s[4] is not None:
                child[s[4]] += s[3] - s[2]
        out = dict.fromkeys(LAYERS, 0.0)
        for s in spans:
            layer = s[1].split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + max(0.0, s[3] - s[2] - child[s[0]])
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for sid, name, t0, t1, parent, op, err in self.spans:
                f.write(json.dumps({
                    "id": sid, "name": name, "start": t0, "end": t1,
                    "parent": parent, "op": op, "error": err,
                }) + "\n")


class SparkStats:
    """Per-op Spark metrics read from the application status store
    through the op's job group."""

    FIELDS = (
        "jobs", "stages", "tasks", "failed_tasks", "task_run_s", "task_cpu_s",
        "gc_s", "input_mb", "shuffle_write_mb", "shuffle_read_mb", "spill_mb",
    )

    def __init__(self):
        self.totals = dict.fromkeys(self.FIELDS, 0.0)
        self.read_s = 0.0
        self._lock = threading.Lock()

    def collect(self, sc, group: str) -> None:
        t0 = time.perf_counter()
        store = sc._jsc.sc().statusStore()
        tracker = sc.statusTracker()
        acc = dict.fromkeys(self.FIELDS, 0.0)
        for jid in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(jid)
            if info is None:
                continue
            acc["jobs"] += 1
            for sid in info.stageIds:
                try:
                    sd = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 - evicted from the store
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                acc["stages"] += 1
                acc["tasks"] += sd.numTasks()
                acc["failed_tasks"] += sd.numFailedTasks()
                acc["task_run_s"] += sd.executorRunTime() / 1e3
                acc["task_cpu_s"] += sd.executorCpuTime() / 1e9
                acc["gc_s"] += sd.jvmGcTime() / 1e3
                acc["input_mb"] += sd.inputBytes() / 2**20
                acc["shuffle_write_mb"] += sd.shuffleWriteBytes() / 2**20
                acc["shuffle_read_mb"] += sd.shuffleReadBytes() / 2**20
                acc["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 2**20
        with self._lock:
            for k, v in acc.items():
                self.totals[k] += v
            self.read_s += time.perf_counter() - t0


class StreamProgress:
    """Collects streaming micro-batch progress through a
    StreamingQueryListener registered on the session."""

    def __init__(self):
        self.batches: list[dict] = []
        self._lock = threading.Lock()

    def listener(self):
        from pyspark.sql.streaming import StreamingQueryListener

        owner = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                with owner._lock:
                    owner.batches.append({
                        "t": time.perf_counter(),
                        "duration_s": (p.batchDuration or 0) / 1e3,
                        "input_rows": p.numInputRows or 0,
                    })

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        return _Listener()


# ---- /proc readers (psutil is not installed) ----


def _status_kb(pid: int, key: str) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(key + ":"):
                    return float(line.split()[1])
    except OSError:
        pass
    return 0.0


def peak_rss_mb(pid: int) -> float:
    return _status_kb(pid, "VmHWM") / 1024.0


def rss_mb(pid: int) -> float:
    return _status_kb(pid, "VmRSS") / 1024.0


class RssSampler:
    """Samples the summed resident set of some processes every
    ``period`` seconds on a background thread, until stopped."""

    def __init__(self, pids: list[int], period: float = 0.2):
        self.pids, self.period = pids, period
        self.samples: list[float] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.samples.append(sum(rss_mb(p) for p in self.pids))
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


def _children() -> dict[int, list[int]]:
    out: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        out[ppid].append(int(d))
    return out


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, ()):
            out.append(c)
            todo.append(c)
    return out


def cpu_seconds(pid: int) -> float:
    """User+system CPU of ``pid`` and every live descendant, including
    the CPU of children they already reaped."""
    tick = os.sysconf("SC_CLK_TCK")
    total = 0.0
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15]) / tick
    return total


def dir_mb(path: str) -> float:
    total = 0
    for root, _, files in os.walk(path):
        for name in files:
            try:
                total += os.lstat(os.path.join(root, name)).st_size
            except OSError:
                pass
    return total / 2**20
