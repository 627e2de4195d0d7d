"""Measurement helpers: spans around layer calls, Spark event-log stage
metrics per span, and the peak resident memory of the process tree.

Spans are recorded from the benchmark's side of each call into a
``vspace_spark`` module; nothing inside the program is instrumented.
Each span runs its Spark jobs under its own job group, so the stage
metrics in the event log can be attributed to it afterwards.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

from pyspark.sql import DataFrame

# Stage accumulables summed per span, with the factor that converts
# each to the reported unit.
_STAGE_METRICS = {
    "internal.metrics.executorCpuTime": ("cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("gc_s", 1e-3),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_mb", 1 / 2**20),
    "internal.metrics.diskBytesSpilled": ("spill_mb", 1 / 2**20),
}
STAGE_FIELDS = ("cpu_s", "gc_s", "shuffle_write_mb", "spill_mb", "tasks", "jobs")


class Tracer:
    """In-memory span recorder. ``span`` nests; the innermost open span
    owns the Spark job group while it runs.

    ``step`` and ``patched`` put a span around one layer call and
    persist and materialise the DataFrame it returns, so its work is
    done inside its own span and not in whichever span uses it next.
    ``patched`` also materialises the call's DataFrame arguments before
    the span opens. Every materialised frame is unpersisted by
    ``release``."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.groups: dict[str, int] = {}  # job group id -> span index
        self.calls: list[dict] = []  # patched calls: name, args, kwargs, out
        self._ready: dict[int, DataFrame] = {}  # id -> materialised frame
        self._pending: str | None = None

    @contextmanager
    def span(self, name: str):
        idx = len(self.spans)
        group = f"{self.run_id}.{idx}"
        rec = {
            "name": name,
            "run_id": self.run_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self.groups[group] = idx
        self._stack.append(idx)
        self._own_group()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self._own_group()

    def _own_group(self) -> None:
        """Give the Spark job group to the innermost open span."""
        if self._stack:
            idx = self._stack[-1]
            self.sc.setJobGroup(f"{self.run_id}.{idx}", self.spans[idx]["name"])
        else:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def _materialise(self, df: DataFrame) -> DataFrame:
        if id(df) not in self._ready:
            df.persist()
            df.count()
            self._ready[id(df)] = df
        return df

    def step(self, name: str, fn):
        """``fn()`` under span ``name``; a returned DataFrame is
        materialised inside the span."""
        with self.span(name):
            out = fn()
            if isinstance(out, DataFrame):
                self._materialise(out)
        return out

    def _wrap(self, fn, name: str):
        def shim(*args, **kwargs):
            self._own_group()  # the program may have set a job group of its own
            for arg in (*args, *kwargs.values()):
                if isinstance(arg, DataFrame) and id(arg) not in self._ready:
                    if self._pending:
                        # the frame a Column-building call was applied to
                        with self.span(self._pending):
                            self._materialise(arg)
                        self._pending = None
                    else:
                        self._materialise(arg)
            out = self.step(name, lambda: fn(*args, **kwargs))
            self.calls.append({"name": name, "args": args, "kwargs": kwargs, "out": out})
            return out

        return shim

    @contextmanager
    def patched(self, shims, normalizer=None):
        """Replace each ``(module, attr, span name)`` with a shim for
        the duration. ``normalizer`` is a ``(module, attr, span name)``
        whose function builds a Column: its work is timed when the next
        shim materialises the frame it was applied to."""
        saved = [(m, a, getattr(m, a)) for m, a, _ in shims]
        for m, a, name in shims:
            setattr(m, a, self._wrap(getattr(m, a), name))
        if normalizer is not None:
            module, attr, name = normalizer
            saved.append((module, attr, getattr(module, attr)))
            column_fn = getattr(module, attr)

            def marked(*args, **kwargs):
                self._pending = name
                return column_fn(*args, **kwargs)

            setattr(module, attr, marked)
        try:
            yield
        finally:
            for m, a, fn in saved:
                setattr(m, a, fn)

    def release(self) -> None:
        for df in self._ready.values():
            df.unpersist()
        self._ready.clear()

    def adopt_group(self, group: str, idx: int) -> None:
        """Attribute jobs run under a group the program chose (e.g. a
        streaming query's run id) to span ``idx``."""
        self.groups[group] = idx

    def self_times(self) -> list[float]:
        """Span duration minus the time its child spans cover; children
        run one after another, so their durations do not overlap."""
        own = [s["end"] - s["start"] for s in self.spans]
        for s in self.spans:
            if s["parent"] is not None:
                own[s["parent"]] -= s["end"] - s["start"]
        return own

    def dump(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as fh:
            json.dump(
                [dict(s, self_s=t) for s, t in zip(self.spans, selfs)], fh, indent=1
            )


def stage_metrics_by_group(event_log_dir: str) -> dict[str, dict[str, float]]:
    """Sum completed-stage metrics per job group over every event log
    in ``event_log_dir``."""
    stage_group: dict[tuple[str, int], str] = {}
    out: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(STAGE_FIELDS, 0.0))
    for path in sorted(glob.glob(os.path.join(event_log_dir, "local-*"))):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group is not None:
                        out[group]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault((path, sid), group)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    group = stage_group.get((path, info["Stage ID"]))
                    if group is None:
                        continue
                    agg = out[group]
                    agg["tasks"] += info.get("Number of Tasks", 0)
                    for acc in info.get("Accumulables", []):
                        field = _STAGE_METRICS.get(acc.get("Name"))
                        if field:
                            agg[field[0]] += float(acc["Value"]) * field[1]
    return dict(out)


def _children(pid: int) -> list[int]:
    kids: list[int] = []
    for task in glob.glob(f"/proc/{pid}/task/*/children"):
        try:
            with open(task) as fh:
                kids.extend(int(x) for x in fh.read().split())
        except OSError:
            continue
    return kids


def tree_rss_bytes(root: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        try:
            with open(f"/proc/{pid}/statm") as fh:
                total += int(fh.read().split()[1]) * page
        except OSError:
            continue
        todo.extend(_children(pid))
    return total


class RssSampler:
    """Background thread sampling the RSS sum of this process and all
    its descendants (the JVM and the Python workers)."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pid = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(pid))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
