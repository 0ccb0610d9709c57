"""Tracing for the benchmark's traced run: spans around the package's
public layer boundaries, plus a per-operation readout of the Spark
engine's own counters.

Everything here is installed from outside the package: ``Tracer.install``
replaces module attributes and class methods with timing wrappers and
``Tracer.uninstall`` puts the originals back. A span records its name,
start, end, parent span and operation id; spans stay in memory until
``Tracer.dump``.
"""

from __future__ import annotations

import functools
import importlib
import json
import threading
import time

# (module path relative to the package, attribute, span name).
# ``streaming.pipeline`` binds parse/route/write at import time, so those
# are patched where the pipeline looks them up.
FUNCTION_SPANS = (
    ("streaming.pipeline", "parse_billing", "parse"),
    ("streaming.pipeline", "route", "route"),
    ("streaming.pipeline", "write_partitioned_batch", "sink.write"),
    ("sink", "cleanup_batch_files", "sink.cleanup"),
    ("compact", "compact_partition", "compact"),
    ("sources.tables", "read_table_as_of", "tables.read_as_of"),
    ("sources.stream", "billing_stream_source", "stream.source"),
)
LEDGER_SPANS = (("committed", "ledger.read"), ("commit", "ledger.commit"))
FS_METHODS = (
    "exists", "is_dir", "list_entries", "list_files_recursive", "mkdirs",
    "rename", "delete", "read_text", "write_text_atomic",
)

# span name prefix -> layer (the package module that owns the boundary)
LAYERS = (
    ("op.", "bench"),
    ("exec.", "engine"),
    ("pipeline.", "streaming.pipeline"),
    ("parse", "parse"),
    ("route", "route"),
    ("sink.", "sink"),
    ("ledger.", "sink"),
    ("fs.", "fs"),
    ("compact", "compact"),
    ("tables.", "sources.tables"),
    ("stream.", "sources.stream"),
    ("catalog.", "plans.catalog"),
)
LAYER_NAMES = tuple(dict.fromkeys(layer for _p, layer in LAYERS))


def layer_of(span_name: str) -> str:
    for prefix, layer in LAYERS:
        if span_name.startswith(prefix):
            return layer
    return "bench"


class Tracer:
    """In-memory span recorder. Recording happens only while ``enabled``
    is true, so one process can alternate traced and untraced operations
    with the wrappers left in place."""

    def __init__(self):
        self.enabled = False
        self.op_id: str | None = None
        # [name, start, end, parent index, op id, extra]
        self.spans: list[list] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patches: list[tuple[object, str, object]] = []
        self._op_stack: list[int] = []

    # ---- operations and spans ---------------------------------------

    def start_op(self, op_id: str) -> None:
        """Record spans for operation ``op_id`` until ``stop_op``. Spans
        opened on another thread meanwhile (the streaming query's batch
        callback) are parented to the innermost span open on this one."""
        self.enabled, self.op_id = True, op_id
        self._op_stack = self._stack()

    def stop_op(self) -> None:
        self.enabled, self.op_id, self._op_stack = False, None, []

    def _stack(self) -> list[int]:
        return self._local.__dict__.setdefault("stack", [])

    def begin(self, name: str) -> int | None:
        if not self.enabled:
            return None
        stack = self._stack()
        outer = stack or self._op_stack
        with self._lock:
            idx = len(self.spans)
            self.spans.append(
                [name, time.perf_counter(), None, outer[-1] if outer else None, self.op_id, {}]
            )
        stack.append(idx)
        return idx

    def end(self, idx: int | None, **extra) -> None:
        if idx is None:
            return
        span = self.spans[idx]
        span[2] = time.perf_counter()
        span[5].update(extra)
        stack = self._stack()
        if stack and stack[-1] == idx:
            stack.pop()

    def traced(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            idx = tracer.begin(name)
            try:
                out = fn(*args, **kwargs)
            except BaseException:
                tracer.end(idx, error=True)
                raise
            if idx is not None and name in ("fs.read_text", "fs.write_text_atomic"):
                text = out if name == "fs.read_text" else args[-1]
                tracer.end(idx, bytes=len(text.encode("utf-8")))
            else:
                tracer.end(idx)
            return out

        return wrapper

    # ---- install / uninstall ----------------------------------------

    def _patch(self, owner, attr: str, name: str) -> None:
        original = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        self._patches.append((owner, attr, original))
        setattr(owner, attr, self.traced(name, getattr(owner, attr)))

    def install(self, pkg: str) -> None:
        for mod, attr, name in FUNCTION_SPANS:
            self._patch(importlib.import_module(f"{pkg}.{mod}"), attr, name)
        sink = importlib.import_module(f"{pkg}.sink")
        for attr, name in LEDGER_SPANS:
            self._patch(sink.BatchLedger, attr, name)
        fs = importlib.import_module(f"{pkg}.fs")
        for cls in (fs.HadoopFS, fs.LocalFS):
            for attr in FS_METHODS:
                self._patch(cls, attr, f"fs.{attr}")

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, original = self._patches.pop()
            setattr(owner, attr, original)

    # ---- output -----------------------------------------------------

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, (name, start, end, parent, op, extra) in enumerate(self.spans):
                f.write(
                    json.dumps(
                        {"id": i, "name": name, "start": start, "end": end,
                         "parent": parent, "op": op, **extra}
                    )
                    + "\n"
                )

    def self_times(self) -> dict[str, dict[str, float]]:
        """{op id: {layer: self seconds}} — a span's duration minus the
        part its direct children cover (children nest on one thread)."""
        child_time = [0.0] * len(self.spans)
        for name, start, end, parent, _op, _x in self.spans:
            if parent is not None and end is not None:
                child_time[parent] += end - start
        out: dict[str, dict[str, float]] = {}
        for i, (name, start, end, _parent, op, _x) in enumerate(self.spans):
            if end is None or op is None:
                continue
            per = out.setdefault(op, {})
            layer = layer_of(name)
            per[layer] = per.get(layer, 0.0) + (end - start) - child_time[i]
        return out


class SparkStatus:
    """Per-operation Spark engine counters read from the status store
    (answers with the UI disabled). Each operation runs under its own
    job group; ``collect`` sums the stages of that group's jobs."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        self._bus = self.sc._jsc.sc().listenerBus()

    def set_group(self, group: str) -> str | None:
        """Tag jobs started from this thread with ``group``; returns the
        thread's previous group for ``restore_group``."""
        prev = self.sc.getLocalProperty("spark.jobGroup.id")
        self.sc.setJobGroup(group, group)
        return prev

    def restore_group(self, prev: str | None) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", prev)

    def collect(self, group: str, t0: float, t1: float) -> dict[str, float]:
        """Counters of ``group``'s jobs; ``t0``/``t1`` are the operation's
        wall-clock bounds (``time.time()``), used for the driver gap:
        operation time during which no stage of the group was running."""
        from py4j.protocol import Py4JJavaError

        self._bus.waitUntilEmpty(10_000)
        tracker = self.sc.statusTracker()
        out = dict.fromkeys(
            ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
             "shuffle_write_bytes", "input_bytes", "output_bytes"), 0.0
        )
        intervals = []
        for job in tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            info = tracker.getJobInfo(job)
            for stage in info.stageIds if info else ():
                try:
                    sd = self._store.lastStageAttempt(stage)
                except Py4JJavaError:  # NoSuchElementException: stage evicted
                    continue
                if sd.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += sd.numTasks()
                out["executor_run_s"] += sd.executorRunTime() / 1e3
                out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                out["gc_s"] += sd.jvmGcTime() / 1e3
                out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                out["input_bytes"] += sd.inputBytes()
                out["output_bytes"] += sd.outputBytes()
                sub, done = sd.submissionTime(), sd.completionTime()
                if sub.isDefined() and done.isDefined():
                    intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
        out["driver_gap_s"] = (t1 - t0) - _covered(intervals, t0, t1)
        return out


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_start, cur_end = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total
