"""Spans and counters for the traced run.

Spans are recorded around the benchmark's own calls into each layer,
plus around a few public library functions that are reached only
through the engine (wrapped here, never edited in the package). Each
span keeps its name, start, end and parent; all spans stay in memory
until the run ends.

Counters come from three places:
- py4j round-trips: a counting wrapper on the gateway client's
  ``send_command`` (JavaObject finalizer messages excluded, so counts
  do not depend on when Python's GC runs);
- Spark jobs, stages, tasks, shuffle/spill bytes and executor time:
  per-operation deltas. An operation's jobs are the job ids the
  scheduler handed out while it ran; their stages come from
  ``statusTracker`` and the status store (which keeps only the last
  ~1000 jobs, so reads happen right after each operation);
- JVM GC time: the driver JVM's GarbageCollectorMXBeans (in local mode
  the driver is the executor).
"""

from __future__ import annotations

import threading
import time
from collections import defaultdict
from contextlib import contextmanager

_MEMORY_DEL = "m\nd\n"  # py4j: release a Java object reference


class Tracer:
    """Spans + counters. With ``enabled`` False every hook is a no-op
    and nothing is wrapped, so the untraced run pays nothing."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[tuple[str, float, float, int | None]] = []
        self.totals: dict[str, float] = defaultdict(float)
        self.py4j_calls = 0
        self._local = threading.local()
        self._lock = threading.Lock()
        self._op_span: int | None = None
        self._quiet = False
        self._undo: list = []

    def reset(self) -> dict[str, float]:
        """Return the totals so far and start new ones (spans stay), so
        set-up and warm-up work is not counted per operation."""
        with self._lock:
            done, self.totals = dict(self.totals), defaultdict(float)
        return done

    # -- spans ------------------------------------------------------------
    @contextmanager
    def span(self, name: str, jobs: bool = False):
        """Time a block as a span. Accumulates ``<name>_s`` (duration),
        ``<name>_calls`` and ``<name>_py4j`` (round-trips made while it
        ran, on any thread); with ``jobs``, also ``<name>_jobs`` (Spark
        jobs started inside it)."""
        if not self.enabled:
            yield
            return
        if jobs:
            with self.quiet():
                jobs0 = _jobs_started(self.spark)
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        parent = stack[-1] if stack else self._op_span
        with self._lock:
            idx = len(self.spans)
            self.spans.append((name, time.perf_counter(), 0.0, parent))
        stack.append(idx)
        calls0 = self.py4j_calls
        try:
            yield
        finally:
            stack.pop()
            end = time.perf_counter()
            with self._lock:
                n, start, _, p = self.spans[idx]
                self.spans[idx] = (n, start, end, p)
                self.totals[f"{name}_s"] += end - start
                self.totals[f"{name}_calls"] += 1
                self.totals[f"{name}_py4j"] += self.py4j_calls - calls0
            if jobs:
                with self.quiet():
                    self.totals[f"{name}_jobs"] += _jobs_started(self.spark) - jobs0

    @contextmanager
    def quiet(self):
        """Keep the tracer's own py4j calls out of the counts."""
        self._quiet = True
        try:
            yield
        finally:
            self._quiet = False

    def count(self, key: str, value: float = 1) -> None:
        if self.enabled:
            with self._lock:
                self.totals[key] += value

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` (a class or an instance) with a
        spanned wrapper; undone by ``uninstall``."""
        if not self.enabled:
            return
        orig = getattr(owner, attr)
        tracer = self

        def wrapped(*args, **kwargs):
            with tracer.span(name):
                return orig(*args, **kwargs)

        # restore by setattr what the owner held itself (a module's or
        # class's own function); delete an instance's shadow of a
        # class attribute
        own = attr in vars(owner)
        setattr(owner, attr, wrapped)
        self._undo.append((owner, attr, orig, own))

    # -- py4j -------------------------------------------------------------
    def install(self) -> None:
        if not self.enabled:
            return
        client = self.spark.sparkContext._gateway._gateway_client
        orig = client.send_command
        tracer = self

        def send_command(command, *args, **kwargs):
            if not tracer._quiet and not command.startswith(_MEMORY_DEL):
                with tracer._lock:
                    tracer.py4j_calls += 1
            return orig(command, *args, **kwargs)

        own = "send_command" in vars(client)
        client.send_command = send_command
        self._undo.append((client, "send_command", orig, own))

    def uninstall(self) -> None:
        for owner, attr, orig, own in reversed(self._undo):
            if own:
                setattr(owner, attr, orig)
            else:
                delattr(owner, attr)
        self._undo.clear()

    # -- one closed-loop operation ---------------------------------------
    @contextmanager
    def operation(self, name: str):
        """Span one closed-loop operation and add its Spark and py4j
        deltas to the totals under ``spark.*`` / ``driver.*``."""
        if not self.enabled:
            yield
            return
        with self.quiet():
            before = _jobs_started(self.spark)
            gc0 = _gc_ms(self.spark)
        calls0 = self.py4j_calls
        with self.span(name):
            self._op_span = len(self.spans) - 1
            try:
                yield
            finally:
                self._op_span = None
        with self.quiet():
            self.totals["driver.py4j_round_trips"] += self.py4j_calls - calls0
            for k, v in _spark_delta(self.spark, before).items():
                self.totals[f"spark.{k}"] += v
            self.totals["spark.gc_s"] += (_gc_ms(self.spark) - gc0) / 1000.0

    def self_times(self) -> dict[str, float]:
        """Per span name: duration minus the part covered by its direct
        children (children may overlap when they ran on threads, so the
        covered part is the union of their intervals)."""
        kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
        for name, start, end, parent in self.spans:
            if parent is not None:
                kids[parent].append((start, end))
        out: dict[str, float] = defaultdict(float)
        for i, (name, start, end, _) in enumerate(self.spans):
            covered, cur_s, cur_e = 0.0, None, None
            for s, e in sorted(kids.get(i, [])):
                if cur_e is None or s > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = s, e
                else:
                    cur_e = max(cur_e, e)
            if cur_e is not None:
                covered += cur_e - cur_s
            out[name] += (end - start) - covered
        return dict(out)


def _jobs_started(spark) -> int:
    """Jobs submitted so far. Job ids are handed out in order, so the
    jobs of an operation are the ids between two reads, whatever job
    group (or thread) submitted them."""
    return spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs()


def _gc_ms(spark) -> int:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in beans.getGarbageCollectorMXBeans())


def _settle(spark) -> None:
    """Wait until the listener bus is drained, so the status store has
    seen every event of the jobs that already finished."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def _spark_delta(spark, before: int) -> dict[str, float]:
    """Jobs/stages/tasks and stage metrics of the jobs started since
    ``_jobs_started`` read ``before``."""
    sc = spark.sparkContext
    _settle(spark)
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    new = range(before, _jobs_started(spark))
    out = defaultdict(float)
    out["jobs"] = len(new)
    stages: set[int] = set()
    for jid in new:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stages.update(int(s) for s in info.stageIds)
    for sid in sorted(stages):
        sd = store.lastStageAttempt(sid)
        if sd.status().toString() == "SKIPPED":
            continue
        out["stages"] += 1
        out["tasks"] += sd.numTasks()
        out["failed_tasks"] += sd.numFailedTasks()
        out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
        out["executor_run_s"] += sd.executorRunTime() / 1000.0
        out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
    return out
