"""Tracing helpers of the benchmark: spans around the calls into each
layer, py4j command counts and Spark job/stage/task counters.

Nothing here is active in an untraced run: the benchmark installs the
wrappers and the py4j counter only when it runs with ``--trace 1``.
Spans are kept in memory and written out when the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import inspect
import time

# py4j sends "m\nd\n<id>" when a Python-side proxy of a JVM object is
# garbage collected. When that happens depends on the Python garbage
# collector, not on the program, so those commands are not counted:
# without them the count repeats exactly between identical runs.
_PROXY_RELEASE = "m\nd\n"


class Py4jCounter:
    """Counts py4j commands sent to the JVM, proxy releases excluded."""

    def __init__(self, gateway_client):
        self.n = 0
        self.paused_s = 0.0  # wall spent in the benchmark's own reads
        self._paused = 0
        self._client = gateway_client
        self._orig = gateway_client.send_command

        def send_command(command, *a, **kw):
            if not self._paused and not command.startswith(_PROXY_RELEASE):
                self.n += 1
            return self._orig(command, *a, **kw)

        gateway_client.send_command = send_command

    @contextlib.contextmanager
    def paused(self):
        """Commands the benchmark itself sends (counter reads) are not
        the program's work and are left out of the count; their wall
        time is the tracing overhead."""
        self._paused += 1
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self._paused -= 1
            if not self._paused:
                self.paused_s += time.perf_counter() - t0

    def uninstall(self) -> None:
        self._client.send_command = self._orig


class SparkCounters:
    """Monotone Spark counters read through the JVM gateway."""

    def __init__(self, spark, py4j: Py4jCounter):
        self._sc = spark.sparkContext._jsc.sc()
        self._quiet = py4j.paused

    def jobs_stages(self) -> tuple[int, int]:
        """Jobs and stages created so far (the DAG scheduler's id counters)."""
        with self._quiet():
            dag = self._sc.dagScheduler()
            # the AtomicInteger id counters arrive as Python ints
            return int(dag.nextJobId()), int(dag.nextStageId())

    def task_totals(self) -> tuple[int, int]:
        """(tasks, shuffle write bytes) summed over executors, after the
        listener bus has delivered every pending event to the status store."""
        with self._quiet():
            self._sc.listenerBus().waitUntilEmpty()
            seq = self._sc.statusStore().executorList(True)
            tasks = shuffle = 0
            for i in range(seq.size()):
                e = seq.apply(i)
                tasks += int(e.totalTasks())
                shuffle += int(e.totalShuffleWrite())
            return tasks, shuffle

    def catalyst_ms(self, df) -> dict[str, float]:
        """Analysis, optimization and planning time of ``df``'s query
        execution (Spark's QueryPlanningTracker); 0 for a phase that has
        not run."""
        out = {}
        with self._quiet():
            phases = df._jdf.queryExecution().tracker().phases()
            for ph in ("analysis", "optimization", "planning"):
                opt = phases.get(ph)
                out[ph] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
        return out


class Tracer:
    """Spans with parent links, recorded while ``enabled``.

    A span records its layer, a name, start/end wall time (seconds from
    ``time.perf_counter``), its parent span, the operation it belongs to,
    and the py4j commands and Spark jobs issued inside it."""

    def __init__(self):
        self.spans: list[dict] = []
        self.enabled = False
        self.op: str | None = None
        self.py4j: Py4jCounter | None = None
        self.counters: SparkCounters | None = None
        self._stack: list[int] = []
        self._undo: list[tuple[object, str, object]] = []

    def attach(self, spark) -> None:
        """Install the py4j counter on the session's gateway client and
        bind the Spark counters to the session."""
        self.py4j = Py4jCounter(spark.sparkContext._gateway._gateway_client)
        self.counters = SparkCounters(spark, self.py4j)

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans), "layer": layer, "name": name,
            "parent": self._stack[-1] if self._stack else None, "op": self.op,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        p0 = self.py4j.n
        j0, _ = self.counters.jobs_stages()
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            rec["py4j"] = self.py4j.n - p0
            rec["jobs"] = self.counters.jobs_stages()[0] - j0
            self._stack.pop()

    # ----------------------------------------------------------- wrappers
    def _wrap(self, fn, layer: str, name: str):
        tracer = self

        @functools.wraps(fn)  # keeps module/qualname: pickles by reference
        def wrapper(*a, **kw):
            if not tracer.enabled:
                return fn(*a, **kw)
            with tracer.span(layer, name):
                return fn(*a, **kw)

        return wrapper

    def wrap_module(self, module, layer: str) -> int:
        """Wrap every public function defined in ``module``; returns the
        number wrapped. Callers that bound a function by name before this
        call keep the unwrapped one, so wrap before importing them."""
        n = 0
        for name, fn in list(vars(module).items()):
            if (name.startswith("_") or not inspect.isfunction(fn)
                    or fn.__module__ != module.__name__):
                continue
            self._undo.append((module, name, fn))
            setattr(module, name, self._wrap(fn, layer, f"{module.__name__.rsplit('.', 1)[-1]}.{name}"))
            n += 1
        return n

    def wrap_methods(self, cls, layer: str, names) -> None:
        for name in names:
            fn = cls.__dict__[name]
            self._undo.append((cls, name, fn))
            setattr(cls, name, self._wrap(fn, layer, f"{cls.__name__}.{name}"))

    def unwrap(self) -> None:
        for owner, name, fn in reversed(self._undo):
            setattr(owner, name, fn)
        self._undo.clear()
        if self.py4j is not None:
            self.py4j.uninstall()
