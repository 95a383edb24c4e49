"""The traced run's instruments.

Spans come from the benchmark side: ``patch_layers`` wraps the program's
public layer functions (DDL parse, factory create and compile, table load,
operator builders) in every module that refers to them, and restores them
afterwards; the program's files are not changed. Session build time comes
from the set-up itself. Spark's own instruments are read from outside: the
query planning tracker, the SQL metrics of executed plans and the stage
metrics of the status store.
"""

from __future__ import annotations

import functools
import importlib
import pkgutil
import re
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op: int | None = None
    child_s: float = 0.0

    @property
    def duration(self) -> float:
        return self.end - self.start

    @property
    def self_s(self) -> float:
        return self.duration - self.child_s


class Tracer:
    """In-memory spans. ``op`` ties spans to the operation that caused them."""

    def __init__(self):
        self.spans: list[Span] = []
        self.op: int | None = None
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        s = Span(name, time.perf_counter(),
                 parent=self._stack[-1] if self._stack else None, op=self.op)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if s.parent is not None:
                self.spans[s.parent].child_s += s.duration

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced


def _program_modules():
    return [m for n, m in list(sys.modules.items())
            if m is not None and (n.startswith("adhesive_spark") or n == "__spark_entry__")]


def patch_layers(tracer: Tracer):
    """Wrap each layer's public functions wherever the program refers to
    them by name; returns a function that undoes it.

    ``functools.wraps`` keeps ``__module__``/``__qualname__``, so a wrapped
    function that ends up inside a UDF is still pickled by reference and
    the Python workers run the original.
    """
    import adhesive_spark.operators as ops_pkg
    from adhesive_spark.functions import ddl, factory
    from adhesive_spark.sources import registry

    targets = [
        (ddl.parse_create_function, "ddl.parse"),
        (factory.compile_python_body, "factory.compile_python"),
        (factory.compile_java_body, "factory.compile_java"),
        (registry.load_table, "sources.load"),
    ]
    for info in pkgutil.iter_modules(ops_pkg.__path__):
        mod = importlib.import_module(f"{ops_pkg.__name__}.{info.name}")
        for attr, obj in vars(mod).items():
            if (callable(obj) and not attr.startswith("_") and not isinstance(obj, type)
                    and getattr(obj, "__module__", None) == mod.__name__):
                targets.append((obj, f"operators.{info.name}"))
    wrapped = {id(fn): tracer.wrap(name, fn) for fn, name in targets}
    undo = []
    for mod in _program_modules():
        for attr, obj in list(vars(mod).items()):
            w = wrapped.get(id(obj))
            if w is not None:
                setattr(mod, attr, w)
                undo.append((mod, attr, obj))
    cls = factory.FunctionFactory
    orig_create = cls.create_function
    cls.create_function = tracer.wrap("factory.create", orig_create)
    undo.append((cls, "create_function", orig_create))

    def restore():
        for owner, attr, obj in undo:
            setattr(owner, attr, obj)

    return restore


# --- Spark's own instruments --------------------------------------------------

_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
          "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0, "ns": 1e-9}


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric (``"4"``, ``"1,234"``, ``"0 ms"`` or
    ``"total (min, med, max ...)\\n2.2 s (...)"``) in bytes, seconds or
    rows."""
    line = text.strip().splitlines()[-1]
    head = line.split(" (", 1)[0].strip().replace(",", "")
    m = re.fullmatch(r"(-?[\d.]+)\s*([A-Za-z]*)", head)
    if not m:
        return 0.0
    return float(m.group(1)) * _UNITS.get(m.group(2), 1.0)


#: SQL metric name -> per-layer key, for Python-evaluating plan nodes
#: (any node that reports data sent to Python workers).
PYTHON_NODE_METRICS = {
    "data sent to Python workers": "pyworker.bytes_to_python",
    "data returned from Python workers": "pyworker.bytes_from_python",
    "number of output rows": "pyworker.rows",
    "time to run Python workers": "pyworker.eval_s",
    "time to initialize Python workers": "pyworker.init_s",
    "time to start Python workers": "pyworker.start_s",
}


@dataclass
class Marks:
    stage: int
    job: int
    execution: int


class SparkProbe:
    """Reads the status stores. The ``*_mark`` methods are cheap enough to
    call around every operation; the totals walk whole lists."""

    def __init__(self, spark, jar_dir):
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._gw = sc._gateway
        self._tracker = sc.statusTracker()
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._jar_dir = jar_dir
        self.python_execs: set[int] = set()

    def job_mark(self) -> int:
        return max(self._tracker.getJobIdsForGroup(None), default=-1)

    def execution_mark(self) -> int:
        n = self._sql.executionsCount()
        return self._sql.executionsList(n - 1, 1).apply(0).executionId() if n else -1

    def jar_count(self) -> int:
        """Jars in the factory's on-disk cache: one more means javac ran."""
        return len(list(self._jar_dir.glob("*.jar"))) if self._jar_dir.is_dir() else 0

    def _stages(self):
        return _seq(self._store.stageList(
            self._jvm.java.util.ArrayList(), False, False,
            self._gw.new_array(self._jvm.double, 0), self._jvm.java.util.ArrayList()))

    def _jobs(self):
        return _seq(self._store.jobsList(self._jvm.java.util.ArrayList()))

    def _executions(self):
        return _seq(self._sql.executionsList())

    def marks(self) -> Marks:
        return Marks(
            max((s.stageId() for s in self._stages()), default=-1),
            max((j.jobId() for j in self._jobs()), default=-1),
            max((e.executionId() for e in self._executions()), default=-1),
        )

    def exec_totals(self, since: Marks, until: Marks) -> dict:
        t = dict.fromkeys(
            ["exec.jobs", "exec.stages", "exec.tasks", "exec.run_s", "exec.cpu_s",
             "exec.gc_s", "exec.input_mb", "exec.shuffle_write_mb",
             "exec.shuffle_read_mb", "exec.spill_mb"], 0.0)
        t["exec.jobs"] = sum(1 for j in self._jobs() if since.job < j.jobId() <= until.job)
        mb = 2**20
        for s in self._stages():
            if not since.stage < s.stageId() <= until.stage:
                continue
            t["exec.stages"] += 1
            t["exec.tasks"] += s.numCompleteTasks()
            t["exec.run_s"] += s.executorRunTime() / 1e3
            t["exec.cpu_s"] += s.executorCpuTime() / 1e9
            t["exec.gc_s"] += s.jvmGcTime() / 1e3
            t["exec.input_mb"] += s.inputBytes() / mb
            t["exec.shuffle_write_mb"] += s.shuffleWriteBytes() / mb
            t["exec.shuffle_read_mb"] += s.shuffleReadBytes() / mb
            t["exec.spill_mb"] += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / mb
        return t

    def python_totals(self, since: Marks, until: Marks) -> dict:
        """Python-worker boundary totals over the SQL executions in the
        window; remembers which executions ran Python."""
        t = dict.fromkeys(PYTHON_NODE_METRICS.values(), 0.0)
        for e in self._executions():
            eid = e.executionId()
            if not since.execution < eid <= until.execution:
                continue
            values = self._sql.executionMetrics(eid)
            nodes = _seq(self._sql.planGraph(eid).allNodes())
            for node in nodes:
                metrics = {m.name(): m.accumulatorId() for m in _seq(node.metrics())}
                if "data sent to Python workers" not in metrics:
                    continue
                self.python_execs.add(eid)
                for name, key in PYTHON_NODE_METRICS.items():
                    acc = metrics.get(name)
                    if acc is None:
                        continue
                    v = values.get(acc)
                    if v.isDefined():
                        t[key] += parse_metric(v.get())
        return t


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def planning_phases(df) -> dict[str, float]:
    """Milliseconds per planning phase of the DataFrame's last execution."""
    out = {}
    it = df._jdf.queryExecution().tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = float(kv._2().durationMs())
    return out


def profile_bodies(spark, out_dir) -> tuple[float, float]:
    """Seconds in factory-compiled UDF bodies and in everything the UDF
    profiler saw, from the profiles collected so far."""
    import pstats
    from pathlib import Path

    spark.profile.dump(str(out_dir))
    body = total = 0.0
    for f in Path(out_dir).glob("*.pstats"):
        st = pstats.Stats(str(f))
        total += st.total_tt
        for (filename, _, _), (_, _, _, ct, _) in st.stats.items():
            if filename.startswith("<adhesive:"):
                body += ct
    return body, total
