"""Per-layer tracing from outside the program.

Three sources, none of which edits the program:

- ``Tracer``: wraps each layer module's public functions in a span
  recorder and patches every namespace that bound them by name.  Spans
  are kept in memory with a request id and parent span id; a layer's
  time is its self time (span minus the traced spans it caused).
- ``Py4JCounter``: counts and times the commands the driver sends to
  the JVM, minus proxy-release commands, whose number follows Python
  GC timing rather than the work.
- ``SparkCounters`` / ``ProcStats``: Spark-side counters read through
  Py4J (codegen, scheduler, executor summary, stage data, GC beans)
  and process CPU/RSS read from ``/proc``.
"""

from __future__ import annotations

import ast
import contextlib
import functools
import importlib
import inspect
import os
import pkgutil
import resource
import sys
import threading
import time
from collections import Counter, defaultdict
from pathlib import Path

from py4j.protocol import Py4JJavaError

PACKAGE = "sparkall_spark"

# Operator modules reported one by one (the rest still record spans).
OPERATOR_METRICS = (
    "dedup", "similarity", "quantize", "postings", "sketches", "selection",
    "lm", "temporal", "joins", "pipeline", "_cache",
)

# Layer metric -> (end-to-end metric it should move, workload it is read on).
# The latency_* metrics are printed but not gated; on sparql_mix a pass is
# one request per shape, so whatever moves them moves pass_s too.  The
# wrapper coverage test asserts each traced layer records a call on the
# workload listed here.
SHOULD_MOVE = {
    "mappings.build_ms": ("setup_s, latency_p50_s", "sparql_mix"),
    "mappings.expand_ms": ("setup_s, latency_p50_s", "sparql_mix"),
    "sources.load_ms": ("latency_p50_s", "sparql_mix"),
    "sources.loads": ("latency_p50_s", "sparql_mix"),
    "parser.ms": ("latency_p50_s", "sparql_mix"),
    "parser.calls": ("latency_p50_s", "sparql_mix"),
    "planner.ms": ("latency_p50_s", "sparql_mix"),
    "executor.self_ms": ("latency_p50_s, latency_tail_s", "sparql_mix"),
    "sqlgen.ms": ("latency_p50_s, latency_tail_s", "sparql_mix"),
    **{f"operators.{m}.ms": ("pass_s", "ops_build") for m in OPERATOR_METRICS},
    "functions.text.ms": ("pass_s", "ops_build"),
    "streaming.windows.ms": ("pass_s", "ops_build"),
    "entry.construct_ms": ("pass_s", "ops_build"),
    "entry.materialize_ms": ("pass_s", "ops_build"),
    "py4j.calls": ("latency_p50_s, pass_s", "sparql_mix, ops_build"),
    "py4j.ms": ("latency_p50_s, pass_s", "sparql_mix, ops_build"),
    "spark.catalyst.analysis_ms": ("latency_p50_s", "sparql_mix"),
    "spark.catalyst.optimize_ms": ("latency_p50_s", "sparql_mix"),
    "spark.catalyst.physical_ms": ("latency_p50_s", "sparql_mix"),
    "spark.codegen.compiles": ("latency_tail_s", "sparql_mix"),
    "spark.codegen.compile_ms": ("latency_tail_s", "sparql_mix"),
    "spark.scheduler.jobs": ("pass_s", "ops_build"),
    "spark.scheduler.stages": ("pass_s", "ops_build"),
    "spark.tasks.count": ("pass_s", "ops_build"),
    "spark.tasks.busy_ms": ("pass_s, cpu_s", "ops_build"),
    "spark.tasks.slot_utilization": ("pass_s, cpu_s", "ops_build"),
    "spark.jvm.gc_ms": ("pass_s, cpu_s", "ops_build"),
    "spark.python_workers.cpu_s": ("pass_s, cpu_s", "ops_build"),
    "spark.scan.input_bytes": ("pass_s, peak_rss_mb", "ops_build"),
    "spark.shuffle.write_bytes": ("pass_s, peak_rss_mb", "ops_build"),
    "spark.shuffle.read_bytes": ("pass_s, peak_rss_mb", "ops_build"),
    "spark.spill.bytes": ("pass_s, peak_rss_mb", "ops_build"),
    "spark.write.output_bytes": ("pass_s, peak_rss_mb", "ops_build"),
    "spark.cache.mem_mb": ("pass_s, peak_rss_mb", "ops_build"),
    "trace.overhead_pct": ("(tracing cost, not a program metric)", "all"),
}

# Metric -> the wrapper layer it is read from (see ``layer_of``).
TRACED = {
    "mappings.build_ms": "mappings.build",
    "mappings.expand_ms": "mappings.expand",
    "sources.load_ms": "sources.load",
    "sources.loads": "sources.load",
    "parser.ms": "parser",
    "parser.calls": "parser",
    "planner.ms": "planner",
    "executor.self_ms": "executor",
    "sqlgen.ms": "sqlgen",
    **{f"operators.{m}.ms": f"operators.{m}" for m in OPERATOR_METRICS},
    "functions.text.ms": "functions.text",
    "streaming.windows.ms": "streaming.windows",
}

# Layers no workload reaches today; they are reported (as 0) so that a
# change routing work through them shows.  sqlgen runs only under
# Engine.sparql(backend="sql") and the benchmark uses the default
# backend; streaming.windows serves q14/q15, which no workload runs.
UNREACHED_LAYERS = {"sqlgen.ms", "streaming.windows.ms"}

# Calls that hand a function to Spark to run in Python workers
# (foreachBatch is absent: its function runs on the driver).
_SHIP_CALLS = {
    "udf", "pandas_udf", "mapInPandas", "mapInArrow", "applyInPandas",
    "applyInArrow", "mapPartitions", "mapPartitionsWithIndex", "map",
    "flatMap", "foreach", "foreachPartition", "reduce",
    "mapValues", "flatMapValues", "reduceByKey", "combineByKey",
    "aggregate", "treeAggregate", "treeReduce",
}


def layer_of(module: str, func: str) -> str | None:
    """Metric prefix for a public function of ``module``."""
    rel = module[len(PACKAGE) + 1:] if module.startswith(PACKAGE + ".") else None
    if rel is None:
        return None
    if rel == "fixtures":
        return "sources.load" if func == "load_table" else "mappings.build"
    if rel == "mappings":
        return "mappings.expand" if func == "expand_negated_paths" \
            else "mappings.build"
    if rel == "sources" or rel.startswith("sources."):
        return "sources.load"
    if rel in ("plans.parser", "plans.planner", "plans.sqlgen"):
        return rel.split(".")[1]
    if rel in ("executor", "functions.text", "streaming.windows"):
        return rel
    if rel.startswith("operators."):
        return rel
    return None


def _names_in(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
    return out


def shipped_names(sources: list[str]) -> set[str]:
    """Names a function shipped to Python workers can reach.

    A function is shipped when it is decorated with a ``*udf``
    decorator or passed (by name or as a lambda/nested def) to one of
    ``_SHIP_CALLS``.  Every name its body mentions is collected, closed
    over the functions of the same source with that name (matching by
    name over-approximates: several nested defs may share one)."""
    out: set[str] = set()
    for src in sources:
        tree = ast.parse(src)
        defs: dict[str, list[ast.AST]] = defaultdict(list)
        for n in ast.walk(tree):
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)):
                defs[n.name].append(n)
        roots: list[ast.AST] = []
        for n in ast.walk(tree):
            if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef)):
                for d in n.decorator_list:
                    if any("udf" in x for x in _names_in(d)):
                        roots.append(n)
            if isinstance(n, ast.Call):
                f = n.func
                fname = f.attr if isinstance(f, ast.Attribute) else \
                    f.id if isinstance(f, ast.Name) else ""
                if fname not in _SHIP_CALLS:
                    continue
                for a in list(n.args) + [k.value for k in n.keywords]:
                    if isinstance(a, ast.Lambda):
                        roots.append(a)
                    elif isinstance(a, ast.Name) and a.id in defs:
                        roots += defs[a.id]
                    elif isinstance(a, ast.Attribute):
                        out.add(a.attr)
        seen: set[str] = set()
        while roots:
            r = roots.pop()
            for name in _names_in(r):
                if isinstance(r, (ast.FunctionDef, ast.AsyncFunctionDef)):
                    out.add(r.name)
                out.add(name)
                if name in defs and name not in seen:
                    seen.add(name)
                    roots += defs[name]
    return out


class Tracer:
    """Span recorder around the layer modules' public functions.

    Some operators build frames from a thread pool, so each thread keeps
    its own span stack; a span opened on a pool thread has no parent."""

    def __init__(self):
        self.enabled = False
        self.request_id: int | None = None
        # (request, span id, parent id, layer, function, thread, t0, t1)
        self.spans: list[tuple] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._next_id = 0
        self.self_s: dict[str, float] = defaultdict(float)
        self.calls: Counter = Counter()
        self.wrapped: dict[str, str] = {}  # "module.func" -> layer
        self.excluded: set[str] = set()

    # -- recording ---------------------------------------------------
    def _stack(self) -> list[list]:
        """This thread's open spans: [id, layer, t0, child s, parent, fn]."""
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _open(self, layer: str, fn: str) -> list:
        stack = self._stack()
        with self._lock:
            self._next_id += 1
            sid = self._next_id
        parent = stack[-1][0] if stack else None
        frame = [sid, layer, time.perf_counter(), 0.0, parent, fn]
        stack.append(frame)
        return frame

    def _close(self, frame: list) -> None:
        t1 = time.perf_counter()
        stack = self._stack()
        stack.pop()
        sid, layer, t0, child, parent, fn = frame
        dur = t1 - t0
        if stack:
            stack[-1][3] += dur
        outermost = not any(f[1] == layer for f in stack)
        with self._lock:
            self.self_s[layer] += dur - child
            if outermost:
                self.calls[layer] += 1
            self.spans.append((self.request_id, sid, parent, layer, fn,
                               threading.get_ident(), t0, t1))

    @contextlib.contextmanager
    def span(self, layer: str, fn: str = ""):
        """A span opened by the benchmark itself."""
        frame = self._open(layer, fn) if self.enabled else None
        try:
            yield
        finally:
            if frame is not None:
                self._close(frame)

    def reset(self) -> None:
        self.self_s.clear()
        self.calls.clear()

    # -- installation ------------------------------------------------
    def _wrap(self, fn, layer: str):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            frame = tracer._open(layer, fn.__name__)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer._close(frame)

        return traced

    def install(self, root: Path) -> None:
        """Import every package module, wrap the layer modules' public
        functions and rebind them in every loaded module of the package
        and in ``__spark_entry__``.  Run it before ``__spark_entry__`` is
        imported, so that its import binds the wrappers too."""
        pkg = importlib.import_module(PACKAGE)
        mods = [pkg] + [importlib.import_module(m.name) for m in
                        pkgutil.walk_packages(pkg.__path__, PACKAGE + ".")]
        files = [Path(m.__file__) for m in mods] + [root / "__spark_entry__.py"]
        shipped = shipped_names([f.read_text() for f in files])
        replace: dict[int, object] = {}
        for m in mods:
            for name, obj in list(vars(m).items()):
                if (not inspect.isfunction(obj) or obj.__module__ != m.__name__
                        or name.startswith("_")
                        or inspect.isgeneratorfunction(obj)):
                    continue
                layer = layer_of(m.__name__, name)
                if layer is None:
                    continue
                if name in shipped:
                    self.excluded.add(f"{m.__name__}.{name}")
                    continue
                replace[id(obj)] = self._wrap(obj, layer)
                self.wrapped[f"{m.__name__}.{name}"] = layer
        for m in list(sys.modules.values()):
            mod = getattr(m, "__name__", "")
            if not (mod.startswith(PACKAGE) or mod == "__spark_entry__"):
                continue
            for name, obj in list(vars(m).items()):
                if id(obj) in replace and inspect.isfunction(obj):
                    setattr(m, name, replace[id(obj)])

    def layer_metrics(self, passes: int) -> dict[str, float]:
        """Per pass: self time (ms) or outermost calls of each layer."""
        return {
            metric: (self.calls[layer] if metric.endswith(("calls", "loads"))
                     else self.self_s.get(layer, 0.0) * 1000.0) / passes
            for metric, layer in TRACED.items()
        }


class Py4JCounter:
    """Counts driver -> JVM commands on one gateway client.

    ``seconds`` sums the time inside each command over every thread that
    sends one, so it can exceed wall time when a pool builds frames."""

    def __init__(self, spark):
        self.client = spark.sparkContext._gateway._gateway_client
        self.active = False
        self.calls = 0
        self.seconds = 0.0
        lock = threading.Lock()
        original = self.client.send_command
        counter = self

        def send_command(command, *args, **kwargs):
            if not counter.active or command.startswith("m\nd\n"):
                return original(command, *args, **kwargs)
            t0 = time.perf_counter()
            try:
                return original(command, *args, **kwargs)
            finally:
                with lock:
                    counter.seconds += time.perf_counter() - t0
                    counter.calls += 1

        self.client.send_command = send_command


def _jiter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


class SparkCounters:
    """Spark-side counters read from outside through Py4J."""

    def __init__(self, spark):
        jvm = spark._jvm
        self._sc = spark._jsc.sc()
        self._store = self._sc.statusStore()
        self._dag = self._sc.dagScheduler()
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics
        self._codegen_gen = \
            jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self._gc = list(_jiter(
            jvm.java.lang.management.ManagementFactory
            .getGarbageCollectorMXBeans()))

    def settle(self) -> None:
        """Wait until listener events of finished jobs reach the store."""
        self._sc.listenerBus().waitUntilEmpty()

    def snapshot(self) -> dict[str, float]:
        s = {
            "jobs": self._dag.nextJobId(),
            "stages": self._dag.nextStageId(),
            "compiles": self._codegen.METRIC_COMPILATION_TIME().getCount(),
            "compile_ns": self._codegen_gen.compileTime(),
            "gc_ms": sum(b.getCollectionTime() for b in self._gc),
            "tasks": 0, "busy_ms": 0, "input": 0, "shuffle_read": 0,
            "shuffle_write": 0, "mem_used": 0,
        }
        for e in _jiter(self._store.executorList(True)):
            s["tasks"] += e.totalTasks()
            s["busy_ms"] += e.totalDuration()
            s["input"] += e.totalInputBytes()
            s["shuffle_read"] += e.totalShuffleRead()
            s["shuffle_write"] += e.totalShuffleWrite()
            s["mem_used"] += e.memoryUsed()
        return s

    def stage_io(self, first: int, end: int) -> tuple[int, int]:
        """(spilled bytes, output bytes) over stage ids [first, end)."""
        spill = out = 0
        for sid in range(first, end):
            try:
                st = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # skipped stages never reach the store
                continue
            spill += st.memoryBytesSpilled() + st.diskBytesSpilled()
            out += st.outputBytes()
        return spill, out


def catalyst_phases_ms(df) -> dict[str, float]:
    """Phase durations recorded by the frame's own QueryExecution.

    Analysis runs when the frame is built; optimization and planning run
    on this QueryExecution only when the frame itself is executed (the
    noop write plans a new one), so read this after collecting ``df``."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        if phases.contains(name):
            out[name] = float(phases.apply(name).durationMs())
        else:
            out[name] = 0.0
    return out


class ProcStats:
    """CPU and resident memory of the driver, the JVM and its children."""

    _TICK = os.sysconf("SC_CLK_TCK")

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid

    @staticmethod
    def _stat(pid: int) -> tuple[int, float] | None:
        try:
            raw = Path(f"/proc/{pid}/stat").read_text()
        except OSError:
            return None
        f = raw[raw.rindex(")") + 2:].split()
        ppid = int(f[1])
        cpu = sum(int(x) for x in f[11:15])  # utime stime cutime cstime
        return ppid, cpu / ProcStats._TICK

    def descendants(self) -> dict[int, float]:
        """pid -> cpu seconds for the JVM and every process below it."""
        stats = {}
        for d in os.listdir("/proc"):
            if d.isdigit():
                s = self._stat(int(d))
                if s is not None:
                    stats[int(d)] = s
        out, frontier = {}, [self.jvm_pid]
        while frontier:
            pid = frontier.pop()
            if pid in stats:
                out[pid] = stats[pid][1]
                frontier += [p for p, (pp, _) in stats.items() if pp == pid]
        return out

    def cpu(self) -> tuple[float, float, float]:
        """(driver python, jvm, python workers) cpu seconds so far."""
        ru = resource.getrusage(resource.RUSAGE_SELF)
        tree = self.descendants()
        jvm = tree.pop(self.jvm_pid, 0.0)
        return ru.ru_utime + ru.ru_stime, jvm, sum(tree.values())

    def peak_rss_mb(self) -> float:
        hwm = 0
        for line in Path(f"/proc/{self.jvm_pid}/status").read_text().splitlines():
            if line.startswith("VmHWM:"):
                hwm = int(line.split()[1])
        own = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return (hwm + own) / 1024.0
