#!/usr/bin/env python3
"""End-to-end and per-layer benchmark for sparkall_spark.

    python3 perfbench/run.py --workload sparql_mix --seed 1 --seconds 5 --trace 0

Run from the repository root.  One client sends requests in a closed
loop (each waits for the previous one) from this process to Spark on
``local[N]``, N = usable cores, with N shuffle partitions.  A request
is timed from the call into the program to the end of writing every
row and column to Spark's ``noop`` sink; its result is then collected
outside the timed window and compared with a DuckDB oracle.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` alternates
untraced and traced passes and prints the per-layer metrics, the
tracing overhead and, per request, construct + materialize against
wall time.  The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; a full run record
(host, versions, commit, seed, request list, per-request rows) is
written under ``.perfbench/runs/``.
"""

from __future__ import annotations

import time

_T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from dataclasses import asdict, dataclass, field  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
DATA = HERE / "data" / "sf0.01"
DIGESTS = HERE / "digests.json"
WORK = ROOT / ".perfbench"

sys.path.insert(0, str(HERE))
import tracing  # noqa: E402
import workloads  # noqa: E402

# Entries whose DuckDB oracle costs about as much as the entry itself; their
# Spark result is compared with a row count + digest recorded from one
# oracle-verified run (``--record-digests``).
SLOW_ORACLES = {"e09_sim_topk_ivf"}

# End-to-end metrics in the result line (BENCHMARK.json's end_to_end).
# latency_p50_s, latency_tail_s and error_rate are printed and recorded
# but not gated: ops_build has five different entries a pass, so its
# median is one entry's latency and flips with the seed's order; the
# tail needs 11+ samples; error_rate is 0 and shows as "failed".
GATED = ("setup_s", "pass_s", "cpu_s", "peak_rss_mb")


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _ram_mb() -> int:
    for line in Path("/proc/meminfo").read_text().splitlines():
        if line.startswith("MemTotal:"):
            return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def heap_mb(ram_mb: int) -> int:
    """A quarter of RAM in 256 MiB steps, within [1 GiB, 16 GiB]: the
    rest stays for the Python workers, DuckDB and other tenants."""
    return max(1024, min(16384, ram_mb // 4 // 256 * 256))


def _configure_env(tmp: Path, heap: str) -> None:
    """Everything the JVM and the Python workers inherit."""
    os.environ["SPARK_GRAFT_CPUS"] = str(_cores())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = heap
    os.environ.pop("SPARK_GRAFT_XMS", None)
    os.environ.pop("SPARK_GRAFT_LOCAL_DIR", None)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp / "spark")
    os.environ["TMPDIR"] = str(tmp)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # workers unpickle sparkall_spark functions by import path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])
    # keep the JVM's temp files (and no hsperfdata) inside the checkout
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else float("nan")


def tail(latencies: list[float]) -> tuple[float, float, int] | None:
    """(value, percentile, samples) for the highest percentile that
    still has at least ten samples above it."""
    xs = sorted(latencies)
    if len(xs) < 11:
        return None
    i = len(xs) - 11
    return xs[i], 100.0 * (i + 1) / len(xs), len(xs)


@dataclass
class Sample:
    request: workloads.Request
    traced: bool
    index: int  # position in Bench.samples; spans carry it as request id
    wall_s: float = 0.0
    construct_s: float = 0.0
    materialize_s: float = 0.0
    cpu_s: float = 0.0
    error: str | None = None
    columns: list[str] = field(default_factory=list)
    rows: list = field(default_factory=list)
    layer: dict[str, float] = field(default_factory=dict)


class Bench:
    """One workload in one Spark session."""

    def __init__(self, workload: str, seed: int, trace: bool):
        self.workload, self.seed = workload, seed
        self.tmp = WORK / "tmp" / str(os.getpid())
        self.ram_mb = _ram_mb()
        self.heap = f"{heap_mb(self.ram_mb)}m"
        self.tracer = tracing.Tracer() if trace else None
        self.spark = None
        self.proc: tracing.ProcStats | None = None
        self.samples: list[Sample] = []
        self._digests = json.loads(DIGESTS.read_text()) \
            if DIGESTS.exists() else {}

    # -- set-up ------------------------------------------------------
    def start(self) -> None:
        for need in ("sparkall_spark", "__spark_entry__.py",
                     "scripts/_oracle_common.py"):
            if not (ROOT / need).exists():
                raise FileNotFoundError(f"{ROOT / need} is missing; run"
                                        " from a sparkall_spark checkout")
        self.tmp.mkdir(parents=True, exist_ok=True)
        _configure_env(self.tmp, self.heap)
        sys.path[:0] = [str(ROOT), str(ROOT / "scripts")]
        if self.tracer is not None:
            self.tracer.install(ROOT)  # before __spark_entry__ binds names
        from sparkall_spark import fixtures
        from sparkall_spark.engine import Engine
        from sparkall_spark.session import get_spark

        n = _cores()
        self.spark = get_spark(
            "perfbench", master=f"local[{n}]", shuffle_partitions=n,
            extra_conf={"spark.ui.showConsoleProgress": "false"},
            local_dir=str(self.tmp / "spark"))
        import __spark_entry__

        self._fixtures, self._engine_cls = fixtures, Engine
        self._queries = __spark_entry__.queries()
        self._oracles = __spark_entry__.oracle_sql()
        self._sparql_queries = __spark_entry__.SPARQL_QUERIES
        self.gen = self.generator(self.workload)
        jvm = self.spark._jvm
        self.proc = tracing.ProcStats(
            int(jvm.java.lang.ProcessHandle.current().pid()))
        self.java_version = jvm.java.lang.System.getProperty("java.version")
        if self.tracer is not None:
            self.py4j = tracing.Py4JCounter(self.spark)
            self.counters = tracing.SparkCounters(self.spark)

    def generator(self, workload: str) -> workloads.Generator:
        return workloads.Generator(workload, self.seed, str(DATA),
                                   self._sparql_queries,
                                   self._fixtures.PREFIX_BLOCK)

    def warmup(self) -> None:
        """One untimed pass so the JIT, codegen cache and Python workers
        are warm.  Its results are not collected: set-up time is the
        program's alone."""
        for req in self.gen.warmup():
            self._build(req).write.format("noop").mode("overwrite").save()

    # -- one request -------------------------------------------------
    def _build(self, req: workloads.Request):
        sf = str(DATA)
        if req.kind == "sparql":
            engine = self._engine_cls(self.spark,
                                      self._fixtures.tpch_mappings(sf))
            return engine.sparql(req.sparql)
        return self._queries[req.name](self.spark, sf)

    def request(self, req: workloads.Request, traced: bool) -> Sample:
        s = Sample(req, traced, len(self.samples))
        tr = self.tracer if traced else None
        span = tr.span if tr is not None else _no_span
        try:
            if tr is not None:
                tr.request_id = s.index
                before = self.counters.snapshot()
                py4j0 = (self.py4j.calls, self.py4j.seconds)
                tr.enabled = True
            cpu0 = self.proc.cpu()
            t0 = time.perf_counter()
            with span("entry.construct", req.name), self._py4j_on(traced):
                df = self._build(req)
            t1 = time.perf_counter()
            with span("entry.materialize", req.name):
                df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            cpu1 = self.proc.cpu()
            if tr is not None:
                tr.enabled = False
            s.wall_s, s.construct_s, s.materialize_s = t2 - t0, t1 - t0, t2 - t1
            s.cpu_s = sum(cpu1) - sum(cpu0)
            if tr is not None:
                self.counters.settle()
                after = self.counters.snapshot()
                spill, out = self.counters.stage_io(before["stages"],
                                                    after["stages"])
                d = {k: after[k] - before[k] for k in before}
                s.layer = {
                    "py4j.calls": self.py4j.calls - py4j0[0],
                    "py4j.ms": (self.py4j.seconds - py4j0[1]) * 1000.0,
                    "spark.codegen.compiles": d["compiles"],
                    "spark.codegen.compile_ms": d["compile_ns"] / 1e6,
                    "spark.scheduler.jobs": d["jobs"],
                    "spark.scheduler.stages": d["stages"],
                    "spark.tasks.count": d["tasks"],
                    "spark.tasks.busy_ms": d["busy_ms"],
                    "spark.jvm.gc_ms": d["gc_ms"],
                    "spark.python_workers.cpu_s": cpu1[2] - cpu0[2],
                    "spark.scan.input_bytes": d["input"],
                    "spark.shuffle.write_bytes": d["shuffle_write"],
                    "spark.shuffle.read_bytes": d["shuffle_read"],
                    "spark.spill.bytes": spill,
                    "spark.write.output_bytes": out,
                    "spark.cache.mem_mb": after["mem_used"] / 2**20,
                }
            pdf = df.toPandas()  # outside the timed window
            s.columns = sorted(pdf.columns)
            s.rows = self._canon(pdf[s.columns])
            if tr is not None:
                ph = tracing.catalyst_phases_ms(df)
                s.layer["spark.catalyst.analysis_ms"] = ph["analysis"]
                s.layer["spark.catalyst.optimize_ms"] = ph["optimization"]
                s.layer["spark.catalyst.physical_ms"] = ph["planning"]
        except Exception:  # a failed request is counted, not fatal
            s.error = traceback.format_exc()
            if tr is not None:
                tr.enabled = False
            print(f"request {req.name} failed:\n{s.error}", file=sys.stderr)
        return s

    @contextlib.contextmanager
    def _py4j_on(self, traced: bool):
        """Count Py4J commands while the program builds its frame."""
        if traced:
            self.py4j.active = True
        try:
            yield
        finally:
            if traced:
                self.py4j.active = False

    @staticmethod
    def _canon(pdf):
        from _oracle_common import canon

        return canon(pdf)

    def run_pass(self, requests: list[workloads.Request],
                 traced: bool) -> list[Sample]:
        out = []
        for r in requests:
            out.append(self.request(r, traced))
            self.samples.append(out[-1])
        return out

    # -- output checks -----------------------------------------------
    def check(self, record_digests: bool = False) -> dict[str, str]:
        """Compare every sample with its oracle; returns
        {sample index: reason} for the failures."""
        import duckdb
        from _oracle_common import register_views

        con = duckdb.connect()
        con.execute("SET threads TO 4")
        register_views(con, str(DATA))
        expected: dict[tuple, tuple] = {}
        bad: dict[str, str] = {}
        for s in self.samples:
            i = str(s.index)
            if s.error is not None:
                bad[i] = "raised"
                continue
            req = s.request
            key = (req.name, req.oracle)
            if key not in expected:
                if req.name in self._digests and not record_digests:
                    expected[key] = ("digest", self._digests[req.name])
                else:
                    sql = req.oracle if req.kind == "sparql" \
                        else self._oracles[req.name]
                    odf = con.execute(sql).df()
                    cols = sorted(odf.columns)
                    expected[key] = ("rows", cols, self._canon(odf[cols]))
            exp = expected[key]
            if exp[0] == "digest":
                got = digest(s.columns, s.rows)
                if got != exp[1]:
                    bad[i] = f"digest {got} != stored {exp[1]}"
            elif s.columns != exp[1]:
                bad[i] = f"columns {s.columns} != oracle {exp[1]}"
            elif s.rows != exp[2]:
                bad[i] = (f"{len(s.rows)} rows differ from the"
                               f" oracle's {len(exp[2])}")
        con.close()
        if record_digests and not bad:
            for s in self.samples:
                if s.request.name in SLOW_ORACLES:
                    self._digests[s.request.name] = digest(s.columns, s.rows)
            DIGESTS.write_text(json.dumps(self._digests, indent=1,
                                          sort_keys=True) + "\n")
        return bad

    # -- teardown ----------------------------------------------------
    def close(self) -> None:
        """Stop Spark, the JVM and its Python workers, and wait for them."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        pids = set(self.proc.descendants()) if self.proc else set()
        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()  # the JVM exits on stdin EOF
            try:
                gateway.proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                gateway.proc.kill()
                gateway.proc.wait()
        deadline = time.monotonic() + 30
        while pids and time.monotonic() < deadline:
            pids = {p for p in pids if Path(f"/proc/{p}").exists()}
            time.sleep(0.05)
        for p in pids:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass
        shutil.rmtree(self.tmp, ignore_errors=True)


@contextlib.contextmanager
def _no_span(layer: str, fn: str = ""):
    yield


def digest(columns: list[str], rows: list) -> dict:
    h = hashlib.sha256(repr((columns, rows)).encode()).hexdigest()
    return {"rows": len(rows), "sha256": h}


def _commit() -> str | None:
    try:
        out = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                             capture_output=True, text=True, timeout=10)
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def _source_digest() -> str:
    """sha256 over the program's source files: identifies the code when
    the checkout is not a git repository."""
    h = hashlib.sha256()
    files = sorted((ROOT / "sparkall_spark").rglob("*.py"))
    for f in files + [ROOT / "__spark_entry__.py"]:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def _versions(java: str) -> dict[str, str]:
    import duckdb
    import pyspark

    return {"python": platform.python_version(), "pyspark": pyspark.__version__,
            "java": java, "duckdb": duckdb.__version__}


def end_to_end(passes: list[list[Sample]], setup_s: float,
               peak_rss_mb: float, failed: int, attempted: int) -> dict:
    ok = [s for p in passes for s in p if s.error is None]
    lat = [s.wall_s for s in ok]
    t = tail(lat)
    return {
        "setup_s": (setup_s, "s"),
        "pass_s": (_median([sum(s.wall_s for s in p) for p in passes]), "s"),
        "latency_p50_s": (_median(lat), "s"),
        "latency_tail_s": (None if t is None else t[0], "s"),
        "latency_tail_pct": (None if t is None else t[1], "%"),
        "latency_samples": (len(lat), "count"),
        "cpu_s": (_median([sum(s.cpu_s for s in p) for p in passes]), "s"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
        "error_rate": (failed / attempted, "ratio"),
    }


def per_layer(bench: Bench, traced: list[list[Sample]],
              untraced: list[list[Sample]]) -> dict[str, float]:
    n = len(traced)
    out = bench.tracer.layer_metrics(n)
    samples = [s for p in traced for s in p if s.error is None]
    for key in tracing.SHOULD_MOVE:
        if key.startswith(("py4j.", "spark.")) and \
                key != "spark.tasks.slot_utilization":
            out[key] = sum(s.layer.get(key, 0.0) for s in samples) / n
    # the cache level is a gauge, not a per-request delta
    out["spark.cache.mem_mb"] = _median(
        [s.layer["spark.cache.mem_mb"] for s in samples])
    out["entry.construct_ms"] = sum(s.construct_s for s in samples) * 1e3 / n
    out["entry.materialize_ms"] = \
        sum(s.materialize_s for s in samples) * 1e3 / n
    out["spark.tasks.slot_utilization"] = out["spark.tasks.busy_ms"] / max(
        1e-9, out["entry.materialize_ms"] * _cores())
    t_pass = _median([sum(s.wall_s for s in p) for p in traced])
    u_pass = _median([sum(s.wall_s for s in p) for p in untraced])
    out["trace.overhead_pct"] = 100.0 * (t_pass - u_pass) / u_pass
    return out


def reconcile(bench: Bench, samples: list[Sample]) -> list[dict]:
    """Per traced request: wall = construct + materialize + remainder,
    and construct = traced layer self time + unattributed."""
    rows = []
    for s in samples:
        layer_s = _layer_self_time(bench.tracer.spans, s.index)
        rows.append({
            "request": s.index, "name": s.request.name,
            "wall_ms": s.wall_s * 1e3, "construct_ms": s.construct_s * 1e3,
            "materialize_ms": s.materialize_s * 1e3,
            "remainder_ms": (s.wall_s - s.construct_s - s.materialize_s) * 1e3,
            "construct_in_layers_ms": layer_s * 1e3,
            "construct_unattributed_ms": (s.construct_s - layer_s) * 1e3,
        })
    return rows


def _layer_self_time(spans: list[tuple], req: int) -> float:
    """Time of the outermost layer spans inside the construct span."""
    mine = [sp for sp in spans if sp[0] == req]
    construct = {sp[1] for sp in mine if sp[3] == "entry.construct"}
    return sum(sp[7] - sp[6] for sp in mine if sp[2] in construct)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-digests", action="store_true",
                    help="check slow oracles too and store their digests")
    args = ap.parse_args(argv)

    bench = Bench(args.workload, args.seed, bool(args.trace))
    try:
        bench.start()
        _log(f"session up at {time.perf_counter() - _T_START:.1f} s")
        bench.warmup()
        setup_s = time.perf_counter() - _T_START
        passes: list[list[Sample]] = []
        measured = 0.0
        # traced runs alternate untraced/traced passes from an untraced
        # one, at least U T U: the overhead compares the traced pass with
        # the mean of its neighbours, so a linear drift cancels (the
        # first pass after the warm-up is still the slowest, so the
        # figure carries a few percent of noise either way)
        while (len(passes) < (3 if args.trace else 1)
               or measured < args.seconds):
            traced = bool(args.trace) and len(passes) % 2 == 1
            p = bench.run_pass(bench.gen.next_pass(), traced)
            passes.append(p)
            measured += sum(s.wall_s for s in p)
            _log(f"pass {len(passes)} ({'traced' if traced else 'untraced'})"
                 f" {sum(s.wall_s for s in p):.2f} s")
        peak = bench.proc.peak_rss_mb()
        timed = [s for p in passes for s in p]
        _log(f"timed passes done at {time.perf_counter() - _T_START:.1f} s")
        bad = bench.check(args.record_digests)
        _log(f"checks done at {time.perf_counter() - _T_START:.1f} s")
        failed = len(bad)  # every sample is a timed request
        e2e = end_to_end(passes, setup_s, peak, failed, len(timed))
        record = {
            "workload": args.workload, "seed": args.seed,
            "seconds": args.seconds, "trace": args.trace,
            "why": workloads.WHY[args.workload],
            "host": {"nproc": _cores(), "ram_mb": bench.ram_mb,
                     "heap": bench.heap, "platform": platform.platform()},
            "versions": _versions(bench.java_version),
            "commit": _commit(), "source_sha256": _source_digest(),
            "parameterized_columns": bench.gen.parameterized(),
            "request_list_sha256": workloads.request_list_sha256(
                [[s.request for s in p] for p in passes]),
            "requests": [[asdict(s.request) for s in p] for p in passes],
            "mismatches": bad,
            "samples": [{"name": s.request.name, "traced": s.traced,
                         "wall_s": s.wall_s, "construct_s": s.construct_s,
                         "materialize_s": s.materialize_s, "cpu_s": s.cpu_s,
                         "rows": len(s.rows), "error": s.error,
                         "layer": s.layer} for s in bench.samples],
            "end_to_end": {k: v for k, (v, _u) in e2e.items()},
        }
        if args.trace:
            traced_p = [p for p in passes if p[0].traced]
            untraced_p = [p for p in passes if not p[0].traced]
            layers = per_layer(bench, traced_p, untraced_p)
            rec_rows = reconcile(bench, [s for p in traced_p for s in p])
            record["per_layer"] = layers
            record["should_move"] = tracing.SHOULD_MOVE
            record["reconcile"] = rec_rows
            record["wrapped"] = bench.tracer.wrapped
            record["not_wrapped_shipped"] = sorted(bench.tracer.excluded)
            record["spans"] = bench.tracer.spans
    finally:
        bench.close()

    runs = WORK / "runs"
    runs.mkdir(parents=True, exist_ok=True)
    out_file = runs / f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    out_file.write_text(json.dumps(record, default=str) + "\n")

    print(json.dumps({"record": {k: record[k] for k in (
        "workload", "seed", "host", "versions", "commit", "source_sha256",
        "request_list_sha256")}, "file": str(out_file.relative_to(ROOT))}))
    if args.trace:
        for r in rec_rows:
            print("reconcile {name}: wall {wall_ms:.1f} ms = construct"
                  " {construct_ms:.1f} + materialize {materialize_ms:.1f}"
                  " + remainder {remainder_ms:.2f}; construct in layers"
                  " {construct_in_layers_ms:.1f}, unattributed"
                  " {construct_unattributed_ms:.1f}".format(**r))
        for k, v in layers.items():
            print(f"{args.workload} {k} {v:.6g}")
        metrics = {k: {"value": v, "unit": _unit(k)} for k, v in layers.items()}
    else:
        for k, (v, unit) in e2e.items():
            shown = "n/a (fewer than 11 samples)" if v is None else f"{v:.6g}"
            print(f"{args.workload} {k} {shown} {unit}")
        metrics = {k: {"value": e2e[k][0], "unit": e2e[k][1]}
                   for k in GATED}
    attempted = len(timed)
    print(json.dumps({"correct": failed == 0,
                      "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


def _log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def _unit(name: str) -> str:
    if name.endswith("_ms") or name.endswith(".ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("bytes"):
        return "bytes"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_pct"):
        return "%"
    if name.endswith("utilization"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
