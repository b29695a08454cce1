"""Self-tests of the benchmark (not part of the program's test suite).

    python3 -m pytest perfbench -q

All tests share one Spark session (a few minutes on 4 cores).  The
traced tests install the wrappers, run each
workload's warm-up and the same pass three times (traced twice), then
check layer coverage and that the counters the benchmark treats as
exact repeat.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

import run  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402


# Every test that needs the registry takes the ``bench`` fixture, which
# installs the wrappers before anything imports ``__spark_entry__``.
@pytest.fixture(scope="module")
def bench():
    b = run.Bench("sparql_mix", seed=7, trace=True)
    b.start()
    yield b
    b.close()


def _gen(bench, workload: str, seed: int) -> workloads.Generator:
    return workloads.Generator(workload, seed, str(run.DATA),
                               bench._sparql_queries,
                               bench._fixtures.PREFIX_BLOCK)


def _passes(bench, workload: str, seed: int, n: int = 3) -> bytes:
    gen = _gen(bench, workload, seed)
    return workloads.request_list_bytes([gen.next_pass() for _ in range(n)])


@pytest.mark.parametrize("workload", workloads.WORKLOADS)
def test_same_seed_same_request_list(bench, workload):
    assert _passes(bench, workload, 5) == _passes(bench, workload, 5)


def test_other_seed_changes_every_parameterized_literal_set(bench):
    a, b = _gen(bench, "sparql_mix", 1), _gen(bench, "sparql_mix", 2)
    params = a.parameterized()
    assert sum(1 for cols in params.values() if cols) >= 15
    ra = {r.name: r for r in a.next_pass()}
    rb = {r.name: r for r in b.next_pass()}
    for name, cols in params.items():
        if cols:
            assert (ra[name].sparql, ra[name].oracle) != \
                (rb[name].sparql, rb[name].oracle), name
        else:
            assert ra[name] == rb[name]


def test_slots_pair_sparql_and_sql_literals():
    sparql = 'SELECT ?n WHERE { ?c sa:seg ?s ; sa:bal ?b .' \
             ' FILTER (?b > 9000) FILTER (?s = "BUILDING") }'
    sql = "SELECT n FROM t WHERE c_acctbal > 9000 AND c_mktsegment = 'BUILDING'"
    slots = workloads.find_slots(sparql, sql)
    assert [(s.kind, s.column, s.literal) for s in slots] == [
        ("num", "c_acctbal", "9000"), ("str", "c_mktsegment", "BUILDING")]


def test_regex_literals_stay_fixed():
    sparql = 'SELECT ?n WHERE { ?p sa:name ?n . FILTER regex(?n, "%ol%") }'
    sql = "SELECT p_name AS n FROM part WHERE p_name LIKE '%ol%'"
    assert workloads.find_slots(sparql, sql) == []


def test_tail_needs_ten_samples_above():
    assert run.tail([1.0] * 10) is None
    value, pct, n = run.tail([float(i) for i in range(40)])
    assert (value, n) == (29.0, 40)
    assert sum(1 for i in range(40) if i > value) == 10
    assert pct == 75.0


def test_shipped_functions_are_found():
    src = (
        "import pyspark.sql.functions as F\n"
        "def helper(x):\n    return x + 1\n"
        "def token_bucket(t):\n    return helper(len(t))\n"
        "def public_api(df):\n"
        "    f = F.udf(lambda t: token_bucket(t))\n"
        "    return df.select(f('t'))\n"
    )
    shipped = tracing.shipped_names([src])
    assert {"token_bucket", "helper"} <= shipped
    assert "public_api" not in shipped


# -- traced runs ----------------------------------------------------------

def _two_identical_passes(bench, workload):
    """Warm-up, then one untimed pass of the requests, so that both traced
    passes follow the same request (an entry's teardown releases what the
    previous entry cached, so the first request's counts depend on it)."""
    bench.gen = bench.generator(workload)
    bench.warmup()
    requests = bench.gen.next_pass()
    bench.run_pass(requests, traced=False)
    bench.tracer.reset()
    first = bench.run_pass(requests, traced=True)
    calls = dict(bench.tracer.calls)
    second = bench.run_pass(requests, traced=True)
    return first, second, calls


@pytest.fixture(scope="module")
def traced_runs(bench):
    return {w: _two_identical_passes(bench, w) for w in workloads.WORKLOADS}


def test_wrappers_installed_before_entry_import(bench):
    import __spark_entry__
    from sparkall_spark import engine, executor
    from sparkall_spark.operators import multimodal, postings

    assert hasattr(engine.execute_plan, "__wrapped__")
    assert engine.execute_plan is executor.execute_plan
    assert hasattr(executor.load_source, "__wrapped__")
    assert hasattr(__spark_entry__.tpch_mappings, "__wrapped__")
    # decode_pixels/dhash64 run inside decode_images' mapInPandas batches
    for fn in (multimodal.decode_pixels, multimodal.dhash64):
        assert not hasattr(fn, "__wrapped__"), fn.__name__
        assert f"{fn.__module__}.{fn.__name__}" in bench.tracer.excluded
    # token_bucket only computes bucket literals on the driver
    assert hasattr(postings.token_bucket, "__wrapped__")


# Spark-side counters that must be nonzero on the named workload.
NONZERO = {
    "sparql_mix": ("py4j.calls", "spark.codegen.compiles",
                   "spark.scheduler.jobs", "spark.tasks.busy_ms"),
    "ops_build": ("py4j.calls", "spark.scheduler.jobs",
                  "spark.scheduler.stages", "spark.tasks.count",
                  "spark.tasks.busy_ms", "spark.scan.input_bytes",
                  "spark.write.output_bytes"),
}


def test_every_layer_records_a_call_on_its_workload(traced_runs):
    for workload, (first, _second, calls) in traced_runs.items():
        assert all(s.error is None for s in first), workload
        for metric, layer in tracing.TRACED.items():
            if metric in tracing.UNREACHED_LAYERS:
                continue
            if workload in tracing.SHOULD_MOVE[metric][1]:
                assert calls.get(layer, 0) >= 1, (workload, metric)
        for key in NONZERO[workload]:
            assert sum(s.layer[key] for s in first) > 0, (workload, key)


def test_counters_repeat_across_identical_warm_passes(traced_runs):
    differ = []
    for workload, (first, second, _calls) in traced_runs.items():
        for a, b in zip(first, second):
            assert a.error is None and b.error is None
            for key in ("py4j.calls", "spark.scheduler.jobs"):
                if a.layer[key] != b.layer[key]:
                    differ.append((workload, a.request.name, key,
                                   a.layer[key], b.layer[key]))
    assert differ == []


def test_traced_results_pass_the_oracle_checks(bench, traced_runs):
    assert bench.check() == {}
