"""The benchmark's own checks.

    python3 -m pytest layerbench/test_layerbench.py -q

- one seed gives byte-identical inputs and call parameters, another seed
  different ones;
- every metric name the benchmark prints is declared in BENCHMARK.json;
- a layer metric is taken only from its own layer's phases;
- rounds over the steal bound stay out of the metrics;
- a cache pin left by a call shows up in ``leaked_pins`` and does not
  survive into the next call.
"""

from __future__ import annotations

import json
import os
import sys
import types

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import gen  # noqa: E402
import layers  # noqa: E402
import run  # noqa: E402
import workloads  # noqa: E402


def _files(d):
    out = {}
    for base, _, names in os.walk(d):
        for n in names:
            p = os.path.join(base, n)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = fh.read()
    return out


def _write_inputs(seed, d):
    tables = gen.make_tables(seed)
    gen.write_single(tables, os.path.join(d, "single"))
    cur = gen.curation_tables(seed, tables)
    gen.write_multi(cur, os.path.join(d, "multi"))
    frames = [gen.ingest_frame(seed, s, 1000) for s in range(2)]
    for i, f in enumerate(frames):
        f.to_parquet(os.path.join(d, f"ingest{i}.parquet"))
    return _files(d)


def test_inputs_are_a_function_of_the_seed(tmp_path):
    a = _write_inputs(5, tmp_path / "a")
    b = _write_inputs(5, tmp_path / "b")
    c = _write_inputs(6, tmp_path / "c")
    assert a.keys() == b.keys() == c.keys()
    assert a == b
    assert all(a[k] != c[k] for k in a if "region" not in k and "nation" not in k)


def _params(seed):
    env = types.SimpleNamespace(seed=seed, table_rows=dict(gen.SF01_ROWS), run_dir="/nonexistent",
                                warehouse="/nonexistent", es=None, spark=None,
                                entry=types.SimpleNamespace(queries=lambda: {}))
    out = []
    for cls in workloads.WORKLOADS.values():
        for r in range(3):
            out.append([(c.kind, c.params, c.input_rows) for c in cls(env).round(r)])
    return out


def test_call_parameters_are_a_function_of_the_seed():
    assert _params(5) == _params(5)
    assert _params(5) != _params(6)


def _declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def _record(cid, layer, role, **extra):
    stats = {"intervals": [(1000.0, 1100.0, cid)], "jobs": 1, "stages": 2, "tasks": 4,
             "failed_tasks": 0, "executor_run_ms": 80, "executor_cpu_ns": 7e7,
             "input_bytes": 10, "shuffle_read_bytes": 5, "shuffle_write_bytes": 5,
             "spill_bytes": 0}
    phase = {"layer": layer, "role": role, "t0": 0.0, "t1": 0.2, "stats": stats,
             "catalyst": [{"analysis": 1.0, "optimization": 2.0, "planning": 1.0,
                           "exchanges": 1}], **extra}
    return {"id": cid, "wall_s": 0.3, "input_rows": 100, "leaked_pins": 1,
            "sql_executions": 1, "phases": [phase]}


def test_printed_metric_names_match_benchmark_json():
    decl = _declared()
    e2e = {m["name"]: (m["unit"], m["better"]) for m in decl["end_to_end"]}
    per = {m["name"]: (m["unit"], m["better"]) for m in decl["per_layer"]}
    assert set(e2e) == set(run.E2E)
    assert all(e2e[k][0] == u for k, u in run.E2E.items())
    assert per == layers.PER_LAYER
    recs = [_record(1, "etl", "action", export=True, rows=10, ingest=100, write=100, bytes=800),
            _record(2, "frontend", "build")]
    setups = [{"session_s": 1.0, "warmup_s": 0.5, "total_s": 1.5}] * 3
    out = layers.per_layer(recs, setups, cold_start_s=9.0, workload_warmup_s=5.0, cores=4,
                           gc_s=0.1, calls=2, error_lines=0, steal_pct=0.5,
                           overhead_p50_s=0.01)
    assert set(out) == set(per)
    assert all(out[k]["unit"] == per[k][0] for k in out)
    assert {w["name"] for w in decl["workloads"]} <= set(workloads.WORKLOADS)


def _layer_values(recs):
    setups = [{"session_s": 1.0, "warmup_s": 0.5, "total_s": 1.5}]
    out = layers.per_layer(recs, setups, cold_start_s=9.0, workload_warmup_s=5.0, cores=4,
                           gc_s=0.1, calls=len(recs), error_lines=0, steal_pct=0.5,
                           overhead_p50_s=0.01)
    return {k: v["value"] for k, v in out.items()}


def test_layer_metrics_come_only_from_their_layer():
    v = _layer_values([_record(1, "frontend", "build"), _record(2, "etl", "action", ingest=100)])
    assert v["frontend.build_s"] == pytest.approx(0.2)
    assert v["frontend.driver_s"] == pytest.approx(0.1)  # 0.2 s phase, 0.1 s of jobs
    assert v["frontend.build_jobs"] == 1
    assert v["etl.ingest_rows_per_s"] == pytest.approx(500.0)
    for k in ("operators.build_s", "operators.build_jobs", "operators.action_jobs",
              "operators.driver_s", "etl.write_rows_per_s", "etl.export_rows_per_s",
              "etl.export_driver_s", "etl.bytes_written_per_row"):
        assert v[k] == 0.0, k
    assert v["exec.jobs"] == 1  # exec covers every call
    v = _layer_values([_record(1, "operators", "build"), _record(2, "operators", "action")])
    assert v["operators.build_s"] == pytest.approx(0.2)
    assert v["operators.action_jobs"] == 1
    assert v["frontend.build_s"] == v["frontend.driver_s"] == v["etl.ingest_rows_per_s"] == 0.0


def test_rounds_over_the_steal_bound_are_left_out():
    bench = run.Bench(run.parse_args(["--workload", "interactive", "--seed", "1",
                                      "--seconds", "1"]), 0.0, 0.0)
    bench.setups, bench.peak_rss = [{"total_s": 1.0}], 100.0

    def rec(wall, valid, traced=False):
        return {"traced": traced, "valid_round": valid, "wall_s": wall, "input_rows": 10,
                "error": None}

    bench.records = [rec(1.0, True), rec(1.0, True), rec(100.0, False), rec(5.0, True, True)]
    e = bench.e2e(False)
    assert e["op_p50_s"] == 1.0 and e["rows_per_s"] == 10.0
    assert bench.valid_records(True) == [bench.records[3]]
    bench.records = [rec(1.0, False), rec(5.0, True, True)]
    with pytest.raises(run.InvalidRun):
        bench.e2e(False)
    bench.records = [rec(1.0, True), rec(5.0, False, True)]
    with pytest.raises(run.InvalidRun):
        bench.valid_records(True)


def test_tail_is_p75_below_forty_samples_and_ten_beyond_above():
    assert run.tail_value(list(range(1, 9))) == (75.0, 6.25)
    pct, v = run.tail_value([float(i) for i in range(100)])
    assert (pct, v) == (90.0, 89.0)
    assert sum(x > v for x in range(100)) == 10


@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "1g")
    import eland_spark as es

    s = es.get_session("layerbench-test", extra_conf={"spark.ui.showConsoleProgress": "false"})
    yield s
    s.stop()


def test_leaked_pin_is_counted_and_not_reused(spark):
    from probe import ActionTracer, SparkProbe

    bench = run.Bench(run.parse_args(["--workload", "interactive", "--seed", "1",
                                      "--seconds", "1"]), 0.0, 0.0)
    bench.env.spark = spark
    probe, tracer = SparkProbe(spark), ActionTracer()
    df = spark.range(1000).selectExpr("id % 7 AS k")

    def leaky(ph):
        with ph("operators", "build"):
            pinned = df.cache()
        with ph("operators", "action"):
            return pinned.count()

    def clean(ph):
        with ph("operators", "action"):
            return df.count()

    def call(kind, fn):
        return workloads.Call(kind, {}, 1000, fn, lambda out: out, lambda fp: None)

    first = bench.run_call(call("leaky", leaky), False, probe, tracer, 0)
    assert first["error"] is None and first["fingerprint"] == 1000
    assert first["leaked_pins"] == 1
    assert first["pins_after_release"] == 0
    assert not df.storageLevel.useMemory and probe.pins() == 0
    second = bench.run_call(call("clean", clean), False, probe, tracer, 1)
    assert second["leaked_pins"] == 0
    assert probe.pins() == 0
