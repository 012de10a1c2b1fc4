"""Per-layer metrics from the traced calls of one run.

Every call is a list of phases; each phase names its layer
(``frontend``, ``operators``, ``etl``) and its role (``build`` returns a
lazy frame, ``action`` runs jobs). A layer metric is taken only over the
phases of its layer, over the calls that have such phases. A workload
with no phase in a layer reports 0 for that layer's metrics (interactive
has no ``operators`` phases, curation no ``frontend`` or ``etl`` ones).
The ``catalyst``, ``exec`` and ``driver`` metrics cover every call.
Times are medians per call; counts and bytes are means per call.
"""

from __future__ import annotations

import statistics

# name -> (unit, better)
PER_LAYER = {
    "session.cold_start_s": ("s", "lower"),
    "session.workload_warmup_s": ("s", "lower"),
    "session.start_s": ("s", "lower"),
    "session.warmup_s": ("s", "lower"),
    "frontend.build_s": ("s", "lower"),
    "frontend.driver_s": ("s", "lower"),
    "frontend.build_jobs": ("count", "lower"),
    "catalyst.analysis_ms": ("ms", "lower"),
    "catalyst.optimization_ms": ("ms", "lower"),
    "catalyst.planning_ms": ("ms", "lower"),
    "catalyst.sql_executions": ("count", "lower"),
    "catalyst.exchanges": ("count", "lower"),
    "operators.build_s": ("s", "lower"),
    "operators.build_jobs": ("count", "lower"),
    "operators.action_jobs": ("count", "lower"),
    "operators.driver_s": ("s", "lower"),
    "operators.leaked_pins": ("count", "lower"),
    "exec.jobs": ("count", "lower"),
    "exec.stages": ("count", "lower"),
    "exec.tasks": ("count", "lower"),
    "exec.failed_tasks": ("count", "lower"),
    "exec.busy_s": ("s", "lower"),
    "exec.executor_run_s": ("s", "lower"),
    "exec.executor_cpu_s": ("s", "lower"),
    "exec.core_utilisation": ("ratio", "higher"),
    "exec.input_bytes": ("bytes", "lower"),
    "exec.shuffle_read_bytes": ("bytes", "lower"),
    "exec.shuffle_write_bytes": ("bytes", "lower"),
    "exec.spill_bytes": ("bytes", "lower"),
    "etl.ingest_rows_per_s": ("rows/s", "higher"),
    "etl.write_rows_per_s": ("rows/s", "higher"),
    "etl.export_rows_per_s": ("rows/s", "higher"),
    "etl.export_driver_s": ("s", "lower"),
    "etl.bytes_written_per_row": ("bytes", "lower"),
    "driver.gc_s": ("s", "lower"),
    "driver.error_log_lines": ("count", "lower"),
    "driver.steal_pct": ("%", "lower"),
    "trace.overhead_p50_s": ("s", "lower"),
}


def union_ms(intervals) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e, *_ in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _dur(p) -> float:
    return p["t1"] - p["t0"]


def _outside_jobs(wall: float, intervals) -> float:
    return max(wall - union_ms(intervals) / 1000.0, 0.0)


def _phase_driver_s(p) -> float:
    return _outside_jobs(_dur(p), p["stats"]["intervals"])


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _mean(xs) -> float:
    return statistics.fmean(xs) if xs else 0.0


def per_layer(recs, setups, *, cold_start_s, workload_warmup_s, cores, gc_s, calls,
              error_lines, steal_pct, overhead_p50_s) -> dict:
    phases = [(r, p) for r in recs for p in r["phases"]]

    def pick(layer, role=None):
        return [(r, p) for r, p in phases
                if p["layer"] == layer and role in (None, p["role"])]

    def per_call(sel, f):
        by: dict[int, float] = {}
        for r, p in sel:
            by[r["id"]] = by.get(r["id"], 0.0) + f(p)
        return list(by.values())

    def call_stat(r, k):
        return sum(p["stats"][k] for p in r["phases"])

    def call_intervals(r):
        return [iv for p in r["phases"] for iv in p["stats"]["intervals"]]

    def catalyst(k):
        return _mean([sum(c[k] for p in r["phases"] for c in p.get("catalyst", []))
                      for r in recs])

    def driver_s(layer):
        """Per call, its ``layer`` phases' time outside their jobs."""
        return _median(per_call(pick(layer), _phase_driver_s))

    def rate(attr):
        sel = [p for _, p in pick("etl") if p.get(attr)]
        return sum(p[attr] for p in sel) / sum(_dur(p) for p in sel) if sel else 0.0

    busy = [union_ms(call_intervals(r)) / 1000.0 for r in recs]
    run_s = [call_stat(r, "executor_run_ms") / 1000.0 for r in recs]
    exports = [p for _, p in pick("etl") if p.get("export")]
    writes = [p for _, p in pick("etl") if p.get("write")]
    v = {
        "session.cold_start_s": cold_start_s,
        "session.workload_warmup_s": workload_warmup_s,
        "session.start_s": _median([s["session_s"] for s in setups]),
        "session.warmup_s": _median([s["warmup_s"] for s in setups]),
        "frontend.build_s": _median(per_call(pick("frontend", "build"), _dur)),
        "frontend.driver_s": driver_s("frontend"),
        "frontend.build_jobs": _mean(per_call(pick("frontend", "build"), lambda p: p["stats"]["jobs"])),
        "catalyst.analysis_ms": catalyst("analysis"),
        "catalyst.optimization_ms": catalyst("optimization"),
        "catalyst.planning_ms": catalyst("planning"),
        "catalyst.sql_executions": _mean([r["sql_executions"] for r in recs]),
        "catalyst.exchanges": catalyst("exchanges"),
        "operators.build_s": _median(per_call(pick("operators", "build"), _dur)),
        "operators.build_jobs": _mean(per_call(pick("operators", "build"), lambda p: p["stats"]["jobs"])),
        "operators.action_jobs": _mean(per_call(pick("operators", "action"), lambda p: p["stats"]["jobs"])),
        "operators.driver_s": driver_s("operators"),
        "operators.leaked_pins": _mean([r["leaked_pins"] for r in recs]),
        "exec.jobs": _mean([call_stat(r, "jobs") for r in recs]),
        "exec.stages": _mean([call_stat(r, "stages") for r in recs]),
        "exec.tasks": _mean([call_stat(r, "tasks") for r in recs]),
        "exec.failed_tasks": _mean([call_stat(r, "failed_tasks") for r in recs]),
        "exec.busy_s": _mean(busy),
        "exec.executor_run_s": _mean(run_s),
        "exec.executor_cpu_s": _mean([call_stat(r, "executor_cpu_ns") / 1e9 for r in recs]),
        "exec.core_utilisation": sum(run_s) / (sum(busy) * cores) if sum(busy) else 0.0,
        "exec.input_bytes": _mean([call_stat(r, "input_bytes") for r in recs]),
        "exec.shuffle_read_bytes": _mean([call_stat(r, "shuffle_read_bytes") for r in recs]),
        "exec.shuffle_write_bytes": _mean([call_stat(r, "shuffle_write_bytes") for r in recs]),
        "exec.spill_bytes": _mean([call_stat(r, "spill_bytes") for r in recs]),
        "etl.ingest_rows_per_s": rate("ingest"),
        "etl.write_rows_per_s": rate("write"),
        "etl.export_rows_per_s": rate("rows"),
        "etl.export_driver_s": _median([_phase_driver_s(p) for p in exports]),
        "etl.bytes_written_per_row": (sum(p["bytes"] for p in writes) / sum(p["write"] for p in writes)
                                      if writes else 0.0),
        "driver.gc_s": gc_s / max(calls, 1),
        "driver.error_log_lines": error_lines,
        "driver.steal_pct": steal_pct,
        "trace.overhead_p50_s": overhead_p50_s,
    }
    return {k: {"value": float(v[k]), "unit": PER_LAYER[k][0]} for k in PER_LAYER}


def time_split(recs) -> dict[str, dict[str, float]]:
    """Per call kind, the median wall, the median time its jobs ran
    (union of their intervals) and time outside them, and the exec
    share of the wall."""
    out: dict[str, dict[str, float]] = {}
    for kind in dict.fromkeys(r["kind"] for r in recs):
        rs = [r for r in recs if r["kind"] == kind]
        busy = [union_ms([iv for p in r["phases"] for iv in p["stats"]["intervals"]]) / 1000.0
                for r in rs]
        walls = [r["wall_s"] for r in rs]
        out[kind] = {"wall_s": _median(walls), "exec_busy_s": _median(busy),
                     "driver_s": _median([_outside_jobs(w, [(0.0, b * 1000.0)])
                                          for w, b in zip(walls, busy)]),
                     "exec_share": _median([b / w for w, b in zip(walls, busy)])}
    return out
