"""Layered benchmark for eland_spark.

Run from the repository root:

    python3 layerbench/run.py --workload interactive --seed 1 --seconds 10 --trace 0

Workloads are ``interactive`` and ``curation`` (see ``workloads.py``).
Every input is generated from ``--seed``. The run drives the public
``eland_spark`` API from one client thread on a ``local[nproc]``
session, measures whole rounds of calls for at least
``--seconds`` seconds, checks every output, and prints one JSON object
as the last line of stdout: the end-to-end metrics with ``--trace 0``,
the per-layer metrics with ``--trace 1``. A traced run alternates
untraced and traced rounds; it writes its spans and per-call layer
records to ``layerbench/.work/traces/`` and reports the tracing
overhead. See ``README.md`` for the metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import contextmanager

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")

SETUPS = 5               # set-ups per run; setup_s is their median
STEAL_BOUND_PCT = 10.0   # a round with more hypervisor steal is invalid
CALL_TIMEOUT_S = 60.0    # a call slower than this counts as failed
LAST_ROUND_START_S = 110.0   # no new round after this much process time
HARD_LIMIT_S = 170       # the process kills its JVM and exits after this
DRIVER_MEMORY = "3g"
YOUNG_GEN = "384m"
WARM_ROUND = 1_000_000   # parameter stream of the workload warm-up round
ERROR_LINE = re.compile(r"^\S+ \S+ ERROR ")

E2E = {
    "setup_s": "s", "op_p50_s": "s", "op_tail_s": "s", "rows_per_s": "1/s",
    "ops_ok_frac": "ratio", "peak_rss_mb": "MB",
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True,
                   choices=["interactive", "curation"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args(argv)


def repo_missing() -> list[str]:
    need = ["eland_spark/__init__.py", "__spark_entry__.py", "driver_gate.py"]
    return [n for n in need if not os.path.exists(os.path.join(ROOT, n))]


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def tail_value(samples: list[float]) -> tuple[float, float]:
    """(percentile, value) of the tail latency: the highest percentile
    with at least ten samples above it. Below 40 samples that percentile
    falls under p75; the tail is then p75 (linear interpolation), and
    the percentile reported says so."""
    xs = sorted(samples)
    n = len(xs)
    if n >= 40:
        return 100.0 * (n - 10) / n, xs[n - 11]
    if n == 1:
        return 75.0, xs[0]
    pos = 0.75 * (n - 1)
    lo = int(pos)
    hi = min(lo + 1, n - 1)
    return 75.0, xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


class InvalidRun(Exception):
    """A run whose measurements cannot be reported."""


class Env:
    """What the workloads see: the session, the generated inputs and
    the run's working directories."""

    def __init__(self, workload: str, seed: int, run_dir: str):
        self.workload, self.seed, self.run_dir = workload, seed, run_dir
        self.data_dir = os.path.join(run_dir, "data")
        self.oracle_dir = os.path.join(run_dir, "oracle")
        self.warehouse = os.path.join(run_dir, "warehouse")
        self.table_rows: dict[str, int] = {}
        self.spark = self.es = self.entry = None

    def path(self, name: str) -> str:
        return os.path.join(self.data_dir, f"{name}.parquet")

    def generate(self) -> None:
        import gen

        if self.workload == "curation":
            tables = gen.curation_tables(self.seed, gen.make_tables(self.seed))
            gen.write_multi(tables, self.data_dir)
            gen.write_single(tables, self.oracle_dir)
            self.start_oracle()
        else:
            tables = gen.make_tables(self.seed)
            gen.write_single(tables, self.data_dir)
        self.table_rows = {k: t.num_rows for k, t in tables.items()}

    def start_oracle(self) -> None:
        """Fingerprint the DuckDB oracles in a child process. It overlaps
        only the first (cold) set-up and ends before the next one."""
        self._oracle_json = os.path.join(self.run_dir, "oracle.json")
        self._oracle_proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "oracle.py"), self.oracle_dir,
             self._oracle_json], stdout=subprocess.DEVNULL)

    def wait_oracle(self) -> None:
        proc = getattr(self, "_oracle_proc", None)
        if proc is not None and proc.wait(timeout=120) != 0:
            raise RuntimeError(f"oracle process exited with {proc.returncode}")

    def oracle_fingerprints(self) -> dict:
        self.wait_oracle()
        if not hasattr(self, "_oracle"):
            with open(self._oracle_json) as fh:
                self._oracle = json.load(fh)
        return self._oracle

    def session_conf(self) -> dict[str, str]:
        return {
            "spark.sql.warehouse.dir": self.warehouse,
            "spark.ui.showConsoleProgress": "false",
            # a fixed heap and young generation: the driver's peak RSS then
            # follows live data instead of the collector's sizing choices
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -Xmn{YOUNG_GEN}",
        }


class Bench:
    def __init__(self, args, origin: float, proc_start: float):
        self.args = args
        self.origin = origin          # perf_counter at import
        self.proc_start = proc_start  # epoch seconds
        self.run_dir = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
        self.env = Env(args.workload, args.seed, self.run_dir)
        self.log_path = os.path.join(self.run_dir, "driver.log")
        self.records: list[dict] = []
        self.setups: list[dict] = []
        self.rounds: list[dict] = []
        self.spans = None
        self.call_id = 0

    # -- process environment -------------------------------------------
    def prepare(self) -> None:
        os.makedirs(self.run_dir, exist_ok=True)
        tmp = os.path.join(self.run_dir, "tmp")
        os.makedirs(tmp, exist_ok=True)
        os.environ.update({
            "SPARK_GRAFT_CPUS": str(nproc()),
            "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
            "SPARK_LOCAL_DIRS": os.path.join(self.run_dir, "spark-local"),
            "TMPDIR": tmp,
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            "PYSPARK_PYTHON": sys.executable,
        })
        sys.path.insert(0, ROOT)

    def redirect_stderr(self) -> None:
        """Send this process's (and so the driver JVM's) stderr to the run
        log, where ERROR lines are counted; keep the original for
        reporting failures."""
        self.stderr_fd = os.dup(2)
        fd = os.open(self.log_path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
        os.dup2(fd, 2)
        os.close(fd)

    def say(self, msg: str) -> None:
        os.write(self.stderr_fd, (msg.rstrip("\n") + "\n").encode())

    # -- set-up ----------------------------------------------------------
    def setup(self) -> None:
        """SETUPS set-ups, each a session build and the warm-up query. The
        first also launches the driver JVM; the others stop the Spark
        context (untimed) and build the session again in the same JVM.
        Then one untimed round of the workload runs on the final session."""
        gen_s = self._gen_s
        for i in range(SETUPS):
            if i:
                # the previous session's teardown is not part of set-up
                self.env.wait_oracle()
                self.env.spark.stop()
            t0 = time.perf_counter()
            if i == 0:
                import eland_spark as es

                self.env.es = es
                if self.args.workload == "curation":
                    import __spark_entry__

                    self.env.entry = __spark_entry__
            self.env.spark = self.env.es.get_session(
                "layerbench", extra_conf=self.env.session_conf())
            t1 = time.perf_counter()
            self.warmup()
            t2 = time.perf_counter()
            if i == 0:
                self.cold_start_s = time.time() - self.proc_start - gen_s
            self.setups.append({"session_s": t1 - t0, "warmup_s": t2 - t1, "total_s": t2 - t0})
        t0 = time.perf_counter()
        self.workload_warmup()
        self.workload_warmup_s = time.perf_counter() - t0

    def warmup(self) -> None:
        """Every set-up's warm-up: one filtered aggregation over orders."""
        es, spark = self.env.es, self.env.spark
        o = es.read_parquet(spark, self.env.path("orders"))
        o[o["o_totalprice"] > 1000.0].groupby("o_orderstatus").agg({"o_totalprice": "sum"})

    def workload_warmup(self) -> None:
        """One untimed, unchecked round of the workload (own parameter
        stream) on the session the timed rounds use, so that they do not
        pay for compiling their plans or starting Python workers."""
        import workloads
        from probe import SparkProbe

        @contextmanager
        def ph(layer, role, **attrs):
            yield {}

        probe = SparkProbe(self.env.spark)
        wl = workloads.WORKLOADS[self.args.workload](self.env)
        for call in wl.round(WARM_ROUND):
            call.run(ph)
            probe.release_pins()

    # -- calls -----------------------------------------------------------
    def run_call(self, call, traced: bool, probe, tracer, round_no: int) -> dict:
        self.call_id += 1
        cid = self.call_id
        phases: list[dict] = []
        sql0 = probe.sql_executions() if traced else 0

        @contextmanager
        def ph(layer, role, **attrs):
            rec = {"layer": layer, "role": role, "group": f"lb{cid}.{len(phases)}", **attrs}
            probe.tag(rec["group"])
            if traced:
                tracer.records = rec.setdefault("actions", [])
            t0 = time.perf_counter()
            try:
                if traced:
                    with self.spans.span(f"{layer}.{role}", cid) as sp:
                        rec["span"] = sp["id"]
                        yield rec
                else:
                    yield rec
            finally:
                rec["t0"], rec["t1"] = t0, time.perf_counter()
                tracer.records = None
                phases.append(rec)

        rec = {"id": cid, "kind": call.kind, "round": round_no, "traced": traced,
               "params": call.params, "input_rows": call.input_rows, "error": None}
        t0 = time.perf_counter()
        try:
            if traced:
                with self.spans.span(f"call:{call.kind}", cid):
                    out = call.run(ph)
            else:
                out = call.run(ph)
        except Exception as e:  # a raising call is a failed call
            out = None
            rec["error"] = f"{type(e).__name__}: {e}"[:500]
        t1 = time.perf_counter()
        probe.tag("lb.idle")
        rec.update(t0=t0, t1=t1, wall_s=t1 - t0, phases=phases)
        if rec["error"] is None and rec["wall_s"] > CALL_TIMEOUT_S:
            rec["error"] = f"timeout: {rec['wall_s']:.1f}s > {CALL_TIMEOUT_S}s"
        # untimed from here on
        if rec["error"] is None:
            try:
                rec["fingerprint"] = call.fingerprint(out)
            except Exception as e:
                rec["error"] = f"fingerprint {type(e).__name__}: {e}"[:500]
            for p in phases:
                if p.get("export"):
                    p["rows"] = len(out)
                if p.get("path"):
                    p["bytes"] = dir_bytes(p["path"])
        rec["leaked_pins"] = probe.pins()
        probe.release_pins()
        rec["pins_after_release"] = probe.pins()
        if traced:
            self.trace_readout(rec, probe, sql0)
        rec["check"] = call.check
        return rec

    def trace_readout(self, rec: dict, probe, sql0: int) -> None:
        from probe import catalyst_phases_ms

        from eland_spark.plans import shuffle_count

        probe.drain()
        seen: set[int] = set()
        rec["sql_executions"] = probe.sql_executions() - sql0
        epoch_at_origin = time.time() - (time.perf_counter() - self.origin)
        for p in rec["phases"]:
            p["jobs"] = probe.jobs(p["group"])
            st = probe.job_stats(p["jobs"], seen)
            p["stats"] = st
            for s, e, jid in st["intervals"]:
                self.spans.add(f"exec.job:{jid}", rec["id"], p["span"],
                               s / 1000.0 - epoch_at_origin, e / 1000.0 - epoch_at_origin)
            for a in p.pop("actions", []):
                ms = catalyst_phases_ms(a["qe"])
                try:
                    ms["exchanges"] = shuffle_count(a["df"])
                except Exception:
                    ms["exchanges"] = 0
                p.setdefault("catalyst", []).append(ms)
                self.spans.add(f"catalyst.{a['action']}", rec["id"], p["span"],
                               a["start"] - self.origin, a["end"] - self.origin, **ms)

    # -- rounds ----------------------------------------------------------
    def measure(self) -> None:
        import workloads
        from probe import ActionTracer, SparkProbe, Spans, cpu_times, steal_pct

        probe = SparkProbe(self.env.spark)
        tracer = ActionTracer()
        self.spans = Spans(self.origin)
        if self.args.trace:
            tracer.install(self.env.spark)
        wl = workloads.WORKLOADS[self.args.workload](self.env)
        self._hwm_reset()
        gc0, cpu0 = probe.gc_ms(), cpu_times()
        timed = {False: 0.0, True: 0.0}
        r = 0
        while True:
            # a traced run alternates untraced and traced rounds
            traced = bool(self.args.trace) and r % 2 == 1
            before = cpu_times()
            recs = [self.run_call(c, traced, probe, tracer, r) for c in wl.round(r)]
            steal = steal_pct(before, cpu_times())
            valid = steal <= STEAL_BOUND_PCT
            self.rounds.append({"round": r, "traced": traced, "steal_pct": steal, "valid": valid,
                                "timed_s": sum(x["wall_s"] for x in recs)})
            for x in recs:
                x["valid_round"] = valid
            self.records.extend(recs)
            if valid:
                timed[traced] += self.rounds[-1]["timed_s"]
            r += 1
            enough = timed[False] >= self.args.seconds and (
                not self.args.trace or timed[True] > 0)
            if enough or time.perf_counter() - self.origin > LAST_ROUND_START_S:
                break
        self.gc_s = (probe.gc_ms() - gc0) / 1000.0
        self.steal_pct = steal_pct(cpu0, cpu_times())
        from probe import peak_rss_by_process

        self.rss_by_process = peak_rss_by_process()
        self.peak_rss = sum(self.rss_by_process.values())
        if self.args.trace:
            tracer.uninstall()

    def _hwm_reset(self) -> None:
        """Reset every process's peak-RSS mark, so peak_rss_mb covers
        the timed region and not input generation."""
        from probe import tree_pids

        for pid in tree_pids():
            try:
                with open(f"/proc/{pid}/clear_refs", "w") as fh:
                    fh.write("5")
            except OSError:
                pass

    # -- checks ----------------------------------------------------------
    def check(self) -> None:
        import workloads

        for rec in self.records:
            if rec["error"] is not None:
                continue
            try:
                rec.pop("check")(rec["fingerprint"])
            except workloads.Mismatch as e:
                rec["error"] = f"wrong output: {e}"[:500]
            except Exception as e:
                rec["error"] = f"check {type(e).__name__}: {e}"[:500]
            if rec["error"] is None and rec["pins_after_release"]:
                rec["error"] = f"{rec['pins_after_release']} pins survived the release"

    # -- metrics ---------------------------------------------------------
    def valid_records(self, traced: bool) -> list[dict]:
        """The calls of valid rounds, untraced or traced. Rounds over the
        steal bound are left out; a run with none left has no result."""
        recs = [x for x in self.records if x["traced"] == traced and x["valid_round"]]
        if not recs:
            kind = "traced" if traced else "untraced"
            raise InvalidRun(f"no {kind} round stayed within {STEAL_BOUND_PCT}% steal")
        return recs

    def e2e(self, traced: bool) -> dict:
        recs = self.valid_records(traced)
        walls = [x["wall_s"] for x in recs]
        attempted = len(self.records)
        failed = sum(x["error"] is not None for x in self.records)
        _, tail = tail_value(walls)
        return {
            "setup_s": statistics.median(s["total_s"] for s in self.setups),
            "op_p50_s": statistics.median(walls),
            "op_tail_s": tail,
            "rows_per_s": sum(x["input_rows"] for x in recs) / sum(walls),
            "ops_ok_frac": 1.0 - failed / attempted,
            "peak_rss_mb": self.peak_rss,
        }

    def error_lines(self) -> int:
        with open(self.log_path, errors="replace") as fh:
            return sum(1 for line in fh if ERROR_LINE.match(line))

    def result(self) -> dict:
        attempted = len(self.records)
        failed = sum(x["error"] is not None for x in self.records)
        untraced = self.e2e(False)
        split = None
        if self.args.trace:
            from layers import per_layer, time_split

            traced_recs = self.valid_records(True)
            traced = self.e2e(True)
            overhead = {k: traced[k] - untraced[k] for k in ("op_p50_s", "op_tail_s", "rows_per_s")}
            values = per_layer(traced_recs, self.setups, cold_start_s=self.cold_start_s,
                               workload_warmup_s=self.workload_warmup_s,
                               cores=nproc(), gc_s=self.gc_s,
                               calls=attempted, error_lines=self.error_lines(),
                               steal_pct=self.steal_pct, overhead_p50_s=overhead["op_p50_s"])
            split = time_split(traced_recs)
            self.write_trace(values, untraced, traced, overhead, split)
            metrics = values
        else:
            metrics = {k: {"value": v, "unit": E2E[k]} for k, v in untraced.items()}
        self.detail(split)
        return {"correct": failed == 0, "attempted": attempted, "failed": failed,
                "metrics": metrics}

    def detail(self, split: dict | None) -> None:
        """One human-readable line ahead of the result: sample counts, the
        stated tail percentile, input size, validity and failures."""
        recs = [x for x in self.records if not x["traced"] and x["valid_round"]]
        pins: dict[str, list[int]] = {}
        for x in self.records:
            pins.setdefault(x["kind"], []).append(x["leaked_pins"])
        failed = [x for x in self.records if x["error"] is not None]
        info = {
            "workload": self.args.workload, "seed": self.args.seed,
            "samples": len(recs),
            "tail_percentile": round(tail_value([x["wall_s"] for x in recs])[0], 1),
            "rounds": len(self.rounds),
            # rounds over the steal bound are left out of every metric
            "invalid_rounds": sum(not r["valid"] for r in self.rounds),
            "steal_pct": round(self.steal_pct, 2), "steal_bound_pct": STEAL_BOUND_PCT,
            "input_rows": self.env.table_rows,
            "setups": [{k: round(v, 3) for k, v in s.items()} for s in self.setups],
            "cold_start_s": round(self.cold_start_s, 3),
            "workload_warmup_s": round(self.workload_warmup_s, 3),
            "call_s": {k: [round(x["wall_s"], 3) for x in recs if x["kind"] == k]
                       for k in dict.fromkeys(x["kind"] for x in recs)},
            "leaked_pins_by_call": {k: max(v) for k, v in pins.items() if max(v)},
            "peak_rss_mb_by_process": {k: round(v) for k, v in self.rss_by_process.items()},
            "driver_error_lines": self.error_lines(),
            "failed_kinds": sorted({x["kind"] for x in failed}),
            "failures": [f"{x['kind']}#{x['id']}: {x['error']}" for x in failed][:10],
        }
        if split is not None:
            info["time_split_by_call"] = {
                k: {n: round(v, 3) for n, v in d.items()} for k, d in split.items()}
        print("layerbench " + json.dumps(info, default=str), flush=True)

    def write_trace(self, values, untraced, traced, overhead, split) -> None:
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        path = os.path.join(WORK, "traces", f"{self.args.workload}-seed{self.args.seed}.json")
        calls = []
        for x in self.records:
            y = {k: v for k, v in x.items() if k not in ("check", "fingerprint")}
            y["phases"] = [{k: v for k, v in p.items() if k != "actions"} for p in x["phases"]]
            calls.append(y)
        doc = {"workload": self.args.workload, "seed": self.args.seed,
               "end_to_end_untraced": untraced, "end_to_end_traced": traced,
               "tracing_overhead": overhead, "per_layer": values, "time_split_by_call": split,
               "rounds": self.rounds, "calls": calls, "spans": self.spans.items}
        with open(path, "w") as fh:
            json.dump(doc, fh, default=str)

    # -- teardown --------------------------------------------------------
    def stop(self) -> None:
        """Stop the session and the driver JVM, and wait for both."""
        try:
            if self.env.spark is not None:
                self.env.spark.stop()
        except Exception:
            pass
        kill_jvm(wait=True)

    def cleanup(self) -> None:
        shutil.rmtree(self.run_dir, ignore_errors=True)


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def kill_jvm(wait: bool) -> None:
    from probe import tree_pids

    try:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is not None:
            try:
                gw.shutdown()
            except Exception:
                pass
            proc = getattr(gw, "proc", None)
            if proc is not None:
                try:
                    proc.stdin.close()
                except Exception:
                    pass
                try:
                    proc.wait(timeout=20 if wait else 0.1)
                except Exception:
                    proc.kill()
                    proc.wait(timeout=10)
            SparkContext._gateway = SparkContext._jvm = None
    except ImportError:
        pass
    me = os.getpid()
    left = [p for p in tree_pids() if p != me]
    for p in left:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass
    for p in left:
        try:
            os.waitpid(p, 0)
        except OSError:
            pass


def main(argv=None) -> int:
    origin = time.perf_counter()
    sys.path.insert(0, HERE)
    from probe import process_start_epoch

    proc_start = process_start_epoch()
    args = parse_args(argv)
    missing = repo_missing()
    if missing:
        print(f"layerbench: not a checkout of the repository (missing {', '.join(missing)})",
              file=sys.stderr)
        return 2
    bench = Bench(args, origin, proc_start)
    bench.prepare()

    def on_alarm(signum, frame):
        bench.say("layerbench: hard time limit reached; stopping the driver JVM")
        kill_jvm(wait=False)
        os._exit(3)

    signal.signal(signal.SIGALRM, on_alarm)
    signal.alarm(HARD_LIMIT_S)
    bench.redirect_stderr()
    try:
        g0 = time.perf_counter()
        bench.env.generate()
        bench._gen_s = time.perf_counter() - g0
        bench.setup()
        bench.measure()
        bench.check()
        res = bench.result()
    except InvalidRun as e:
        bench.say(f"layerbench: invalid run: {e}")
        bench.stop()
        return 4
    except Exception:
        bench.say(traceback.format_exc())
        bench.say("layerbench: driver log tail:\n" + _tail(bench.log_path))
        bench.stop()
        return 1
    bench.stop()
    bench.cleanup()
    signal.alarm(0)
    print(json.dumps(res), flush=True)
    return 0


def _tail(path: str, n: int = 30) -> str:
    try:
        with open(path, errors="replace") as fh:
            return "".join(fh.readlines()[-n:])
    except OSError:
        return ""


if __name__ == "__main__":
    sys.exit(main())
