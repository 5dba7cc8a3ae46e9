#!/usr/bin/env python3
"""The engine's benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the repository root. It generates the workload's inputs from the
seed (cached per seed under ``.perfbench_work/``), starts the engine's session
with ``local[nproc]``, and then:

1. runs timed passes until ``--seconds`` have passed, each in a fresh
   session so no memoized relation survives from an earlier pass. Every
   operation is built through the registry and executed to completion
   through a ``noop`` sink, never a ``count()`` that Catalyst can prune;
2. runs a check pass in the last session: every operation is built again,
   collected as Arrow and compared with its DuckDB oracle, outside any
   timed region.

With ``--trace 1`` the timed passes alternate untraced, traced, untraced
(at least three), the per-layer metrics come from the traced ones, and the
tracing overhead is measured against the untraced passes after the first,
which alone pays the JVM's warm-up. The last stdout line is the JSON
result; the line before it carries the run's context.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import resource
import shutil
import statistics
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "aws_etl_microservice_redshift_datalake_spark"
WORK = os.path.join(ROOT, ".perfbench_work")
DEADLINE_S = 170  # hard stop: the run must end within 180 s
OP_TIMEOUT_S = 60  # an operation slower than this counts as failed

END_TO_END = {"setup_s": "s", "cold_setup_s": "s", "pass_s": "s"}
SETUP_SAMPLES = 5  # warm session restarts before the timed passes
COUNT_METRICS = ("exec.jobs", "exec.stages", "exec.tasks", "registry.build_jobs",
                 "dedup.cc_jobs", "memo.calls", "memo.builds", "sources.scan_rows",
                 "sources.write_files")
BYTE_METRICS = ("sources.scan_bytes", "sources.write_bytes", "shuffle.write_bytes",
                "shuffle.read_bytes", "shuffle.spill_bytes")


def process_start() -> float:
    """Wall-clock start of this process, from /proc."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def host_sample() -> dict:
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:]]
    return {"loadavg": os.getloadavg(), "steal_ticks": cpu[7] if len(cpu) > 7 else 0,
            "total_ticks": sum(cpu)}


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def percentile_with_tail(xs: list[float], beyond: int = 10) -> tuple[float, float]:
    """Highest percentile that leaves at least ``beyond`` samples above it
    (nearest-rank). Returns (percentile, value)."""
    xs = sorted(xs)
    rank = max(1, len(xs) - beyond)
    return 100.0 * rank / len(xs), xs[rank - 1]


class Run:
    def __init__(self, args):
        from workloads import WARMUP, WORKLOADS

        self.args = args
        self.w = WORKLOADS[args.workload]
        self.warm = WARMUP
        self.cores = os.cpu_count() or 1
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.setups: list[float] = []
        self.spark = None

    # -- inputs ------------------------------------------------------------
    def prepare_inputs(self) -> dict:
        import gen
        import workloads as wl

        root = os.path.join(WORK, "data", f"seed{self.args.seed}")
        sizes = {}
        for w in (self.warm, self.w):
            path = os.path.join(root, w.name)
            s = gen.read_sizes(path)
            if s is None:
                s = gen.write_dataset(wl.tables_for(w, self.args.seed), path, w.files)
            sizes[w.name] = s
        self.data = os.path.join(root, self.w.name)
        self.warm_data = os.path.join(root, self.warm.name)
        self.landing = os.path.join(root, "etl_landing")
        if wl.ETL_JOB in self.w.ops:
            if not os.path.isdir(self.landing):
                wl.write_landing(wl.tables_for(self.w, self.args.seed), self.landing)
            with open(os.path.join(self.data, "_SIZES.json")) as f:
                rows = json.load(f)
            self.landing_rows = {t: rows[t]["rows"] for t in ("lineitem", "orders", "events")}
        return sizes

    # -- sessions ----------------------------------------------------------
    def fresh_session(self):
        """Stop the current session (dropping every memoized relation with
        it), start a new one and run the warm-up query. Returns seconds."""
        from aws_etl_microservice_redshift_datalake_spark import all_queries, get_session

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = get_session("perfbench")
        all_queries()["q_pricing_summary"](self.spark, self.warm_data).write.format(
            "noop").mode("overwrite").save()
        return time.perf_counter() - t0

    # -- one operation -----------------------------------------------------
    def build_and_run(self, op: str, group: str):
        """Build ``op`` and execute it to completion. Returns
        (t0, t_built, t1, extra) in wall-clock seconds."""
        import workloads as wl
        from aws_etl_microservice_redshift_datalake_spark import all_queries

        self.spark.sparkContext.setJobGroup(group, op)
        if op == wl.ETL_JOB:
            out = os.path.join(WORK, "etl_out")
            shutil.rmtree(out, ignore_errors=True)
            t0 = time.time()
            job = wl.etl_job(self.landing, out)
            t_built = time.time()
            report = job.run(self.spark)
            return t0, t_built, time.time(), report
        t0 = time.time()
        df = all_queries()[op](self.spark, self.data)
        t_built = time.time()
        df.write.format("noop").mode("overwrite").save()
        return t0, t_built, time.time(), df

    def fail(self, what: str) -> None:
        self.failed += 1
        self.failures.append(what)
        log(f"FAILED {what}")

    # -- check pass --------------------------------------------------------
    def expected(self, op: str, sql: str) -> dict:
        import check

        cache = os.path.join(self.data, "_expected.json")
        try:
            with open(cache) as f:
                known = json.load(f)
        except FileNotFoundError:
            known = {}
        if op not in known:
            known[op] = check.duck_fingerprint(self.data, sql)
            tmp = cache + f".{os.getpid()}"
            with open(tmp, "w") as f:
                json.dump(known, f)
            os.replace(tmp, cache)
        return known[op]

    def check_pass(self) -> dict:
        """Every operation once, untimed, checked against its oracle."""
        import check
        import workloads as wl
        from aws_etl_microservice_redshift_datalake_spark import all_oracles, all_queries

        verdicts = {}
        oracles = all_oracles()
        for op in self.w.ops:
            self.attempted += 1
            try:
                if op == wl.ETL_JOB:
                    self.build_and_run(op, f"perfbench:check:{op}")
                    got = {t: wl.footer_rows(os.path.join(WORK, "etl_out", t)) for t in wl.ETL_OUTPUT_ROWS}
                    want = {t: self.landing_rows[src] for t, src in wl.ETL_OUTPUT_ROWS.items()}
                    why = None if got == want else f"footer rows {got} != input rows {want}"
                else:
                    self.spark.sparkContext.setJobGroup(f"perfbench:check:{op}", op)
                    df = all_queries()[op](self.spark, self.data)
                    tbl = df.toArrow()
                    if op in oracles:
                        why = check.diff(check.fingerprint(tbl), self.expected(op, oracles[op]))
                    elif tbl.num_rows == 0:
                        why = "empty result"
                    elif tbl.column_names != df.schema.names:
                        why = f"columns {tbl.column_names} != schema {df.schema.names}"
                    else:
                        why = None
            except Exception as e:  # an engine failure is a counted, reported outcome
                why = f"{type(e).__name__}: {str(e)[:300]}"
                traceback.print_exc(file=sys.stderr)
            verdicts[op] = "ok" if why is None else why
            if why is not None:
                self.fail(f"check {op}: {why}")
        return verdicts

    # -- timed passes ------------------------------------------------------
    def timed_pass(self, idx: int, tracer=None) -> dict:
        from layers import OpWindow

        if tracer is not None:
            tracer.install()  # before the session starts: its context reads the event-log switch
        self.setups.append(self.fresh_session())
        order = list(self.w.ops)
        random.Random(f"{self.args.seed}:{idx}").shuffle(order)
        lat, windows, stages = {}, [], []
        t_pass = time.perf_counter()
        for k, op in enumerate(order):
            group = f"perfbench:{idx}:{k}:{op}"
            self.attempted += 1
            try:
                t0, t_built, t1, extra = self.build_and_run(op, group)
            except Exception as e:  # counted and reported; the pass goes on
                traceback.print_exc(file=sys.stderr)
                self.fail(f"pass {idx} {op}: {type(e).__name__}: {str(e)[:300]}")
                continue
            if t1 - t0 > OP_TIMEOUT_S:
                self.fail(f"pass {idx} {op}: {t1 - t0:.1f} s > {OP_TIMEOUT_S} s timeout")
            lat[op] = t1 - t0
            windows.append(OpWindow(group, op, t0, t_built, t1))
            if hasattr(extra, "stages"):
                stages = extra.stages
        pass_s = time.perf_counter() - t_pass
        out = {"pass_s": pass_s, "lat": lat, "traced": tracer is not None}
        if tracer is not None:
            out.update(windows=windows, stages=stages)
        return out

    def measure(self) -> list[dict]:
        from layers import Tracer

        passes = []
        t_start = time.perf_counter()
        idx = 0
        while True:
            traced = bool(self.args.trace) and idx % 2 == 1
            tracer = Tracer(os.path.join(WORK, "eventlog", f"{os.getpid()}-{idx}")) if traced else None
            p = self.timed_pass(idx, tracer)
            if tracer is not None:
                self.spark.stop()  # closes the context's event log
                self.spark = None
                tracer.remove()
                p["tracer"] = tracer
            passes.append(p)
            log(f"pass {idx} {'traced ' if traced else ''}{p['pass_s']:.3f} s")
            idx += 1
            done = time.perf_counter() - t_start >= self.args.seconds
            if done and (not self.args.trace or idx >= 3):
                return passes


def jvm_peak_rss_mb() -> float:
    from pyspark import SparkContext

    pid = SparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("VmHWM"))
    return kb / 1024


def end_to_end(run: Run, passes: list[dict], cold_setup: float) -> tuple[dict, dict]:
    lat = [v for p in passes for v in p["lat"].values()]
    pct, tail = percentile_with_tail(lat)
    vals = {
        "setup_s": statistics.median(run.setups),
        "cold_setup_s": cold_setup,
        "pass_s": statistics.median(p["pass_s"] for p in passes),
    }
    # Context, not metrics: a run has too few operations for a steady median
    # (its spread across seeds reached 22%, as the seeded order moves the
    # operations through the JVM's warm-up) or for a tail percentile with 10
    # samples beyond it, and the JVM's peak RSS follows its garbage
    # collector's heap sizing more than the work (22% spread).
    ctx = {"op_p50_s": statistics.median(lat), "op_tail_s": tail, "op_tail_percentile": pct, "op_samples": len(lat), "passes": len(passes),
           "setup_samples": len(run.setups),
           "error_rate": run.failed / run.attempted, "error_rate_base": run.attempted}
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in vals.items()}, ctx


def per_layer(run: Run, passes: list[dict]) -> tuple[dict, dict]:
    import layers

    untraced = [p["pass_s"] for p in passes[1:] if not p["traced"]]
    rows = []
    plans = {}
    for p in passes:
        if not p["traced"]:
            continue
        events = layers.read_events(p["tracer"].event_dir)
        m, plans = layers.rollup(events, p["windows"], p["tracer"], run.cores, p["stages"], p["pass_s"])
        starts = [e - s for n, s, e in p["tracer"].spans if n == "session.start"]
        m["session.start_s"] = statistics.median(starts) if starts else 0.0
        rows.append(m)
    m = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
    m["trace.overhead_s"] = m.pop("pass_s") - statistics.median(untraced)
    units = {}
    for k in m:
        units[k] = ("count" if k in COUNT_METRICS else "bytes" if k in BYTE_METRICS
                    else "ratio" if k in ("memo.hit_ratio", "exec.cpu_util") else "s")
    ctx = {"registry_build_share": m["registry.build_s"] / statistics.median(untraced),
           "cpu_util_base": {"cores": run.cores, "exec_wall_s": m["exec.s"],
                             "executor_cpu_s": m["exec.executor_cpu_s"]},
           "memo_hit_ratio_base": {"calls": m["memo.calls"], "builds": m["memo.builds"]}}
    if "q_pricing_summary" in plans:
        ok = any("sum(" in pl and "HashAggregate" in pl for pl in plans["q_pricing_summary"])
        ctx["pricing_summary_plan_keeps_aggregates"] = ok
        run.attempted += 1
        if not ok:
            run.fail("q_pricing_summary: timed plan lost its aggregate functions")
    return {k: {"value": v, "unit": units[k]} for k, v in m.items()}, ctx


def stop_jvm() -> None:
    """Stop the py4j gateway's JVM and wait for it to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:  # the JVM may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def watchdog() -> None:
    """Kill the JVM and exit, without a result, if the run overruns its
    deadline (py4j calls cannot be interrupted)."""
    def fire():
        from pyspark import SparkContext

        log(f"run exceeded {DEADLINE_S} s, aborting")
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            proc.kill()
            proc.wait()
        os._exit(3)

    t = threading.Timer(DEADLINE_S, fire)
    t.daemon = True
    t.start()


def main() -> int:
    t_proc = process_start()
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, PKG)):
        log(f"engine package {PKG} not found next to {HERE}; run from a full checkout")
        return 2
    sys.path.insert(0, ROOT)
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 1)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["SPARK_GRAFT_SCRATCH"] = os.path.join(WORK, "scratch")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["_JAVA_OPTIONS"] = f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData"
    # the engine's 48g default driver heap is sized for a 32-core host
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    for d in ("spark-local", "scratch", "tmp"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.chdir(WORK)  # spark-warehouse/ and derby.log land here, not in the checkout root
    watchdog()

    run = Run(args)
    host_before = host_sample()
    t_gen = time.time()
    sizes = run.prepare_inputs()
    gen_s = time.time() - t_gen

    try:
        run.fresh_session()
        cold_setup = time.time() - t_proc - gen_s
        for _ in range(SETUP_SAMPLES):
            run.setups.append(run.fresh_session())
        passes = run.measure()
        if run.spark is None:  # the last pass was traced and closed its session
            run.fresh_session()
        t_check = time.time()
        verdicts = run.check_pass()
        check_s = time.time() - t_check
        rss_mb = jvm_peak_rss_mb() + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
        run.spark.stop()
        if args.trace:
            metrics, ctx = per_layer(run, passes)
        else:
            metrics, ctx = end_to_end(run, passes, cold_setup)
    finally:
        stop_jvm()
    host_after = host_sample()

    import duckdb
    import pyspark

    context = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "nproc": run.cores, "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
        "driver_mem": os.environ["SPARK_GRAFT_DRIVER_MEM"],
        "pyspark": pyspark.__version__, "duckdb": duckdb.__version__,
        "inputs": sizes, "input_gen_s": gen_s, "check_pass_s": check_s,
        "peak_rss_mb": rss_mb, "cold_setup_s": cold_setup,
        "host_before": host_before, "host_after": host_after,
        "steal_share": (host_after["steal_ticks"] - host_before["steal_ticks"])
        / max(1, host_after["total_ticks"] - host_before["total_ticks"]),
        "verdicts": verdicts, "failures": run.failures,
        "op_latency_s": [p["lat"] for p in passes],
        **ctx,
    }
    print(json.dumps({"context": context}), flush=True)
    print(json.dumps({"correct": run.failed == 0, "attempted": run.attempted,
                      "failed": run.failed, "metrics": metrics}), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
