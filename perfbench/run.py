"""Recipe-and-gate benchmark for meteor_spark.

    python3 perfbench/run.py --workload catalog_profile --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 10 --trace 0

One process runs one workload on local[nproc]: it generates (or reuses)
the seeded inputs, starts the SparkSession, runs one untimed warm-up
pass, then repeats whole passes of the workload for at least --seconds,
checking every output. With --trace 1 the passes come in pairs, one
untraced and one with span tracing installed; the traced passes give
the per-layer metrics. The last line of stdout is one JSON object:
correct, attempted, failed and metrics.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shlex
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")  # generated inputs, outputs and Spark scratch
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import spans as tracing  # noqa: E402
import workloads as wl  # noqa: E402

# op_p50_s is printed, not gated: over a pass of heterogeneous gates the
# median lands between cost clusters and moved by a third across seeds.
END_TO_END = {"setup_s": "s", "wall_s": "s"}
OPERATOR_LAYERS = ("text", "dedup", "graph", "retrieval")


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name and unit; every workload reports all of them."""
    units = {
        "session.start_s": "s",
        "recipe.load_s": "s",
        "runner.validate_s": "s",
        "runner.self_s": "s",
        "runner.self_jobs": "count",
        "runner.cached_rdds_left": "count",
        "sources.extract_s": "s",
        "sources.extract_jobs": "count",
        "operators.profile_s": "s",
        "operators.profile_calls": "count",
        **{f"operators.{m}_s": "s" for m in OPERATOR_LAYERS},
        "streaming.busy_s": "s",
        "io.busy_s": "s",
        **{f"processors.{p}.build_s": "s" for p in wl.PROCESSORS},
    }
    for s in wl.SINKS:
        units.update({f"sinks.{s}.write_s": "s", f"sinks.{s}.jobs": "count", f"sinks.{s}.bytes_out": "bytes"})
    for g in wl.GATES:
        units.update(
            {
                f"gates.{g}.build_s": "s",
                f"gates.{g}.build_jobs": "count",
                f"gates.{g}.collect_s": "s",
                f"gates.{g}.collect_jobs": "count",
                f"gates.{g}.plan_s": "s",
                f"gates.{g}.cached_rdds_left": "count",
            }
        )
    units.update(
        {
            "plan.analysis_s": "s",
            "plan.optimization_s": "s",
            "plan.planning_s": "s",
            "spark.jobs": "count",
            "spark.stages": "count",
            "spark.tasks": "count",
            "spark.executor_run_s": "s",
            "spark.shuffle_write_bytes": "bytes",
            "spark.spill_bytes": "bytes",
            "trace.overhead_ratio": "ratio",
            "host.calib_py_s": "s",
            "host.calib_jvm_s": "s",
        }
    )
    return units


# ----------------------------------------------------------------- Spark


def configure_environment() -> None:
    """Pin the session to this host's cores and keep Spark's scratch in WORK."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEMORY"] = "4g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell"


class SparkCounters:
    """Job/stage watermarks, stage metrics and Catalyst phase times."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.dag = self.jsc.dagScheduler()
        self.events: list[dict] = []
        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(self.sc._gateway)
        spark._jsparkSession.listenerManager().register(self)

    def marks(self) -> tuple[int, int]:
        return self.dag.nextJobId(), self.dag.nextStageId()

    def settle(self) -> None:
        self.jsc.listenerBus().waitUntilEmpty()

    def stages(self, first: int, end: int) -> dict[str, float]:
        """Summed metrics of the stages with ids in [first, end)."""
        out = {"stages": 0, "tasks": 0, "executor_run_s": 0.0, "shuffle_write_bytes": 0, "spill_bytes": 0}
        store = self.jsc.statusStore()
        for sid in range(first, end):
            s = store.lastStageAttempt(sid)
            if s.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks()
            out["executor_run_s"] += s.executorRunTime() / 1000.0
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
        return out

    def take_events(self) -> list[dict]:
        self.settle()
        events, self.events = self.events, []
        return events

    # org.apache.spark.sql.util.QueryExecutionListener, called from the JVM
    def onSuccess(self, func_name, qe, duration_ns):
        phases = qe.tracker().phases()
        self.events.append(
            {p: phases.get(p).get().durationMs() / 1000.0 for p in ("analysis", "optimization", "planning") if phases.get(p).isDefined()}
        )

    def onFailure(self, func_name, qe, exception):
        self.events.append({})

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def calibrate(spark) -> tuple[float, float]:
    """A fixed pure-Python loop and a tiny JVM query, each timed once."""
    t = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc += i * i % 7
    py_s = time.perf_counter() - t
    t = time.perf_counter()
    spark.range(200_000).selectExpr("sum(id % 7) AS s").collect()
    return py_s, time.perf_counter() - t


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = gateway.proc
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    proc.wait(timeout=60)


# ---------------------------------------------------------------- passes


class Phase:
    """Timed passes over a workload's ops, with every output checked."""

    def __init__(self):
        self.passes: list[list[float]] = []  # op durations, one list per pass
        self.attempted = 0
        self.problems: list[str] = []
        self.failed = 0

    def run_pass(self, ops, ctx, on_op=None) -> None:
        durations = []
        for op in ops:
            t = time.perf_counter()
            try:
                with ctx.tracer.span(f"op.{op.name}", count=True):
                    out = op.run(ctx)
            except Exception as e:  # noqa: BLE001 — a raising op is a counted failure
                out = e
            durations.append(time.perf_counter() - t)
            self.check(op, ctx, out)
            if on_op is not None:
                on_op(op)
        self.passes.append(durations)

    def run_concurrent(self, ops, ctx, workers: int) -> None:
        """One untimed pass with the ops spread over a thread pool, then
        every output checked. Used only to warm the JVM up."""
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=workers) as pool:
            futures = [pool.submit(op.run, ctx) for op in ops]
        for op, fut in zip(ops, futures):
            self.check(op, ctx, fut.exception() or fut.result())

    def check(self, op, ctx, out) -> None:
        """Count one attempted op, check its output (or its exception), then
        run its after-hook."""
        self.attempted += 1
        if isinstance(out, Exception):
            problems = [f"{op.name} raised: " + "".join(traceback.format_exception(out))]
        else:
            try:
                problems = op.check(out)
            except Exception:  # noqa: BLE001 — a check that cannot read the output fails it
                problems = [f"{op.name} output unreadable:\n{traceback.format_exc()}"]
        if op.after is not None:
            op.after(ctx)
        if problems:
            self.failed += 1
            self.problems.extend(problems)

    def run_for(self, ops, ctx, seconds: float, on_op=None) -> None:
        start = time.perf_counter()
        while not self.passes or time.perf_counter() - start < seconds:
            self.run_pass(ops, ctx, on_op)

    def wall_s(self) -> float:
        return statistics.median(sum(p) for p in self.passes)

    def op_p50_s(self) -> float:
        return statistics.median(d for p in self.passes for d in p)

    def samples(self) -> int:
        return sum(len(p) for p in self.passes)


def traced_metrics(ctx, traced: Phase, op_stats: list, sink_bytes: dict) -> dict:
    """Per-pass per-layer metrics from the traced phase."""
    tr = ctx.tracer
    spans = tr.spans
    n = len(traced.passes)
    m = {name: 0.0 for name in per_layer_units()}

    def busy(name: str) -> float:
        return tr.busy(name, spans) / n

    for name in ("recipe.load", "runner.validate", "sources.extract", "operators.profile"):
        m[f"{name}_s"] = busy(name)
    for layer in OPERATOR_LAYERS:
        m[f"operators.{layer}_s"] = busy(f"operators.{layer}")
    m["streaming.busy_s"] = busy("streaming")
    m["io.busy_s"] = busy("io")
    m["operators.profile_calls"] = len(tr.named("operators.profile")) / n
    m["sources.extract_jobs"] = sum(s.jobs for s in tr.named("sources.extract")) / n
    for run in tr.named("runner.run"):
        kids = tr.children(run)
        m["runner.self_s"] += tracing.self_time(run, kids) / n
        m["runner.self_jobs"] += (run.jobs - sum(k.jobs for k in kids)) / n
    for p in wl.PROCESSORS:
        m[f"processors.{p}.build_s"] = busy(f"processors.{p}.build")
    for s in wl.SINKS:
        m[f"sinks.{s}.write_s"] = busy(f"sinks.{s}.write")
        m[f"sinks.{s}.jobs"] = sum(x.jobs for x in tr.named(f"sinks.{s}.write")) / n
        m[f"sinks.{s}.bytes_out"] = sink_bytes.get(f"sinks.{s}", 0) / n
    for g in wl.GATES:
        for part in ("build", "collect"):
            m[f"gates.{g}.{part}_s"] = busy(f"gates.{g}.{part}")
            m[f"gates.{g}.{part}_jobs"] = sum(x.jobs for x in tr.named(f"gates.{g}.{part}")) / n
    recipe_leaks = [v for k, v in ctx.leaks.items() if k not in wl.GATES]
    m["runner.cached_rdds_left"] = max(recipe_leaks, default=0)
    for name, stats in op_stats:
        for key in ("stages", "tasks", "executor_run_s", "shuffle_write_bytes", "spill_bytes"):
            m[f"spark.{key}"] += stats[key] / n
        m["spark.jobs"] += stats["jobs"] / n
        for phase in ("analysis", "optimization", "planning"):
            m[f"plan.{phase}_s"] += stats[phase] / n
        if name in wl.GATES:
            m[f"gates.{name}.plan_s"] += stats["plan_s"] / n
            m[f"gates.{name}.cached_rdds_left"] = ctx.leaks.get(name, 0)
    return m


def run_traced(ops, ctx, counters: SparkCounters, seconds: float, untraced: Phase, traced: Phase) -> dict:
    """Run pairs of one untraced and one traced pass for `seconds` (at least
    one pair). Per-layer metrics come from the traced
    passes; their wall time over the untraced passes' is the tracing overhead."""
    sink_bytes: dict = {}
    op_stats: list = []
    marks: list = []

    def on_op(op):
        counters.settle()
        marks.append(counters.marks())
        (j0, s0), (j1, s1) = marks[-2], marks[-1]
        stats = counters.stages(s0, s1)
        stats["jobs"] = j1 - j0
        events = counters.take_events()
        for phase in ("analysis", "optimization", "planning"):
            stats[phase] = sum(e.get(phase, 0.0) for e in events)
        stats["plan_s"] = stats["analysis"] + stats["optimization"] + stats["planning"]
        op_stats.append((op.name, stats))

    def traced_pass():
        tracing.install_layers(ctx.tracer, sink_bytes)
        counters.take_events()
        marks.append(counters.marks())
        traced.run_pass(ops, ctx, on_op)
        ctx.tracer.uninstall()

    start = time.perf_counter()
    while not traced.passes or time.perf_counter() - start < seconds:
        # alternate which side runs first, so JVM warming favours neither
        pair = [lambda: untraced.run_pass(ops, ctx), traced_pass]
        for run_pass in pair if len(traced.passes) % 2 == 0 else reversed(pair):
            run_pass()
    per_layer = traced_metrics(ctx, traced, op_stats, sink_bytes)
    per_layer["trace.overhead_ratio"] = traced.wall_s() / untraced.wall_s()
    return per_layer


# ------------------------------------------------------------------ main


def run_workload(name: str, seed: int, seconds: float, trace: bool) -> dict:
    configure_environment()
    ops = wl.WORKLOADS[name](seed, WORK)  # inputs: generated once per seed, untimed

    t_setup = time.perf_counter()
    import meteor_spark.processors  # noqa: F401 — registers the plugins recipes name
    import meteor_spark.sinks  # noqa: F401
    import meteor_spark.sources  # noqa: F401
    from meteor_spark.runner.agent import Agent
    from meteor_spark.session import get_spark

    spark = get_spark(f"perfbench-{name}")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t_setup
    try:
        counters = SparkCounters(spark) if trace else None
        tracer = tracing.Tracer(f"{name}-{seed}", counters.marks if counters else None)
        ctx = wl.Ctx(spark, Agent(spark), tracer)
        t_warm = time.perf_counter()
        warm = Phase()
        warm.run_concurrent(ops, ctx, len(os.sched_getaffinity(0)))
        setup_s = session_s + time.perf_counter() - t_warm

        calib_start = calibrate(spark)
        timed = Phase()
        per_layer = {}
        if trace:
            traced = Phase()
            per_layer = run_traced(ops, ctx, counters, seconds, timed, traced)
            per_layer["session.start_s"] = session_s
            write_trace(name, seed, tracer, per_layer)
            phases = [warm, timed, traced]
        else:
            timed.run_for(ops, ctx, seconds)
            phases = [warm, timed]
        metrics = {"setup_s": setup_s, "wall_s": timed.wall_s()}
        calib_end = calibrate(spark)
        per_layer["host.calib_py_s"] = (calib_start[0] + calib_end[0]) / 2
        per_layer["host.calib_jvm_s"] = (calib_start[1] + calib_end[1]) / 2
        peak_rss_mb = vm_hwm_mb(jvm_pid()) + vm_hwm_mb("self")
    finally:
        stop_spark(spark)

    attempted = sum(p.attempted for p in phases)
    failed = sum(p.failed for p in phases)
    for problem in [q for p in phases for q in p.problems][:20]:
        print(f"CHECK FAILED: {problem}", file=sys.stderr)
    info = {
        "fail_ratio": failed / attempted,
        "samples": timed.samples(),
        "op_p50_s": timed.op_p50_s(),
        "passes": len(timed.passes),
        "host.calib_py_s": per_layer["host.calib_py_s"],
        "host.calib_jvm_s": per_layer["host.calib_jvm_s"],
        "peak_rss_mb": peak_rss_mb,
        "op_times": [[op.name, round(d, 4)] for op, d in zip(ops * len(timed.passes), [d for p in timed.passes for d in p])],
    }
    if trace:
        units = per_layer_units()
        out_metrics = {k: {"value": per_layer[k], "unit": units[k]} for k in units}
    else:
        out_metrics = {k: {"value": metrics[k], "unit": u} for k, u in END_TO_END.items()}
    return {
        "result": {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": out_metrics},
        "info": info,
    }


def write_trace(name: str, seed: int, tracer, per_layer: dict) -> None:
    """Write the traced run's spans and per-layer metrics once, at its end."""
    path = os.path.join(WORK, "traces", f"{name}-seed{seed}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    spans = [
        {"name": s.name, "start": s.start, "end": s.end, "parent": s.parent, "run_id": s.run_id, "id": s.sid}
        for s in tracer.spans
    ]
    with open(path, "w") as f:
        json.dump({"workload": name, "seed": seed, "per_layer": per_layer, "spans": spans}, f)


def print_table(name: str, result: dict, info: dict) -> None:
    print(f"== {name}: correct={result['correct']} attempted={result['attempted']} failed={result['failed']}")
    print(f"   fail_ratio = {info['fail_ratio']:.4f} (failed / attempted)")
    print(f"   op_p50_s = {info['op_p50_s']:.6g} s, median over {info['samples']} ops in {info['passes']} timed passes")
    for k, v in result["metrics"].items():
        print(f"   {k} = {v['value']:.6g} {v['unit']}")
    print(f"   host.calib_py_s = {info['host.calib_py_s']:.4f} s, host.calib_jvm_s = {info['host.calib_jvm_s']:.4f} s")
    print(f"   peak_rss_mb = {info['peak_rss_mb']:.1f} MB (JVM + Python VmHWM; informational, it does not repeat within a tenth)")
    print("   timed ops: " + " ".join(f"{n}={d}" for n, d in info["op_times"]))


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*wl.WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if importlib.util.find_spec("meteor_spark") is None:
        print("meteor_spark is not importable from the checkout root", file=sys.stderr)
        return 2
    if args.workload == "all":  # one fresh process per workload
        results = {}
        for name in wl.WORKLOADS:
            cmd = [sys.executable, __file__, "--workload", name, "--seed", str(args.seed),
                   "--seconds", str(args.seconds), "--trace", str(args.trace)]
            proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True, check=False)
            lines = proc.stdout.strip().splitlines()
            print("\n".join(lines[:-1]))
            if proc.returncode != 0 or not lines:
                return proc.returncode or 1
            results[name] = json.loads(lines[-1])
        print(json.dumps(results))
        return 0
    out = run_workload(args.workload, args.seed, args.seconds, bool(args.trace))
    print_table(args.workload, out["result"], out["info"])
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
