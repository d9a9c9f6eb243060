"""Closed-loop benchmark runner for elusion_spark.

Usage, from the repository root::

    python3 perfbench/run.py --workload relational --seed 1 --seconds 10 --trace 0

One process, one fresh Spark session at ``local[<cores / 2>]``, one client:
each operation starts only after the previous one has finished.  The run

1. generates (or reuses) the seed's inputs under ``.perfbench/inputs``;
2. starts the session and runs two untimed warm passes, the first of which
   checks every operation's output (DuckDB oracles, generator totals);
3. runs timed passes until ``--seconds`` have elapsed, and at least three,
   each pass in a seed-shuffled order.

With ``--trace 0`` it prints the end-to-end metrics; with ``--trace 1`` it
alternates untraced and traced passes and prints the per-layer metrics, the
tracing overhead, and writes the spans to ``.perfbench/traces``.  The last
line of standard output is one JSON object.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass, field

import measure
import spans
import workloads as W

# Spark's task slots: half the cores the process may run on.  The JVM's JIT
# and GC threads, the Python workers and the driver need the rest; a run
# with more busy threads than cores times the host's scheduler.
SPARK_CORES = max(1, len(os.sched_getaffinity(0)) // 2)

# The JVM heap, fixed from the start so that the heap's growth does not vary
# the GC work and the footprint from run to run.
DRIVER_MEMORY = "2g"

# Untimed passes before timing (the first checks every output), and the
# fewest timed passes a run makes however slow the host: the JVM is still
# compiling over the first passes, so a fixed count keeps every run's median
# at the same point of that warming.
WARM_PASSES = 2
MIN_TIMED_PASSES = 3

# The layer metrics of the traced run, per pass.
LAYER_METRICS = [
    ("sources.load_s", "s"), ("sources.jobs", "count"),
    ("dataframe.assemble_s", "s"), ("operators.build_s", "s"),
    ("cache.hit_ratio", "ratio"), ("cache.hit_s", "s"), ("cache.miss_s", "s"),
    ("sinks.write_s", "s"), ("sinks.output_mb", "MiB"), ("sinks.files", "count"),
    ("spark.jobs", "count"), ("spark.stages", "count"), ("spark.tasks", "count"),
    ("spark.failed_tasks", "count"), ("spark.executor_run_s", "s"),
    ("spark.executor_cpu_s", "CPU-s"), ("spark.gc_s", "s"),
    ("spark.shuffle_write_mb", "MiB"), ("spark.shuffle_read_mb", "MiB"),
    ("spark.input_mb", "MiB"), ("spark.spill_mb", "MiB"), ("spark.plan_s", "s"),
    ("spark.core_util", "ratio"), ("spark.driver_cpu_s", "CPU-s"),
    ("python_worker.cpu_s", "CPU-s"), ("trace.overhead_ratio", "ratio"),
]


def op_metric_names() -> list[str]:
    names = sorted({n for wl in W.WORKLOADS.values() for n in wl.op_names()})
    return [f"op.{n}.{phase}" for n in names for phase in ("build_s", "exec_s")]


def per_layer_names() -> list[str]:
    return [n for n, _ in LAYER_METRICS] + op_metric_names()


@dataclass
class OpRecord:
    name: str
    build_s: float
    exec_s: float
    error: str | None
    layer: dict = field(default_factory=dict)   # traced passes only

    @property
    def wall_s(self) -> float:
        return self.build_s + self.exec_s


@dataclass
class PassRecord:
    wall_s: float
    cpu: dict
    ops: list[OpRecord]
    traced: bool


class Runner:
    def __init__(self, workload: W.Workload, ctx: W.Ctx, seed: int):
        self.wl, self.ctx, self.seed = workload, ctx, seed
        self.sc = ctx.spark.sparkContext
        self.cores = self.sc.defaultParallelism
        self.pid = os.getpid()
        self.tracer = spans.Tracer()
        self.targets = spans.layer_targets()
        self.peak_rss_mb = 0.0
        self.op_jobs: list[dict] = []     # per traced op, for the trace file

    # -- one operation -----------------------------------------------------
    def _run(self, op: W.Op, check: bool) -> tuple[float, float, str | None]:
        t0 = time.perf_counter()
        t1 = None
        try:
            df = op.build(self.ctx)
            t1 = time.perf_counter()
            err = op.execute(self.ctx, df, check)
        except Exception as e:  # an operation failing is a result, not a crash
            err = _describe(e)
        t2 = time.perf_counter()
        t1 = t2 if t1 is None else t1
        if err:
            print(f"perfbench: {op.name} FAILED: {err}", file=sys.stderr)
        return t1 - t0, t2 - t1, err

    def _run_traced(self, op: W.Op, tag: str) -> OpRecord:
        from elusion_spark.cache import cache_stats

        tr, sc = self.tracer, self.sc
        sc.setJobGroup(tag, op.name)
        tr.trace_id = tag
        tr.count_jobs = lambda: measure.count_group_jobs(sc, tag)
        first_span = len(tr.spans)
        cpu0 = measure.tree_cpu(measure.read_proc_table(self.pid), self.pid)
        cache0 = cache_stats()
        t0 = time.perf_counter()
        df, err, plan_s, t1 = None, None, 0.0, None
        with tr.span(op.name, "op"):
            try:
                with tr.span("build", "build"):
                    df = op.build(self.ctx)
                t1 = time.perf_counter()
                if hasattr(df, "_jdf"):
                    with tr.span("plan", "spark") as ps:
                        df._jdf.queryExecution().executedPlan()
                    plan_s = ps.end - ps.start
                with tr.span("execute", "execute"):
                    err = op.execute(self.ctx, df, False)
            except Exception as e:
                err = _describe(e)
        t2 = time.perf_counter()
        t1 = t2 if t1 is None else t1
        cpu1 = measure.tree_cpu(measure.read_proc_table(self.pid), self.pid)
        cache1 = cache_stats()
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        jobs, stages = measure.read_group(sc, tag)
        totals = measure.aggregate_stages(jobs, stages)
        op_spans = tr.spans[first_span:]
        sink_spans = [s for s in op_spans if s.layer == "sinks"]
        layer = {
            "sources.load_s": spans.layer_time(op_spans, "sources"),
            "sources.jobs": sum(s.attrs.get("jobs", 0) for s in op_spans),
            "dataframe.assemble_s": spans.layer_time(op_spans, "dataframe"),
            "operators.build_s": spans.layer_time(op_spans, "operators"),
            "cache.hits": cache1["hits"] - cache0["hits"],
            "cache.misses": cache1["misses"] - cache0["misses"],
            "sinks.write_s": spans.layer_time(op_spans, "sinks"),
            "sinks.output_mb": sum(s.attrs.get("bytes", 0) for s in sink_spans) / 2**20,
            "sinks.files": sum(s.attrs.get("files", 0) for s in sink_spans),
            "spark.plan_s": plan_s,
            "jvm_cpu_s": cpu1["jvm"] - cpu0["jvm"],
            "python_worker.cpu_s": cpu1["python_worker"] - cpu0["python_worker"],
            **{f"spark.{k}": v for k, v in totals.items()},
        }
        self.op_jobs.append({"tag": tag, "op": op.name, "jobs": len(jobs),
                             "stages": len(stages), "error": err})
        if err:
            print(f"perfbench: {op.name} FAILED: {err}", file=sys.stderr)
        return OpRecord(op.name, t1 - t0, t2 - t1, err, layer)

    # -- one pass ----------------------------------------------------------
    def run_pass(self, pass_no: int, check: bool = False,
                 traced: bool = False) -> PassRecord:
        W.start_pass(self.ctx)
        ops = self.wl.pass_ops(self.seed, pass_no)
        cpu0 = measure.tree_cpu(measure.read_proc_table(self.pid), self.pid)
        t0 = time.perf_counter()
        records = []
        if traced:
            with spans.Installed(self.tracer, self.targets, _sink_output):
                for i, op in enumerate(ops):
                    records.append(self._run_traced(op, f"perfbench-{pass_no}-{i}-{op.name}"))
        else:
            for op in ops:
                records.append(OpRecord(op.name, *self._run(op, check)))
        wall = time.perf_counter() - t0
        table = measure.read_proc_table(self.pid, with_memory=True)
        cpu1 = measure.tree_cpu(table, self.pid)
        rss_mb = measure.tree_rss_mb(table, self.pid)
        self.peak_rss_mb = max(self.peak_rss_mb, rss_mb)
        cpu = {k: cpu1[k] - cpu0[k] for k in cpu1}
        print(f"perfbench: pass {pass_no}{' traced' if traced else ''} "
              f"{wall:.2f} s, {rss_mb:.0f} MiB, {sum(cpu.values()):.1f} CPU-s ("
              + ", ".join(f"{k} {v:.1f}" for k, v in cpu.items()) + "): " + " ".join(
                  f"{r.name}={r.build_s:.2f}+{r.exec_s:.2f}" for r in records),
              file=sys.stderr)
        return PassRecord(wall, cpu, records, traced)


def _describe(e: Exception) -> str:
    traceback.print_exc(file=sys.stderr)
    first = str(e).splitlines()[0] if str(e) else ""
    return f"{type(e).__name__}: {first}"


def _sink_output(span, args, kwargs) -> None:
    """Count the files a writer call left under its target path."""
    path = kwargs.get("path", args[2] if len(args) > 2 else None)
    if not isinstance(path, str) or not os.path.exists(path):
        return
    paths = [path] if os.path.isfile(path) else [
        os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs]
    n = size = 0
    for p in paths:
        st = os.stat(p)
        if st.st_mtime >= span.attrs["t_wall"] - 1.0:
            n += 1
            size += st.st_size
    span.attrs["files"], span.attrs["bytes"] = n, size


# ------------------------------------------------------------- reporting

def end_to_end(passes: list[PassRecord], setup_s: float,
               peak_rss_mb: float) -> dict[str, tuple[float, str, int]]:
    """The gated end-to-end metrics: ``name -> (value, unit, samples)``."""
    walls = [p.wall_s for p in passes]
    ops = [o.wall_s for p in passes for o in p.ops]
    cpus = [sum(p.cpu.values()) for p in passes]
    return {
        "pass_s": (measure.median(walls), "s", len(walls)),
        "op_s.p50": (measure.median(ops), "s", len(ops)),
        "cpu_s": (measure.median(cpus), "CPU-s", len(cpus)),
        "setup_s": (setup_s, "s", 1),
        "peak_rss_mb": (peak_rss_mb, "MiB", len(passes) + 1),
    }


def op_tail(passes: list[PassRecord]) -> tuple[float, str]:
    """``op_s.p90`` with its support.  It is printed, not gated: a run that
    fits the time budget has fewer than 100 operations, so fewer than ten
    samples lie beyond the 90th percentile."""
    ops = [o.wall_s for p in passes for o in p.ops]
    beyond = measure.samples_beyond(len(ops), 90)
    note = f"n={len(ops)}, {beyond} beyond"
    if not measure.tail_is_supported(len(ops), 90):
        note += f"; not gated, fewer than {measure.MIN_TAIL_SAMPLES} beyond"
    return measure.percentile(ops, 90), note


def per_layer(traced: list[PassRecord], untraced: list[PassRecord],
              cores: int) -> dict:
    def pass_value(p: PassRecord, key: str) -> float:
        return sum(o.layer.get(key, 0.0) for o in p.ops)

    per_pass: dict[str, list[float]] = {n: [] for n, _ in LAYER_METRICS}
    for p in traced:
        for name, _ in LAYER_METRICS:
            if name in ("cache.hit_ratio", "cache.hit_s", "cache.miss_s",
                        "spark.core_util", "spark.driver_cpu_s",
                        "trace.overhead_ratio"):
                continue
            per_pass[name].append(pass_value(p, name))
        hits, misses = pass_value(p, "cache.hits"), pass_value(p, "cache.misses")
        per_pass["cache.hit_ratio"].append(hits / (hits + misses) if hits + misses else 0.0)
        hit_s = [o.wall_s for o in p.ops if o.layer.get("cache.hits")]
        miss_s = [o.wall_s for o in p.ops if o.layer.get("cache.misses")]
        per_pass["cache.hit_s"].append(measure.median(hit_s) if hit_s else 0.0)
        per_pass["cache.miss_s"].append(measure.median(miss_s) if miss_s else 0.0)
        exec_wall = sum(o.exec_s for o in p.ops)
        per_pass["spark.core_util"].append(
            pass_value(p, "spark.executor_run_s") / (exec_wall * cores))
        per_pass["spark.driver_cpu_s"].append(
            pass_value(p, "jvm_cpu_s") - pass_value(p, "spark.executor_cpu_s"))
    out = {name: (measure.median(per_pass[name]), unit)
           for name, unit in LAYER_METRICS if name != "trace.overhead_ratio"}
    out["trace.overhead_ratio"] = (
        measure.median([p.wall_s for p in traced])
        / measure.median([p.wall_s for p in untraced]), "ratio")
    samples: dict[str, list[tuple[float, float]]] = {}
    for p in traced:
        for o in p.ops:
            samples.setdefault(o.name, []).append((o.build_s, o.exec_s))
    for name in op_metric_names():
        op, phase = name[3:].rsplit(".", 1)
        vals = [b if phase == "build_s" else e for b, e in samples.get(op, [])]
        out[name] = (measure.median(vals) if vals else 0.0, "s")
    return out


def write_trace(path: str, runner: Runner, passes: list[PassRecord]) -> None:
    selfs = spans.self_times(runner.tracer.spans)
    doc = {
        "spans": [{"id": s.span_id, "parent": s.parent, "trace_id": s.trace_id,
                   "name": s.name, "layer": s.layer, "start": s.start,
                   "end": s.end, "self_s": selfs[s.span_id],
                   "attrs": {k: v for k, v in s.attrs.items() if k != "t_wall"}}
                  for s in runner.tracer.spans],
        "op_jobs": runner.op_jobs,
        "passes": [{"traced": p.traced, "wall_s": p.wall_s, "cpu": p.cpu,
                    "ops": [{"name": o.name, "build_s": o.build_s,
                             "exec_s": o.exec_s, "error": o.error, **o.layer}
                            for o in p.ops]} for p in passes],
    }
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(doc, fh)


# -------------------------------------------------------------------- main

def _configure_environment(root: str, work: str) -> None:
    """Everything the run writes stays under ``work``; the Python workers
    get the repository on their import path, the way the test suite does
    from the repository root."""
    tmp = os.path.join(work, f"tmp-{os.getpid()}")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["SPARK_GRAFT_CPUS"] = str(SPARK_CORES)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    sys.path.insert(0, root)


def _stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(W.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds <= 0:
        ap.error("--seconds must be positive")

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "elusion_spark", "__init__.py")):
        print("perfbench: elusion_spark/ not found; run from the repository root",
              file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench")
    _configure_environment(root, work)

    import gen

    t0 = time.perf_counter()
    data, manifest = gen.ensure_inputs(os.path.join(work, "inputs"), args.seed)
    generate_s = time.perf_counter() - t0
    print(f"perfbench: inputs {data} ready in {generate_s:.2f} s "
          f"(generated in {manifest['generate_s']:.2f} s)", file=sys.stderr)

    from elusion_spark.session import _DEFAULTS as SESSION_DEFAULTS
    from elusion_spark.session import get_spark
    from elusion_spark.suite import ORACLES

    workload = W.WORKLOADS[args.workload]
    ctx = W.Ctx(None, data, manifest["totals"],
                os.path.join(work, f"out-{os.getpid()}"))
    # in the warm pass's order, so its first check waits the least
    ctx.prefetch_oracles(list(dict.fromkeys(
        op.name for op in workload.pass_ops(args.seed, 0) if op.name in ORACLES)))
    java_opts = (f"{SESSION_DEFAULTS['spark.driver.extraJavaOptions']} "
                 f"-Xms{DRIVER_MEMORY} -XX:ParallelGCThreads={SPARK_CORES} "
                 "-XX:ConcGCThreads=1")
    try:
        spark = get_spark("perfbench", extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": java_opts})
    except BaseException:
        ctx.close()
        raise
    ctx.spark = spark
    print(f"perfbench: session up {measure.process_age_s(os.getpid()):.2f} s "
          "after process start", file=sys.stderr)
    try:
        runner = Runner(workload, ctx, args.seed)
        # The later warm passes take the bulk of the JIT compilation the
        # first one sets off out of the timed passes.
        warm = [runner.run_pass(i, check=i == 0) for i in range(WARM_PASSES)]
        setup_s = measure.process_age_s(os.getpid()) - generate_s
        passes: list[PassRecord] = []
        deadline = time.perf_counter() + args.seconds
        pass_no = len(warm)
        # A traced run orders its passes untraced, traced, traced,
        # untraced, ... so the JVM's warming over the run does not bias the
        # overhead.
        min_passes = 4 if args.trace else MIN_TIMED_PASSES
        while time.perf_counter() < deadline or len(passes) < min_passes:
            traced = bool(args.trace) and len(passes) % 4 in (1, 2)
            passes.append(runner.run_pass(pass_no, traced=traced))
            pass_no += 1
    finally:
        ctx.close()
        _stop_spark(spark)
        shutil.rmtree(ctx.out, ignore_errors=True)
        shutil.rmtree(tempfile.gettempdir(), ignore_errors=True)

    all_ops = [o for p in warm + passes for o in p.ops]
    failed = [o for o in all_ops if o.error]
    for o in failed:
        print(f"perfbench: failed op {o.name}: {o.error}", file=sys.stderr)
    untraced = [p for p in passes if not p.traced]
    traced = [p for p in passes if p.traced]

    if args.trace:
        metrics = per_layer(traced, untraced, runner.cores)
        trace_path = os.path.join(work, "traces",
                                  f"{args.workload}-seed{args.seed}-{os.getpid()}.json")
        write_trace(trace_path, runner, warm + passes)
        print(f"perfbench: trace written to {trace_path}", file=sys.stderr)
        lines = [(n, v, u, f"{len(traced)} traced passes") for n, (v, u) in metrics.items()]
    else:
        e2e = end_to_end(untraced, setup_s, runner.peak_rss_mb)
        metrics = {n: (v, u) for n, (v, u, _) in e2e.items()}
        lines = [(n, v, u, f"n={k}") for n, (v, u, k) in e2e.items()]
        p90, note = op_tail(untraced)
        lines.append(("op_s.p90", p90, "s", note))
        lines.append(("failed_ops", len(failed) / len(all_ops), "ratio",
                      f"{len(failed)}/{len(all_ops)} ops"))
    for name, value, unit, note in lines:
        print(f"{args.workload} {name} = {value:.6g} {unit} ({note})")
    print(json.dumps({
        "correct": not failed,
        "attempted": len(all_ops),
        "failed": len(failed),
        "metrics": {n: {"value": v, "unit": u} for n, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
