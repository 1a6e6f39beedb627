"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload scan_point --seed 1 --seconds 20 --trace 0

Run from the root of a checkout. ``--trace 0`` prints the end-to-end
metrics of BENCHMARK.json, ``--trace 1`` the per-layer ones. Exits 1
when an output check failed, 2 when the engine is not beside this
directory. Everything the run writes goes under ``.perfbench/`` in the
checkout; the per-run directory is removed at the end, the span file of
a traced run is kept in ``.perfbench/traces/``.
"""

from __future__ import annotations

import argparse
import collections
import json
import os
import shutil
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# import the benchmark as the package ``perfbench``, not its files as
# top-level modules
sys.path[0] = ROOT

# Pinned run environment. local[2] leaves the box's other cores to the
# Python driver thread, the JVM's GC and JIT threads and the Python
# workers; the inputs are small, so more executor threads only add
# scheduling jitter. 2g fits any machine this runs on, where the
# session's 16g default does not.
SPARK_CPUS = min(2, os.cpu_count() or 1)
DRIVER_MEM = "2g"
SETUP_REPS = 3
REPEAT_WINDOW = 256  # the engine's reader memo holds this many file sets
TAIL_BEYOND = 10


def pin_env(run_dir: str) -> dict:
    tmp = f"{run_dir}/tmp"
    os.makedirs(tmp)
    env = {
        "SPARK_GRAFT_CPUS": str(SPARK_CPUS),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        # Spark's Python workers import the engine's UDF modules
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": f"{run_dir}/spark-local",
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    os.environ.update(env)
    return env


def tail(values: list[float]) -> tuple[float, float]:
    """Latency at the highest percentile with TAIL_BEYOND samples above
    it (the upper median when the sample is too small), and that
    percentile."""
    s = sorted(values)
    idx = max(len(s) - TAIL_BEYOND - 1, len(s) // 2)
    return s[idx], 100.0 * (idx + 1) / len(s)


def cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_pct(before: list[int], after: list[int]) -> float:
    d = [a - b for a, b in zip(after, before)]
    busy = sum(d) - d[3] - d[4]  # minus idle and iowait
    return 100.0 * d[7] / busy if busy else 0.0


def start_session(name: str):
    from icegopher_spark.session import get_spark

    return get_spark(f"perfbench-{name}", cpus=str(SPARK_CPUS))


def stop_jvm() -> None:
    """Stop the active session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


class Runner:
    def __init__(self, args, w, spark) -> None:
        from perfbench.spans import NULL_TRACER, SparkStages, Tracer

        self.args, self.w = args, w
        self.null = NULL_TRACER
        self.stages = SparkStages(spark) if args.trace else None
        self.tracer = Tracer(self.stages) if args.trace else None
        self.attempted = self.failed = 0
        self.lat: list[float] = []  # untraced timed ops
        self.lat_traced: list[float] = []
        self.layers: list[dict] = []  # per traced op
        self.window: collections.deque = collections.deque(maxlen=REPEAT_WINDOW)
        self.scans = self.repeats = 0

    def op(self, i: int, traced: bool, timed: bool) -> None:
        w, tr = self.w, self.tracer if traced else self.null
        if traced:
            tr.op = i
        inp = w.prepare(i)
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            out = w.run_op(i, inp, tr)
            ms = 1e3 * (time.perf_counter() - t0)
            ok = w.check(i, out)
        except Exception:
            traceback.print_exc()
            ok = False
        w.after_op(i)
        if not ok:
            print(f"# op {i}: failed or wrong output", file=sys.stderr)
            self.failed += 1
            return
        if "tasks" in out:
            # the window holds warm-up ops too, as the engine's memo does
            files = frozenset(t.file.file_path for t in out["tasks"])
            if timed:
                self.scans += 1
                self.repeats += files in self.window
            self.window.append(files)
        if not timed:
            return
        (self.lat_traced if traced else self.lat).append(ms)
        if traced:
            self.layers.append(self.trace_layers(i, out))

    def trace_layers(self, i: int, out: dict) -> dict:
        spans = self.tracer.op_spans(i)
        layers = {f"{name}_ms": ms for name, ms in spans.items()}
        layers.update(self.w.trace_op(i, out, spans))
        totals: collections.Counter = collections.Counter()
        for name in spans:
            g = self.stages.group_metrics(self.tracer.group(i, name))
            totals.update(g)
            if name == "dedup.eager":
                layers["dedup.eager_jobs"] = g["jobs"]
        layers.update({f"spark.{k}": v for k, v in totals.items()})
        return layers

    def loop(self) -> float:
        w = self.w
        for i in range(w.warmup_ops):
            self.op(i, traced=False, timed=False)
        i = w.warmup_ops
        t_start = time.perf_counter()
        while (
            time.perf_counter() - t_start < self.args.seconds
            or i - w.warmup_ops < w.min_timed_ops
            or (i - w.warmup_ops) % w.cycle
        ):
            # the traced run alternates traced and untraced op-kind
            # cycles, so the two medians give the tracing overhead on the
            # same op mix under one load
            traced = bool(self.args.trace) and (i - w.warmup_ops) // w.cycle % 2 == 1
            self.op(i, traced, timed=True)
            i += 1
        return time.perf_counter() - t_start

    def per_layer(self, spec: dict) -> dict:
        """Median over traced ops of each per-layer value; 0 for a layer
        the workload never calls."""
        from pyspark import SparkContext

        from perfbench.spans import vm_hwm_mb

        out = {}
        for m in spec["per_layer"]:
            vals = [layers[m["name"]] for layers in self.layers if m["name"] in layers]
            out[m["name"]] = statistics.median(vals) if vals else 0.0
        out["table.repeat_share"] = self.repeats / self.scans if self.scans else 0.0
        untraced, traced = statistics.median(self.lat), statistics.median(self.lat_traced)
        out["trace.untraced_op_p50_ms"] = untraced
        out["trace.traced_op_p50_ms"] = traced
        out["trace.overhead_pct"] = 100.0 * (traced / untraced - 1.0)
        out["spark.jvm_hwm_mb"] = vm_hwm_mb(SparkContext._gateway.proc.pid)
        return out


def run(args, spec: dict, run_dir: str) -> int:
    info: dict = {"env": pin_env(run_dir), "spark_cpus": SPARK_CPUS}
    from perfbench.spans import vm_hwm_mb
    from perfbench.workloads import WORKLOADS

    cls = WORKLOADS[args.workload]
    try:
        # set-up: session start plus fixtures, SETUP_REPS times, each
        # from a fresh SparkContext and directory; the first one also
        # launches the JVM
        setup_times = []
        w = spark = None
        for r in range(SETUP_REPS):
            if spark is not None:
                spark.stop()
                shutil.rmtree(w.root)
            t0 = time.perf_counter()
            spark = start_session(args.workload)
            w = cls(args.seed)
            w.build(spark, f"{run_dir}/fixture{r}")
            setup_times.append(time.perf_counter() - t0)
        info["setup_times_s"] = setup_times

        runner = Runner(args, w, spark)
        steal0 = cpu_ticks()
        info["measured_s"] = runner.loop()
        # CPU time the hypervisor gave to other guests while this run
        # was busy: the weather the timings were taken in
        info["steal_pct"] = steal_pct(steal0, cpu_ticks())
        lat = runner.lat
        if not lat:
            print("# no timed op succeeded", file=sys.stderr)
            return 1
        # warm-up is over when the two halves of the timed ops agree; the
        # halves are whole op-kind cycles, so they hold the same mix
        half = len(lat) // (2 * w.cycle) * w.cycle or len(lat) // 2
        if half:
            info["halves_p50_ms"] = [statistics.median(lat[:half]), statistics.median(lat[half : 2 * half])]
        tail_ms, tail_pct = tail(lat)
        info.update(timed_ops=len(lat), tail_percentile=tail_pct)
        if args.trace:
            metrics = runner.per_layer(spec)
            wanted = spec["per_layer"]
            os.makedirs(f"{ROOT}/.perfbench/traces", exist_ok=True)
            runner.tracer.dump(
                f"{ROOT}/.perfbench/traces/{args.workload}-seed{args.seed}.json",
                {"workload": args.workload, "seed": args.seed, "info": info, "layers": runner.layers},
            )
        else:
            metrics = {
                "setup_s": statistics.median(setup_times),
                "op_p50_ms": statistics.median(lat),
                "op_tail_ms": tail_ms,
                "peak_rss_mb": vm_hwm_mb(),
                "space_amp": w.space_amp(),
            }
            wanted = spec["end_to_end"]
    finally:
        stop_jvm()

    for k, v in info.items():
        print(f"# {k}: {json.dumps(v)}")
    result = {
        "correct": runner.failed == 0,
        "attempted": runner.attempted,
        "failed": runner.failed,
        "metrics": {m["name"]: {"value": float(metrics[m["name"]]), "unit": m["unit"]} for m in wanted},
    }
    print(json.dumps(result))
    return 0 if runner.failed == 0 else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(f"{ROOT}/icegopher_spark"):
        print(f"no engine package beside perfbench/ under {ROOT}", file=sys.stderr)
        return 2
    with open(f"{ROOT}/BENCHMARK.json") as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    run_dir = f"{ROOT}/.perfbench/run-{args.workload}-{args.seed}-{os.getpid()}"
    os.makedirs(run_dir)
    try:
        return run(args, spec, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
