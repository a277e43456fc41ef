"""whylogs_spark benchmark: one workload per process, closed loop, one client.

    python3 perfbench/run.py --workload monitor_window --seed 1 --seconds 10 --trace 0

Run from the repository root.  ``--trace 0`` prints the end-to-end
metrics; ``--trace 1`` prints the per-layer metrics (spans around the
benchmark's calls into each module, Spark counters read from the status
REST API and ``/metrics/json``, and driver-side sketch/planner
micro-benchmarks).  The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  See README.md here.
"""

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

# Warm ops each run measures at least, whatever --seconds says.  A traced
# run alternates traced and untraced ops, so it needs one of each.
MIN_WARM_OPS = {0: 1, 1: 2}

SPAN_LAYERS = [
    "core.profiler.profile", "core.profiler.to_pandas",
    "core.profiler.merge", "io.store.write", "io.store.get",
    "core.drift.scores", "core.constraints.report", "io.why1.write",
    "io.why1.read", "ops.dedup.minhash", "ops.dedup.line_dedup",
    "ops.quality.gopher"]


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def start_spark(cores: int, tmpdir: str):
    import tempfile

    from pyspark.sql import SparkSession

    # keep every temp file inside the checkout: Python (driver and the
    # workers, which inherit TMPDIR), the JVM, and Spark's local dirs;
    # -XX:-UsePerfData stops the JVMs' /tmp/hsperfdata files (the
    # spark-submit launcher JVM reads SPARK_LAUNCHER_OPTS)
    os.environ["TMPDIR"] = tempfile.tempdir = tmpdir
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    retain = "1000000"
    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("whylogs-spark-perfbench")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", "2g")
        .config("spark.driver.extraJavaOptions",
                f"-Djava.io.tmpdir={tmpdir} -XX:-UsePerfData")
        .config("spark.local.dir", os.path.join(tmpdir, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(tmpdir, "warehouse"))
        # Python workers import whylogs_spark from this checkout
        .config("spark.executorEnv.PYTHONPATH", ROOT)
        # setup pulls whole inputs to pandas for the exact expected values
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", "0")
        .config("spark.ui.showConsoleProgress", "false")
        # retention above any run's job count: counters must not drop jobs
        .config("spark.ui.retainedJobs", retain)
        .config("spark.ui.retainedStages", retain)
        .config("spark.sql.ui.retainedExecutions", retain)
        .config("spark.metrics.appStatusSource.enabled", "true")
        .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers)."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        proc.wait(timeout=120)


def vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def host_calibration_s() -> float:
    """Fixed pure-Python CPU loop, so records from different hosts can be
    read side by side."""
    times = []
    for _ in range(3):
        t = time.perf_counter()
        acc = 0
        for i in range(2_000_000):
            acc += i * i
        times.append(time.perf_counter() - t)
    return statistics.median(times)


def layer_microbench(spark, seed: int) -> dict:
    """Driver-side sketch and planner costs at the default config."""
    import numpy as np
    from pyspark.sql import types as T

    from whylogs_spark.core.configs import DEFAULT_CONFIG as cfg
    from whylogs_spark.core.planner import plan_dataframe
    from whylogs_spark.core.sketches import FrequentStringsSketch, KllSketch
    from whylogs_spark.core.wide import plan_wide_sketches

    def med_time(fn, reps=3):
        out = []
        for _ in range(reps):
            t = time.perf_counter()
            fn()
            out.append(time.perf_counter() - t)
        return statistics.median(out)

    rng = np.random.default_rng(seed)
    values = rng.standard_normal(200_000)
    words = [f"w{x}" for x in rng.zipf(1.3, 100_000) % 10_000]

    def kll_fill():
        sk = KllSketch(cfg.effective_kll_k)
        for chunk in np.array_split(values, 4):
            sk.update_batch(chunk)
        return sk

    def fi_fill():
        FrequentStringsSketch(cfg.fi_capacity,
                              cfg.max_frequent_item_size).update_batch(words)

    blob = kll_fill().serialize()
    pairs = [(KllSketch.deserialize(blob), KllSketch.deserialize(blob))
             for _ in range(3)]
    merges = []
    for a, b in pairs:
        t = time.perf_counter()
        a.merge(b)
        merges.append(time.perf_counter() - t)

    from workloads import LINEITEM_COLUMNS, lineitem

    li_schema = lineitem(spark, seed, 1).schema
    wide_schema = T.StructType(
        [T.StructField(f"w{i}", T.DoubleType()) for i in range(380)]
        + [T.StructField(f"ws{i}", T.StringType()) for i in range(20)])
    # plan_dataframe memoizes per (schema, column selection, ...): each
    # rotation of the column list is a selection not planned before
    rotations = iter(range(len(LINEITEM_COLUMNS)))

    def plan_uncached():
        k = next(rotations)
        plan_dataframe(li_schema, LINEITEM_COLUMNS[k:] + LINEITEM_COLUMNS[:k],
                       [], cfg)

    return {
        "core.sketches.kll_update_ns_per_value":
            med_time(kll_fill) / len(values) * 1e9,
        "core.sketches.fi_update_ns_per_value":
            med_time(fi_fill) / len(words) * 1e9,
        "core.sketches.kll_merge_ms": statistics.median(merges) * 1e3,
        "core.sketches.kll_bytes": float(len(blob)),
        "core.planner.plan_s": med_time(plan_uncached),
        "core.wide.plan_s": med_time(
            lambda: plan_wide_sketches(wide_schema, None, [], cfg)),
    }


def declared_metrics(trace: int) -> dict:
    """Metric name -> unit, as BENCHMARK.json declares them for the mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    key = "per_layer" if trace else "end_to_end"
    return {m["name"]: m["unit"] for m in spec[key]}


def run(args) -> int:
    # Import the library before starting Spark: without it there is
    # nothing to measure, and the run must fail fast.
    import whylogs_spark  # noqa: F401
    import workloads
    from spark_counters import SparkStatus, per_op_counters
    from spans import Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    declared = declared_metrics(args.trace)
    cores = min(4, os.cpu_count() or 1)
    tmpdir = os.path.join(ROOT, ".perfbench_tmp",
                          f"{args.workload}-{os.getpid()}")
    os.makedirs(tmpdir)
    tracer = Tracer()
    spark = None
    try:
        spark = start_spark(cores, tmpdir)
        wl = workloads.WORKLOADS[args.workload](
            spark, args.seed, cores, tmpdir, tracer)
        wl.setup()
        setup_s = time.perf_counter() - T_START
        status = SparkStatus(spark.sparkContext.uiWebUrl,
                             spark.sparkContext.applicationId)
        ops = []  # (op index, epoch start, epoch end, seconds, traced, ok)

        def one_op(i, traced):
            tracer.enabled, tracer.op_id = traced, i
            before = status.codegen_compilations() if traced else 0
            w0, t0 = time.time(), time.perf_counter()
            ok = False
            try:
                with tracer.span("op"):
                    result = wl.op(i)
                dur = time.perf_counter() - t0
                ok = wl.check(result)
            except Exception:
                dur = time.perf_counter() - t0
                traceback.print_exc()
            if traced:
                tracer.count("codegen.compilations_per_op",
                             status.codegen_compilations() - before)
            tracer.enabled = False
            if not ok:
                print(f"op {i} failed", file=sys.stderr)
            ops.append((i, w0, w0 + dur, dur, traced, ok))

        one_op(0, False)
        t_measure = time.perf_counter()
        while (time.perf_counter() - t_measure < args.seconds
               or len(ops) - 1 < MIN_WARM_OPS[args.trace]):
            # traced runs alternate traced/untraced ops for the overhead
            one_op(len(ops), args.trace == 1 and len(ops) % 2 == 1)
        warm = ops[1:]

        # counters are read only now, after the timed phase
        counters = per_op_counters(*status.snapshot(),
                                   [(o[1], o[2]) for o in warm], cores)
        failed = sum(1 for o in ops if not o[5])
        m = {
            "setup_s": setup_s,
            "cold_op_s": ops[0][3],
            "op_p50_s": statistics.median(o[3] for o in warm),
            "rows_per_s": (sum(wl.op_rows(o[0]) for o in warm)
                           / sum(o[3] for o in warm)),
            "task_s_per_op": statistics.mean(
                c["spark.executor_run_s"] for c in counters),
            "peak_rss_mb": vm_hwm_mb("self") + vm_hwm_mb(
                spark.sparkContext._jvm.java.lang.ProcessHandle
                .current().pid()),
            "error_rate": failed / len(ops),
        }
        print(f"# {args.workload}: {len(warm)} warm ops, "
              f"error_rate={m['error_rate']:.4f}")
        if args.trace:
            m.update(layer_metrics(spark, args, tracer, warm, counters))
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(tmpdir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(tmpdir))
        except OSError:
            pass
    print(json.dumps({
        "correct": failed == 0, "attempted": len(ops), "failed": failed,
        "metrics": {name: {"value": m[name], "unit": unit}
                    for name, unit in declared.items()}}))
    return 0


def layer_metrics(spark, args, tracer, warm, counters) -> dict:
    """Per-layer metrics of a traced run; medians over the traced ops."""
    traced = [k for k, o in enumerate(warm) if o[4]]
    m = {f"{name}_s": v for name, v in tracer.per_op_medians("dur").items()}
    m.update(tracer.per_op_medians("count"))
    m.update(layer_microbench(spark, args.seed))
    for name in counters[0]:
        m[name] = statistics.median(counters[k][name] for k in traced)
    m["host.calib_s"] = host_calibration_s()
    m["trace.op_p50_s"] = statistics.median(warm[k][3] for k in traced)
    m["trace.overhead_s"] = m["trace.op_p50_s"] - statistics.median(
        o[3] for o in warm if not o[4])
    # layers this workload never calls read zero
    for name in SPAN_LAYERS:
        m.setdefault(f"{name}_s", 0.0)
    m.setdefault("io.why1.bytes", 0.0)

    self_times = tracer.per_op_medians("self_s")
    dominant = max(self_times, key=self_times.get)
    m["trace.dominant_self_s"] = self_times[dominant]
    out_dir = os.path.join(ROOT, ".perfbench_traces")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json")
    tracer.dump(path)
    print(f"# {args.workload}: {len(traced)} traced warm ops; dominant "
          f"layer by self time: {dominant} ({self_times[dominant]:.3f} s/op; "
          f"'op' is the benchmark's own glue); tracing overhead "
          f"{m['trace.overhead_s']:+.3f} s/op; spans in {path}")
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
