"""Benchmark entry point: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout of this repository. The run:

1. generates the workload's input from the seed in a child process
   (``gen.py``), outside every timed figure;
2. pins the environment (see README.md) and starts one Spark session at
   ``local[<nproc>]`` in this process;
3. sets up: ``prepare`` ``SETUP_REPS`` times, then the untimed warm-up
   rounds. ``setup_s`` = session start + median ``prepare`` + warm-up;
4. runs whole rounds of the workload's op mix, each op waiting for the one
   before, until ``--seconds`` have passed, checking every result against
   the generator's answers or the driver-side model;
5. runs the untimed end-of-run checks, then prints each metric on its own
   line and, as the last line, one JSON object with ``correct``,
   ``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics with
   ``--trace 0``, the per-layer metrics with ``--trace 1``).

With ``--trace 1`` spans wrap every call into a layer, the codec kernel
microbench runs after the timed phase, and the spans are written as JSONL to
``.perfbench_out/``. Exits non-zero without a result line when the
checkout holds no engine to drive.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

SETUP_REPS = 3
DRIVER_MEMORY = "3g"
OUT_DIR = ".perfbench_out"
WORK_DIR = ".perfbench_work"

END_TO_END = {
    "setup_s": "s",
    "op_p50_s": "s",
    "op_p90_s": "s",
    "ops_per_s": "1/s",
    "driver_peak_rss_mb": "MB",
    "stored_bytes_per_input_byte": "ratio",
}


# -- driver memory ---------------------------------------------------------


def reset_peak_rss() -> bool:
    """Reset this process's VmHWM so the next reading covers only what
    follows (Linux ``clear_refs`` 5)."""
    try:
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
        return True
    except OSError:
        return False


def peak_rss_mb() -> float:
    with open("/proc/self/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("no VmHWM line in /proc/self/status")


# -- memory-bus calibration probe -------------------------------------------


def _probe_task(n: int) -> float:
    import numpy as np

    a = np.arange(n, dtype=np.int64)
    t = time.perf_counter()
    int((a * 3).sum())
    return time.perf_counter() - t


def membus_probe(workers: int, n: int = 8_000_000, reps: int = 3) -> float:
    """The round-6 memory-bus throttle probe, scaled to the core count:
    ``workers`` threads (numpy drops the GIL in the kernels) each time an
    int64 multiply+sum streamed over ``n`` values; returns the median
    seconds per task. Context only: a slow reading marks a noisy window,
    it never drops a run."""
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(workers) as pool:
        times = list(pool.map(_probe_task, [n] * (workers * reps)))
    return statistics.median(times)


# -- Spark session -----------------------------------------------------------


def pin_environment(root: str, work: str) -> int:
    """Environment every run uses; returns the core count."""
    cores = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYTHONPATH"] = root + (
        os.pathsep + os.environ["PYTHONPATH"] if os.environ.get("PYTHONPATH") else ""
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    if root not in sys.path:
        sys.path.insert(0, root)
    from xml2arrow_spark.env import set_kernel_malloc_env

    set_kernel_malloc_env()
    return cores


def start_session(work: str, cores: int, trace: bool):
    from pyspark.sql import SparkSession

    tmp = os.path.join(work, "tmp")
    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.driver.memory", DRIVER_MEMORY)
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
        .config("spark.sql.shuffle.partitions", str(cores))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
    )
    if trace:
        b = (
            b.config("spark.ui.enabled", "true")
            .config("spark.ui.port", "0")
            .config("spark.ui.retainedJobs", "100000")
            .config("spark.ui.retainedStages", "100000")
            .config("spark.sql.pyspark.udf.profiler", "perf")
        )
    else:
        b = b.config("spark.ui.enabled", "false")
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and its Python workers) to exit."""
    sc = spark.sparkContext
    gateway = sc._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    try:
        gateway.shutdown()
    except Exception:  # the gateway may already be gone
        pass
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# -- the run -------------------------------------------------------------------


def generate(workload: str, seed: int, data: str) -> float:
    t = time.perf_counter()
    subprocess.run(
        [sys.executable, os.path.join(HERE, "gen.py"), "--workload", workload,
         "--seed", str(seed), "--out", data],
        check=True,
    )
    return time.perf_counter() - t


class Run:
    def __init__(self, wl, seconds: float):
        self.wl = wl
        self.seconds = seconds
        self.latencies: list[tuple[str, float]] = []
        self.attempted = 0
        self.failed = 0

    def op(self, name: str, fn) -> None:
        self.attempted += 1
        t = time.perf_counter()
        try:
            ok = bool(fn())
        except Exception:
            traceback.print_exc()
            ok = False
        self.latencies.append((name, time.perf_counter() - t))
        if not ok:
            self.failed += 1
            print(f"perfbench: op {name} failed its check", file=sys.stderr)

    def timed(self) -> tuple[float, float, int]:
        rounds = 0
        t0 = time.perf_counter()
        while time.perf_counter() - t0 < self.seconds:
            for name, fn in self.wl.round(rounds):
                self.op(name, fn)
            rounds += 1
        return t0, time.perf_counter(), rounds


def main(argv: list[str]) -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "xml2arrow_spark", "__init__.py")):
        print(f"perfbench: no xml2arrow_spark package under {root}; run from the "
              "root of a checkout of the engine", file=sys.stderr)
        return 2
    from workloads import WORKLOADS, load_facts

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(root, WORK_DIR, args.workload)
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    os.makedirs(data)
    gen_s = generate(args.workload, args.seed, data)
    facts = load_facts(data)
    cores = pin_environment(root, work)
    probe_start = membus_probe(cores)

    traced = bool(args.trace)
    t_session = time.perf_counter()
    spark = start_session(work, cores, traced)
    try:
        return _measure(args, root, work, data, facts, spark, cores, traced,
                        t_start, t_session, gen_s, probe_start)
    finally:
        stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


def _measure(args, root, work, data, facts, spark, cores, traced, t_start,
             t_session, gen_s, probe_start) -> int:
    import layers
    from spans import NullTracer, SpanTracer
    from workloads import WORKLOADS, Context

    session_s = time.perf_counter() - t_session
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}"
    tracer = SpanTracer(spark, run_id) if traced else NullTracer()
    if traced:
        layers.instrument_engine(tracer)
        if WORKLOADS[args.workload].forces_prep_stages:
            layers.instrument_prep_stages(tracer)
    wl = WORKLOADS[args.workload](Context(spark, work, data, facts, tracer))
    prep_times = []
    for rep in range(SETUP_REPS):
        t = time.perf_counter()
        with tracer.span("bench.prepare", rep=rep):
            wl.prepare(rep)
        prep_times.append(time.perf_counter() - t)
    t = time.perf_counter()
    with tracer.span("bench.warm_up"):
        wl.warm_up()
    warm_s = time.perf_counter() - t
    setup_s = session_s + statistics.median(prep_times) + warm_s

    run = Run(wl, args.seconds)
    rss_reset = reset_peak_rss()
    t0, t1, rounds = run.timed()
    rss_mb = peak_rss_mb()
    extra, end_ok = wl.finish()
    if not end_ok:
        run.failed += 1
    run.attempted += 1
    probe_end = membus_probe(cores)

    finish_s = time.perf_counter() - t1
    lat = [s for _n, s in run.latencies]
    wall = t1 - t0
    e2e = {
        "setup_s": setup_s,
        "op_p50_s": statistics.median(lat),
        "op_p90_s": float(np.percentile(lat, 90)),
        "ops_per_s": len(lat) / wall,
        "driver_peak_rss_mb": rss_mb,
        "stored_bytes_per_input_byte": wl.stored_bytes / facts["logical_bytes"],
    }
    info = {
        "ops": len(lat),
        "op_latencies_s": [round(x, 4) for x in lat],
        "rounds": rounds,
        "timed_wall_s": wall,
        "session_s": session_s,
        "prepare_s": prep_times,
        "warm_up_s": warm_s,
        "input_gen_s": gen_s,
        "input_logical_bytes": facts["logical_bytes"],
        "stored_bytes": wl.stored_bytes,
        "membus_probe_start_s": probe_start,
        "membus_probe_end_s": probe_end,
        "cores": cores,
        "peak_rss_reset": rss_reset,
        **extra,
    }
    by_op: dict[str, list[float]] = {}
    for n, s in run.latencies:
        by_op.setdefault(n, []).append(s)
    for n, v in sorted(by_op.items()):
        info[f"op.{n}.p50_s"] = statistics.median(v)
        info[f"op.{n}.count"] = len(v)
    # workload-specific end-to-end figures: printed, not in the JSON result
    # (its metrics are the ones every workload reports)
    shown = {}
    if args.workload == "ingest_scan":
        for op in ("encode", "decode"):
            shown[f"{op}_tokens_per_s"] = (
                facts["tokens"] / statistics.median(by_op[op]), "tokens/s")
    if args.workload == "corpus_prep":
        shown["docs_per_s"] = (facts["rows"] / statistics.median(by_op["corpus_prep"]), "docs/s")

    os.makedirs(os.path.join(root, OUT_DIR), exist_ok=True)
    if traced:
        metrics, k_att, k_fail = layers.rollup(tracer, t0, t1, len(lat), data)
        run.attempted += k_att
        run.failed += k_fail
        base = os.path.join(root, OUT_DIR, f"{args.workload}-seed{args.seed}-untraced.json")
        if os.path.exists(base):
            with open(base) as f:
                untraced = json.load(f)["metrics"]
            for k, v in e2e.items():  # traced minus untraced, same seed
                info[f"tracing_overhead.{k}"] = v - untraced[k]["value"]
        tracer.dump(os.path.join(root, OUT_DIR, f"{run_id}.jsonl"))
        info.update({f"traced.{k}": v for k, v in e2e.items()})
        report = {k: {"value": v, "unit": layers.UNITS[k]} for k, v in metrics.items()}
    else:
        report = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}

    info["run_wall_s"] = time.perf_counter() - t_start
    info["finish_s"] = finish_s
    for k, v in sorted(info.items()):
        print(f"{args.workload} {k} {v}")
    shown["failed_op_frac"] = (run.failed / run.attempted, "ratio")
    for k, (v, unit) in shown.items():
        print(f"{args.workload} {k} {v} {unit}")
    for k, v in report.items():
        print(f"{args.workload} {k} {v['value']} {v['unit']}")
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": report,
    }
    if not traced:
        with open(os.path.join(root, OUT_DIR,
                               f"{args.workload}-seed{args.seed}-untraced.json"), "w") as f:
            json.dump({**result, "info": info}, f)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
