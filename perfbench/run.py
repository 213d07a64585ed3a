"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload text --seed 1 --seconds 25 --trace 0

Run it from the root of a checkout. It starts one local Spark session
with one core per CPU, makes the workload's inputs from the seed, sets
up (untimed warm-up included), measures for ``--seconds`` seconds in a
closed loop (one client; each request waits for its answer), checks
every answer against an oracle, and prints the result as the last line
of standard output. ``--trace 1`` runs the same schedule with spans
around the program's public functions and reports per-layer numbers
instead of end-to-end ones. All scratch files go under
``.perfbench_work/`` in the checkout and are removed on exit; span
dumps of traced runs are kept under ``.perfbench_out/``.
"""

from __future__ import annotations

import time

T_PROCESS = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import platform  # noqa: E402
import shutil  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
WORKLOADS = ("text", "vector")


def _driver_memory() -> str:
    """A quarter of the host's memory, at most 4 GiB, at least 1 GiB
    (the program's own default of 48g does not fit small hosts)."""
    with open("/proc/meminfo") as f:
        kib = next(int(line.split()[1]) for line in f if line.startswith("MemTotal"))
    return f"{max(1, min(4, kib // (4 << 20)))}g"


def pin_environment(work: str) -> dict:
    """Fix what would otherwise vary between runs and hosts, before
    Spark starts: cores, scratch directories and driver memory."""
    cpus = len(os.sched_getaffinity(0))
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    os.makedirs(local)
    os.makedirs(tmp)
    env = {
        "SPARK_GRAFT_CPUS": str(cpus),
        # a fixed scratch dir: otherwise session.pick_local_dir probes
        # /dev/shm and may move shuffle files between runs
        "SPARK_LOCAL_DIRS": local,
        "SPARK_GRAFT_LOCAL_DIR": local,
        "SPARK_GRAFT_DRIVER_MEM": _driver_memory(),
        # the program's default of 8 parallel GC threads is sized for
        # its default of 32 cores; more GC threads than CPUs stretch
        # every pause whenever the host takes a CPU away
        "SPARK_GRAFT_GC_THREADS": str(cpus),
        "TMPDIR": tmp,
        # -XX:-UsePerfData: the JVM would otherwise keep its perf
        # counters under /tmp/hsperfdata_<user>, outside the checkout
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false "
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
            "pyspark-shell"
        ),
    }
    os.environ.update(env)
    return env


def _java_version() -> str:
    out = subprocess.run(["java", "-version"], capture_output=True, text=True)
    lines = (out.stderr or out.stdout).splitlines()
    return next((ln for ln in lines if "version" in ln), lines[0] if lines else "")


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is None:
        return
    if proc.stdin:
        proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "zensearch_spark", "session.py")):
        print(f"perfbench: no program to measure under {ROOT}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    env = pin_environment(work)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, BENCH_DIR)

    import pyspark

    from zensearch_spark.session import get_spark

    import text
    import vector
    from spans import Tracer

    workload = {"text": text, "vector": vector}[args.workload]
    t0 = time.monotonic()
    spark = get_spark(app=f"perfbench-{args.workload}")
    session_span = (t0, time.monotonic())
    try:
        tracer = None
        if args.trace:
            tracer = Tracer(spark)
            tracer.add_span("session.start", *session_span)
        result = workload.run(
            spark, seed=args.seed, seconds=args.seconds, work=work,
            tracer=tracer, t_process=T_PROCESS,
        )
        if tracer is not None:
            out_dir = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out_dir, exist_ok=True)
            tracer.dump(os.path.join(
                out_dir, f"spans-{args.workload}-{args.seed}.json"))
    except Exception:
        traceback.print_exc()
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        return 1
    t_stop = time.monotonic()
    _stop(spark)
    shutil.rmtree(work, ignore_errors=True)
    print(f"phases: imports {session_span[0] - T_PROCESS:.2f} s, session "
          f"{session_span[1] - session_span[0]:.2f} s, workload "
          f"{t_stop - session_span[1]:.2f} s, stop {time.monotonic() - t_stop:.2f} s",
          file=sys.stderr)

    outcomes = result["outcomes"]
    env_record = {
        "nproc": int(env["SPARK_GRAFT_CPUS"]),
        "spark_graft_cpus": env["SPARK_GRAFT_CPUS"],
        "spark_local_dirs": os.path.relpath(env["SPARK_LOCAL_DIRS"], ROOT),
        "driver_memory": env["SPARK_GRAFT_DRIVER_MEM"],
        "gc_threads": int(env["SPARK_GRAFT_GC_THREADS"]),
        "pyspark": pyspark.__version__,
        "java": _java_version(),
        "python": platform.python_version(),
        **result.get("env", {}),
    }
    print(f"environment: {json.dumps(env_record, sort_keys=True)}")
    for line in result.get("report", []):
        print(line)
    if tracer is not None:
        for name, own in sorted(tracer.self_times().items()):
            print(f"self time {name}: {own:.4f} s")
    print(f"failed_frac: {outcomes.failed_frac} ({outcomes.failed}/{outcomes.attempted})")
    for reason in outcomes.reasons:
        print(f"failure: {reason}")
    print(json.dumps({
        "correct": outcomes.failed == 0,
        "attempted": outcomes.attempted,
        "failed": outcomes.failed,
        "metrics": result["metrics"],
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
