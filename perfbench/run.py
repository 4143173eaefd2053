"""Engine benchmark: one run of one workload.

    python3 perfbench/run.py --workload interactive --seed 1 --seconds 10 --trace 0

Run from the repository root. The run builds its inputs from ``--seed``,
sets up a ``local[2]`` Spark session and an index, measures a closed loop
for ``--seconds``, checks a sample of the outputs against a brute-force
oracle, prints every metric by name with its unit, and ends stdout with
one compact JSON line: ``{"correct", "attempted", "failed", "metrics"}``.
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones. Everything the run writes stays under ``.perfbench/`` in the root;
the full result, spans included, goes to ``.perfbench/results/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_LIMIT_S = 170  # a run must end within 180 s


class _Timeout(Exception):
    pass


def _on_alarm(signum, frame):
    raise _Timeout(f"run exceeded {RUN_LIMIT_S} s")


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True,
                   choices=("interactive", "batch_hot"))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = p.parse_args(argv)
    if a.seed < 0 or not 1 <= a.seconds <= 120:
        p.error("--seed must be >= 0 and --seconds in 1..120")
    return a


def _isolate(work: str) -> None:
    """Keep every file Spark, the JVM and the workers write under
    ``work`` and make the package importable by the Python workers.
    Must run before pyspark starts the JVM."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path[:0] = [ROOT, HERE]


def _start_spark(work: str):
    from torchtrajectory_spark.session import get_spark
    from workloads import CORES

    return get_spark("perfbench", cores=CORES, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        # a heap well above what 10k docs need, committed and touched
        # when the JVM starts, so that no timing pays for first touches
        # of heap pages: with the heap grown during the run, five runs of
        # one seed spread 0.14 in read_p50_ms, with it touched up front 0.04
        "spark.driver.memory": "2g",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # few GC and JIT threads: the run uses two cores for tasks
        "spark.driver.extraJavaOptions":
            "-Xms2g -XX:+AlwaysPreTouch "
            "-XX:ParallelGCThreads=2 -XX:ConcGCThreads=1 -XX:CICompilerCount=2 "
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    })


def _stop_spark(spark) -> None:
    """Stop the session, the JVM and every process under it, and wait
    until all of them have exited."""
    from pyspark import SparkContext

    import probes

    gateway = SparkContext._gateway
    proc = gateway.proc if gateway is not None else None
    tree = probes.process_tree(proc.pid) if proc is not None else []
    try:
        if spark is not None:
            spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
            SparkContext._gateway = None
            SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=20)
            except Exception:
                proc.kill()
                proc.wait(timeout=10)
        deadline = time.monotonic() + 10
        for pid in tree:
            while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
                time.sleep(0.05)
            if os.path.exists(f"/proc/{pid}"):
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass


def main(argv=None) -> int:
    a = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, "torchtrajectory_spark", "engine.py")):
        print("perfbench: torchtrajectory_spark/ not found beside perfbench/; "
              "run from a full checkout of the repository", file=sys.stderr)
        return 2
    name = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    out_dir = os.path.join(ROOT, ".perfbench")
    work = os.path.join(out_dir, "work", name)
    shutil.rmtree(work, ignore_errors=True)
    _isolate(work)

    import probes
    from workloads import Run

    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(RUN_LIMIT_S)
    conditions = probes.run_conditions(ROOT, a.seed)
    cpu_times = probes.host_cpu_times()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = _start_spark(work)
        session_s = time.perf_counter() - t0
        result = Run(spark, session_s, a.workload, a.seed, a.seconds,
                     bool(a.trace), work).execute()
    except BaseException:
        traceback.print_exc()
        return 1
    finally:
        try:
            _stop_spark(spark)
        finally:
            signal.alarm(0)
            shutil.rmtree(work, ignore_errors=True)
    conditions["loadavg_1m_end"] = probes.loadavg_1m()
    conditions["host_loop_rate_end"] = probes.host_loop_rate()
    conditions["cpu_steal_share"] = probes.steal_share(cpu_times, probes.host_cpu_times())

    metrics = {k: {"value": v, "unit": u} for k, (v, u) in result["metrics"].items()}
    correct = result["failed"] == 0
    full = {"workload": a.workload, "seconds": a.seconds, "trace": a.trace,
            "conditions": conditions, "correct": correct,
            "error_rate": result["failed"] / result["attempted"],
            **result, "metrics": metrics,
            "extras": {k: {"value": v, "unit": u}
                       for k, (v, u) in result["extras"].items()}}
    os.makedirs(os.path.join(out_dir, "results"), exist_ok=True)
    path = os.path.join(out_dir, "results", name + ".json")
    with open(path, "w") as f:
        json.dump(full, f, indent=1)

    for k, m in {**metrics, **full["extras"]}.items():
        print(f"{k} = {m['value']:.6g} {m['unit']}")
    print(f"error_rate = {full['error_rate']:.6g} ratio")
    for e in result["errors"]:
        print(f"error: {e}")
    print(f"result file: {os.path.relpath(path, ROOT)}")
    line = {"correct": correct, "attempted": result["attempted"],
            "failed": result["failed"], "metrics": metrics}
    sys.stdout.write("\n" + json.dumps(line, separators=(",", ":")) + "\n")
    sys.stdout.flush()
    return 0


if __name__ == "__main__":
    sys.exit(main())
