"""Benchmark entry point: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload {query,refresh} --seed N \\
        --seconds S --trace {0,1}

Run from the repository root. The run starts one ``local[nproc]`` Spark
session (at most 4 cores), generates its seeded corpus, runs the
workload for about ``--seconds`` of measured time, checks the engine's
answers, and prints two lines on stdout: a detail object (sample
counts, tail percentiles, Spark jobs per operation, ``/proc`` steal,
first errors) and, last, the result object
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer metrics and writes
the spans to ``perfbench/.traces/``. All scratch data lives in
``perfbench/.work/run-<pid>/`` and is removed before exit. A run that
would pass 150 s is stopped and exits non-zero.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "job_searchengine_project_spark"
MAX_CORES = 4
DEADLINE_S = 150  # a run must end within 180 s, JVM shutdown included


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("query", "refresh"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def environment(work: str) -> None:
    """Make the engine importable here and in every Python worker, and
    keep every temporary file of the run inside ``work``."""
    sys.path.insert(0, ROOT)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp


def start_spark(work: str):
    from job_searchengine_project_spark.session import get_spark

    cores = max(1, min(MAX_CORES, len(os.sched_getaffinity(0))))
    tmp = os.path.join(work, "tmp")
    return get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.driver.memory": "4g",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit
    (the JVM ends its Python worker daemons as it stops)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway server exits on stdin EOF
        try:
            proc.wait(timeout=20)
        except Exception:  # TimeoutExpired: do not leave it running
            proc.kill()
            proc.wait()


def reported(values: dict, listed: list[dict]) -> dict:
    """The measured metrics that BENCHMARK.json lists, with its units;
    a listed metric whose layer no longer exists is omitted."""
    return {
        m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
        for m in listed
        if m["name"] in values
    }


def _deadline(_signum, _frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def main(argv=None) -> int:
    t0 = time.perf_counter()
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ under {ROOT}; run from a full checkout", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        listed = json.load(f)["per_layer" if args.trace else "end_to_end"]
    signal.signal(signal.SIGALRM, _deadline)
    signal.alarm(DEADLINE_S)
    # one scratch dir per run: a second run in the same checkout must
    # not delete this one's Spark temp files
    work = os.path.join(HERE, ".work", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    environment(work)
    spark = None
    try:
        spark = start_spark(work)
        t_session = time.perf_counter() - t0
        import workloads

        run = workloads.Run(spark, work, args.seed, args.seconds, bool(args.trace))
        run.lat["setup.session_s"].append(t_session)
        workloads.WORKLOADS[args.workload](run, t0)
        if args.trace:
            run.spans.dump(
                os.path.join(HERE, ".traces", f"{args.workload}-seed{args.seed}.json")
            )
        detail = workloads.detail(run)
        result = {
            "correct": run.failed == 0,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": reported(run.layer if args.trace else run.e2e, listed),
        }
    finally:
        signal.alarm(0)
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))  # only if no other run uses it
    print(json.dumps({"detail": detail}), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
