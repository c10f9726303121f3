"""Benchmark of record: one workload, one closed loop, one result line.

    python3 perfbench/run.py --workload extract-short --seed 1 \
        --seconds 10 --trace 0

Run from the repository root.  The run generates (or reuses) the seeded
input, builds the single-process reference, starts a ``local[nproc]``
session through the package's ``get_spark``, warms it, then runs the
workload's pipeline back to back for ``--seconds`` (one job at a time)
and checks every iteration's output against the reference.  The last
stdout line is the result JSON; ``--trace 1`` reports the per-layer
metrics instead of the end-to-end ones.  ``--workload all`` runs every
workload in its own process and prints each result.  See README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORKLOADS = ("extract-short", "eval-long", "corpus-dedup")
RESULTS = os.path.join(HERE, "results")
# Untimed iterations before the window: the first iteration after start-up
# runs measurably slower (Python workers forked per kernel stage, plans
# compiled, JVM code still compiling).  corpus-dedup is a crawl-prep batch
# job that runs once per session, so its window times that first pass,
# one-time planning, code generation and JIT of its ~40 jobs included.
WARM_ITERATIONS = {"extract-short": 1, "eval-long": 1, "corpus-dedup": 0}


def process_age_s() -> float:
    """Seconds since this process started (kernel clock-tick accuracy)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def run_record(args, meta: dict) -> dict:
    """What makes two results comparable: machine, load, versions, input."""
    import pyspark

    with open("/proc/sys/kernel/random/boot_id") as f:
        boot_id = f.read().strip()
    with open("/proc/loadavg") as f:
        loadavg = [float(x) for x in f.read().split()[:3]]
    return {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "boot_id": boot_id,
        "nproc": cpu_count(), "loadavg_start": loadavg,
        "python": platform.python_version(), "pyspark": pyspark.__version__,
        "input_digest": meta["digest"], "input_mb": meta["input_mb"],
        "input_cache_cold": meta["cache_cold"],
    }


def reference_for(workload: str, meta: dict) -> dict:
    """The reference summary, computed once per input and cached beside it."""
    from reference import reference

    path = os.path.join(os.path.dirname(meta["main"]), "reference.json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    ref = reference(workload, meta)
    with open(path + ".tmp", "w") as f:
        json.dump(ref, f)
    os.replace(path + ".tmp", path)
    return ref


def _hold_worker(_):
    # Overlapping tasks make the daemon fork one worker per task slot; the
    # imports are the ones the extraction and scoring kernels need.
    import numpy  # noqa: F401
    import pandas  # noqa: F401
    import pyarrow  # noqa: F401

    import web_content_extraction_benchmark_spark.plans.pipeline  # noqa: F401

    time.sleep(1.0)
    yield 0


def start_workers(spark, cpus: int) -> None:
    """Start one Python worker per task slot before anything is timed."""
    spark.sparkContext.parallelize(range(cpus), cpus).mapPartitions(
        _hold_worker).collect()


class Session:
    """One set-up: session start (the package's get_spark, which runs its
    JVM warm job), input registration, then Python workers started on
    every task slot and the workload's WARM_ITERATIONS untimed
    iterations."""

    def __init__(self, workload: str, meta: dict, cpus: int, out_dir: str):
        from web_content_extraction_benchmark_spark.session import get_spark

        import workloads

        started = time.perf_counter()
        self.spark = get_spark(
            "perfbench", master=f"local[{cpus}]",
            extra_conf={"spark.ui.showConsoleProgress": "false"},
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        self.start_s = time.perf_counter() - started
        try:
            started = time.perf_counter()
            self.workload = workloads.build(workload, self.spark, meta, cpus,
                                            out_dir)
            self.register_s = time.perf_counter() - started
            started = time.perf_counter()
            start_workers(self.spark, cpus)
            self.warm_outputs = [self.workload.iteration()
                                 for _ in range(WARM_ITERATIONS[workload])]
            self.worker_warm_s = time.perf_counter() - started
        except BaseException:
            self.stop()
            raise

    def stop(self) -> None:
        """Stop the session, then the JVM, and wait for it to exit (it
        stops its Python workers first)."""
        gateway = self.spark.sparkContext._gateway
        self.spark.stop()
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def timed_window(workload, seconds: float, after_iteration=None):
    """Closed loop: start iterations back to back while less than
    ``seconds`` have passed (at least one); returns (walls, outputs)."""
    walls, outs = [], []
    started = time.perf_counter()
    while not walls or time.perf_counter() - started < seconds:
        t = time.perf_counter()
        outs.append(workload.iteration())
        walls.append(time.perf_counter() - t)
        if after_iteration is not None:
            after_iteration()
    return walls, outs


def error_share(workload: str, out: dict, ref: dict) -> float:
    """(error rows + missing rows) / rows attempted, from the output."""
    from reference import output_errors

    errors, rows = output_errors(workload, out, ref)
    expected = ref["expected_rows"]
    return (errors + max(0, expected - rows)) / expected


def run_one(args) -> int:
    import inputs

    t = time.perf_counter()
    meta = inputs.prepare(args.workload, args.seed)
    ref = reference_for(args.workload, meta)
    excluded = time.perf_counter() - t
    print(f"inputs: {json.dumps({k: meta[k] for k in ('pages', 'hostile')})}"
          f" generate+reference {excluded:.1f}s", file=sys.stderr)
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{int(time.time())}"
    out_dir = os.path.join(HERE, "out", run_id)
    session = Session(args.workload, meta, cpu_count(), out_dir)
    try:
        setup_s = process_age_s() - excluded
        result = measure(args, session, meta, ref, run_id)
    finally:
        session.stop()
        shutil.rmtree(out_dir, ignore_errors=True)
    if result is None:
        return 1
    record, metrics, attempted = result
    record["setup_parts_s"] = {"total": setup_s, "start": session.start_s,
                               "worker_warm": session.worker_warm_s,
                               "register": session.register_s}
    if not args.trace:
        metrics["setup_s"] = {"value": setup_s, "unit": "s"}
    os.makedirs(RESULTS, exist_ok=True)
    with open(os.path.join(RESULTS, run_id + ".json"), "w") as f:
        json.dump({"record": record, "metrics": metrics}, f, indent=1)
    print("record: " + json.dumps(record))
    print(json.dumps({"correct": True, "attempted": attempted, "failed": 0,
                      "metrics": metrics}))
    return 0


def measure(args, session: Session, meta: dict, ref: dict, run_id: str):
    """The timed window and the gate, then the metrics of the requested
    kind; returns (record, metrics, iterations) or None when the gate fails."""
    from reference import check

    record = run_record(args, meta)
    record["java"] = session.spark._jvm.System.getProperty("java.version")
    if args.trace:
        from layers import traced_run

        metrics, walls, outs = traced_run(
            args.workload, session, meta, ref,
            lambda after: timed_window(session.workload, args.seconds, after),
            run_id, RESULTS)
    else:
        walls, outs = timed_window(session.workload, args.seconds)
    problems = [f"warm-up: {p}" for out in session.warm_outputs
                for p in check(args.workload, out, ref)]
    for i, out in enumerate(outs):
        problems += [f"iteration {i}: {p}" for p in check(args.workload, out, ref)]
    if args.workload == "corpus-dedup":
        last = dict(outs[-1], written_ids=session.workload.written_ids())
        problems += [f"written output: {p}"
                     for p in check(args.workload, last, ref)]
    if problems:
        for p in problems[:20]:
            print(f"GATE FAIL {p}", file=sys.stderr)
        return None
    record["iterations_s"] = walls
    if not args.trace:
        pages = meta["pages"]
        metrics = {
            "docs_per_s": {"value": statistics.median(pages / w for w in walls),
                           "unit": "1/s"},
            "error_share": {"value": error_share(args.workload, outs[-1], ref),
                            "unit": "ratio"},
        }
    return record, metrics, len(walls)


def run_all(args) -> int:
    """Every workload in its own process; prints each metric with its unit."""
    status = 0
    for workload in WORKLOADS:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload",
               workload, "--seed", str(args.seed), "--seconds",
               str(args.seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"{workload}: FAILED (exit {proc.returncode})")
            status = 1
            continue
        result = json.loads(lines[-1])
        for name, m in result["metrics"].items():
            print(f"{workload:14s} {name:34s} {m['value']:.6g} {m['unit']}")
        print(f"{workload:14s} gate {'passed' if result['correct'] else 'FAILED'}")
    return status


def main(argv=None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--workload", required=True,
                        choices=WORKLOADS + ("all",))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)
    # The package and its Python workers import from the repository root.
    if not os.path.isdir(os.path.join(REPO,
                                      "web_content_extraction_benchmark_spark")):
        print("web_content_extraction_benchmark_spark not found next to "
              "perfbench/: run from a full checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, REPO]
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [REPO, HERE] + [p for p in [os.environ.get("PYTHONPATH")] if p])
    os.chdir(REPO)
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
