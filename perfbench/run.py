"""Benchmark entry point.

    python3 perfbench/run.py --workload star_build --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Each run gets a fresh work directory
under ``.perfbench_work/`` (inputs, Spark scratch, warehouse and index
files, the event log of a traced run) and removes it at the end. Spark runs
as ``local[N]`` with N = the CPUs this process may use, through the
program's own ``SPARK_GRAFT_CPUS``; no other setting of the program is
changed. One client, closed loop: the next call is made when the previous
one returns.

The last line of stdout is the result object; the line before it is the
run's detail (every sample, the host calibration, the checks).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import traceback

T_PROCESS = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

WORKLOADS = ("star_build", "index_lifecycle")
END_TO_END = {
    "setup_s": "s",
    "load_s": "s",
    "append_p50_s": "s",
    "query_p50_s": "s",
    "stored_bytes": "bytes",
}


def _args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _environment(work: str, trace: bool) -> None:
    """Keep every file Spark writes inside the work directory and, in a
    traced run, switch on Spark's uncompressed event log."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    # no hsperfdata file in the system temp directory either
    submit = ["--driver-java-options", f"'-Djava.io.tmpdir={tmp} -XX:-UsePerfData'"]
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        submit += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{log_dir}",
            "--conf", "spark.eventLog.compress=false",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(submit + ["pyspark-shell"])


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM it launched to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        proc.wait(timeout=60)


def main(argv=None) -> int:
    args = _args(argv)
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import gen
    from harness import Run, host_calibration

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}-{time.time_ns()}")
    os.makedirs(work)
    try:
        trace = bool(args.trace)
        # before the program's first import: its session module reads
        # SPARK_GRAFT_CPUS at import time
        _environment(work, trace)
        # fails (non-zero exit, no result line) where the program is absent
        import data_warehouse_punta_fina_spark  # noqa: F401

        os.chdir(work)
        paths = gen.Paths(os.path.join(work, "inputs"))
        module = __import__(args.workload)
        t = time.perf_counter()
        module.make_inputs(paths, args.seed)
        gen_s = time.perf_counter() - t
        cal_before = host_calibration()

        from data_warehouse_punta_fina_spark.session import get_spark

        t_setup = time.perf_counter()
        spark = get_spark(f"perfbench-{args.workload}")
        spark.range(1).count()
        master = spark.sparkContext.master
        start_s = time.perf_counter() - t_setup
        try:
            run = Run(spark, trace)
            wl = module.Workload(run, paths, work)
            t = time.perf_counter()
            wl.warm()
            warm_s = time.perf_counter() - t
            setup_s = time.perf_counter() - t_setup

            t = time.perf_counter()
            rounds = 0
            while True:
                wl.round(rounds)
                rounds += 1
                if time.perf_counter() - t >= args.seconds:
                    break
            measured_s = time.perf_counter() - t
            try:
                wl.verify()
            except Exception:  # the checks could not all run: correct is false
                traceback.print_exc(file=sys.stderr)
        finally:
            _stop(spark)
        cal_after = host_calibration()
        if trace:
            import eventlog

            # after the stop: the event log is complete and flushed
            layers = eventlog.layers(os.path.join(work, "eventlog"), run, wl)

        e2e = wl.end_to_end()
        e2e["setup_s"] = setup_s
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "rounds": rounds,
            "measured_s": measured_s,
            "input_gen_s": gen_s,
            "master": master,
            "session_start_s": start_s,
            "warm_s": warm_s,
            "process_s": time.perf_counter() - T_PROCESS,
            "host_cal_s": [cal_before, cal_after],
            "samples": {k: v for k, v in sorted(run.samples.items())},
            "counts": run.counts,
            "check_failures": run.check_failures,
            "end_to_end": e2e,
        }
        if trace:
            metrics = {k: {"value": v, "unit": u} for k, (v, u) in layers.items()}
            metrics["session.start_s"] = {"value": start_s, "unit": "s"}
            metrics["session.warm_s"] = {"value": warm_s, "unit": "s"}
        else:
            metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
        print(json.dumps({"detail": detail}))
        # a failed check counts as a failed operation; correct says that
        # every check ran, so the operations that did not fail are checked
        print(
            json.dumps(
                {
                    "correct": run.verified,
                    "attempted": run.attempted,
                    "failed": run.failed,
                    "metrics": metrics,
                }
            )
        )
        return 0
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's directory is still there
            pass


if __name__ == "__main__":
    sys.exit(main())
