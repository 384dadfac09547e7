"""CDC engine benchmark: one closed-loop workload per run, in a fresh JVM.

Run from the root of a checkout:

    python3 cdcbench/run.py --workload bulk_cow --seed 1 --seconds 18 --trace 0

The last line of standard output is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics with ``--trace 0``, the per-layer metrics with ``--trace 1``.  The
line before it holds the run's diagnostics (host, versions, plan sequence,
setup breakdown).  The run exits non-zero when the correctness gate fails.
All scratch data lives under ``.cdcbench_work/`` in the checkout and is
removed at exit.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("bulk_cow", "serve_mor")
DRIVER_MEMORY = "3g"
MIN_FREE_BYTES = 1 << 30


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def start_session(work: str, cpus: int):
    from dataingestion_spark.session import build_session

    spark = build_session(
        app_name="cdcbench",
        master=f"local[{cpus}]",
        shuffle_partitions=2 * cpus,
        extra_conf={
            "spark.ui.enabled": "false",
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "dataingestion_spark", "__init__.py")):
        print(
            "cdcbench: no dataingestion_spark/ package in the current directory; "
            "run from the root of a checkout",
            file=sys.stderr,
        )
        return 2
    sys.path[:0] = [HERE, root]
    os.environ["TZ"] = "UTC"
    time.tzset()
    work = os.path.join(root, ".cdcbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    free = shutil.disk_usage(work).free
    if free < MIN_FREE_BYTES:
        print(
            f"cdcbench: {free >> 20} MiB free under {work}; need "
            f"{MIN_FREE_BYTES >> 20} MiB",
            file=sys.stderr,
        )
        return 2
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    import tempfile

    tempfile.tempdir = None
    try:
        return run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


def run(args, work: str) -> int:
    import host
    import workloads

    cpus = host.nproc()
    spark = start_session(work, cpus)
    try:
        session_s = time.time() - T_START
        sc = spark.sparkContext
        r = workloads.Run(spark, args.workload, args.seed, args.seconds, args.trace, work)
        if args.trace:
            r.tracer.install()
        try:
            res = workloads.WORKLOADS[args.workload](r)
            layers = workloads.layer_metrics(r) if args.trace else None
        finally:
            r.tracer.uninstall()
        parts = r.setup_parts
        # process start to the first timed operation, less input generation
        t_first, gen_s = r.setup_end
        setup_s = t_first - T_START - gen_s
        e2e = dict(res["e2e"], setup_s=setup_s)
        diag = {
            "workload": args.workload,
            "seed": args.seed,
            "master": f"local[{cpus}]",
            "spark": spark.version,
            "java": sc._jvm.java.lang.System.getProperty("java.version"),
            "driver_memory": DRIVER_MEMORY,
            "work_fs": host.fs_type(work),
            "host.steal_s": r.steal_s,
            "host.loadavg": host.loadavg(),
            "host.calib_ms": r.calib_ms,
            "session_s": session_s,
            "setup": parts,
            "input_gen_s": r.gen_s,
            "epochs": res["epochs"],
            "live_rows": res["live_rows"],
            "plans": res["plans"],
            "samples": {k: [round(x, 4) for x in v] for k, v in r.samples.items()},
            "errors": res["errors"],
        }
        if args.trace:
            layers.update(
                {
                    "host.steal_s": r.steal_s,
                    "host.calib_ms": statistics.mean(r.calib_ms),
                    "host.loadavg": host.loadavg(),
                }
            )
            out = os.path.join(os.path.dirname(os.path.dirname(work)), ".cdcbench_spans")
            os.makedirs(out, exist_ok=True)
            with open(os.path.join(out, f"{args.workload}-seed{args.seed}.json"), "w") as f:
                json.dump(r.tracer.export(), f, default=str)
            metrics = {
                k: {"value": layers[k], "unit": workloads.per_layer_unit(k)}
                for k in workloads.PER_LAYER
            }
            diag["spans"] = len(r.tracer.spans)
        else:
            metrics = {
                k: {"value": e2e[k], "unit": u} for k, u in workloads.END_TO_END.items()
            }
        correct = not res["errors"]
        for e in res["errors"]:
            print(f"cdcbench: correctness gate: {e}", file=sys.stderr)
        print(json.dumps({"diagnostics": diag}, default=str))
        print(
            json.dumps(
                {
                    "correct": correct,
                    "attempted": r.attempted,
                    "failed": r.failed,
                    "metrics": metrics,
                }
            )
        )
        return 0 if correct else 1
    finally:
        stop_session(spark)


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM to exit (it exits when its stdin
    closes) and for the JVM's Python workers to follow it."""
    import host

    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    workers = host.children(proc.pid) if proc is not None else []
    spark.stop()
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    host.wait_gone(workers, timeout_s=30)


if __name__ == "__main__":
    sys.exit(main())
