"""Service benchmark for pygeoapi_ingestor_spark.

Run from the root of a checkout:

    python3 perfbench/run.py --workload api_sequential --seed 1 --seconds 20 --trace 0

The program under test is the checkout's ``pygeoapi_ingestor_spark``
package, driven through its public entry points on ``local[nproc]``.
Inputs are generated under ``.perfbench_work/`` in the checkout; every
file the run writes (Spark scratch, temp files, collections) stays
there. The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``); the
line before it holds the workload-specific details. See README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
SF = 0.01  # generated corpus size; see README.md for why not sf0.1
SETUPS = 5  # set-ups per run; setup_s is their median


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=20.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def confine_to_checkout(nproc: int) -> None:
    """Point every scratch location of Python, the JVM and Spark into the
    checkout, and size the session to this host."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    # the session factory's 16g default is sized for a dedicated host
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TZ"] = "UTC"
    time.tzset()


def setup_once(sf_dir: str):
    """Session start up to the first timed operation: the package's
    session factory, a first read of the corpus and the API object."""
    from pygeoapi_ingestor_spark.api import ProcessAPI
    from pygeoapi_ingestor_spark.session import get_spark

    spark = get_spark(app_name="perfbench", extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    })
    spark.read.parquet(f"{sf_dir}/events.parquet").count()
    return spark, ProcessAPI(default_sf_dir=sf_dir)


def host_steal() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return (fields[7] if len(fields) > 7 else 0), sum(fields)


def shutdown(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if spark is not None:
        spark.stop()
    if gateway is not None:
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    nproc = len(os.sched_getaffinity(0))
    sys.path.insert(0, ROOT)
    try:
        import pygeoapi_ingestor_spark  # noqa: F401  (the program under test)
    except ImportError as e:
        print(f"perfbench: cannot import the package from {ROOT}: {e}", file=sys.stderr)
        return 2

    import datagen
    import metrics
    import workloads
    from tracing import Tracer

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    confine_to_checkout(nproc)
    sf_dir = datagen.ensure_tables(os.path.join(WORK, f"data_sf{SF}"), SF)
    run_dir = os.path.join(WORK, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)

    spark, setups = None, []
    try:
        for _ in range(SETUPS):
            if spark is not None:
                spark.stop()
            t = time.perf_counter()
            spark, api = setup_once(sf_dir)
            setups.append(time.perf_counter() - t)
        tracer = Tracer(spark, enabled=bool(args.trace))
        run = workloads.Run(spark, api, tracer, sf_dir, run_dir,
                            args.seed, args.seconds, nproc)
        is_api = args.workload.startswith("api_")
        refs = workloads.api_references(run) if is_api else None
        gc0 = tracer.driver_gc() if tracer.enabled else (0.0, 0)
        steal0 = host_steal()
        workloads.WORKLOADS[args.workload](run)
        steal1 = host_steal()
        gc1 = tracer.driver_gc() if tracer.enabled else (0.0, 0)
        if is_api:
            workloads.check_api(run, refs)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        shutdown(spark)

    ops = run.ops
    failed = sum(1 for o in ops if o.errors)
    detail = {
        "workload": args.workload, "seed": args.seed, "nproc": nproc, "sf": SF,
        "rounds": run.rounds, "wall_s": run.wall_s, "check_s": run.check_s,
        "samples": {k: sum(1 for o in ops if o.kind == k)
                    for k in ("request", "ingest", "items", "stream")},
        "setups_s": setups,
        # share of the host's CPU time stolen by other guests during the loop
        "host_steal_share": (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
        "tail_percentile": metrics.TAIL_Q,
        "details": metrics.with_units(
            metrics.details(args.workload, ops, run.wall_s, run.rounds), metrics.DETAIL),
        "ops": [[o.kind, o.key, round(o.latency_s, 4), o.detail.get("cpu_s")] for o in ops],
        "cpu_s": run.cpu_s,
        "errors": [f"{o.kind} {o.key}: {e}" for o in ops for e in o.errors][:20],
    }
    if tracer.enabled:
        values = metrics.per_layer(ops, tracer.spans, (gc1[0] - gc0[0], gc1[1] - gc0[1]),
                                   tracer.harvest_s, run.loop_s)
        result = metrics.with_units(values, metrics.PER_LAYER)
        detail["self_time_s"] = tracer.self_times()
        spans_path = os.path.join(WORK, f"spans_{args.workload}_{args.seed}.json")
        with open(spans_path, "w") as f:
            json.dump(tracer.spans, f)
        detail["spans_file"] = os.path.relpath(spans_path, ROOT)
    else:
        values = metrics.end_to_end(setups, run.cpu_s, run.rounds)
        result = metrics.with_units(values, metrics.END_TO_END)
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": failed == 0, "attempted": len(ops),
                      "failed": failed, "metrics": result}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
