"""SparkSession factory tuned for the target execution profile.

Local testing runs on ``local[N]``; the same settings are what we would
ship to a 1000-executor cluster: AQE enabled (runtime coalescing + skew
join handling), Arrow for any pandas-UDF exchange, and shuffle
partitions sized from available parallelism rather than the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_JVM_PINS = "-Xss32m -XX:+ExplicitGCInvokesConcurrent"
# a local-master driver's compile policy, one -XX flag per name (see
# the factory's comment): the minimum tiered compiler pool, and the C2
# (tier-4) thresholds at 10x HotSpot's defaults (5000/600/15000/40000)
_LOCAL_DRIVER_PINS = {
    "CICompilerCount": 2,
    "Tier4InvocationThreshold": 50000,
    "Tier4MinInvocationThreshold": 6000,
    "Tier4CompileThreshold": 150000,
    "Tier4BackEdgeThreshold": 400000,
}
# set once the executors' Python workers can import this package
_SHIPPED = "spark.pygeoapi_ingestor_spark.shipped"


def get_spark(
    app_name: str = "pygeoapi_ingestor_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession.

    Honors ``SPARK_GRAFT_CPUS`` for local core count so the bench driver
    controls parallelism; unset, the core count is the CPUs this process
    may run on.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # one-ish partition per core locally; on a real cluster this is
        # overridden to ~2-3x total executor cores.
        shuffle_partitions = max(cpus, 4)
    # every task of a local master runs inside the driver JVM and forks
    # its Python workers from this host's interpreter
    local = master.split("[")[0] == "local"

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # broadcast/shuffle state is freed on driver GC; the 30-min
        # default periodicGC outlives a whole catalog pass (or a
        # scheduler tick), letting dead state pile up — observed as
        # random 2-3x latency outliers. 2 min keeps a long-lived
        # ingestor service at steady-state latency. This is the one GC
        # trigger: it runs on the cleaner's own thread, and
        # finalize_job starts none, so no request waits for a cycle.
        .config("spark.cleaner.periodicGC.interval", "2min")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Catalyst canonicalization / constraint propagation recurses
        # per expression-tree level (CommutativeExpression.
        # orderCommutative and friends); the catalog's widest JVM-side
        # expressions (64-term dot-product Add chains, kept left-
        # associated ON PURPOSE for bit-identity with the strict-left-
        # fold oracles) sit near the default ~1 MiB thread-stack limit
        # — an identical-code bench run crashed with a canonicalization
        # StackOverflow in the r11 driver window while passing
        # in-session. 32 MiB makes plan analysis depth a non-factor.
        # -Xss applies to every JVM thread (py4j handlers included);
        # heap flags stay out of extraJavaOptions per Spark's contract.
        #
        # +ExplicitGCInvokesConcurrent (r14 root-cause of the r13
        # local[32] "regression"): Spark's ContextCleaner periodicGC —
        # which the 2-min interval above fires on purpose — calls
        # System.gc(), and under Java 17's default G1 an explicit GC is
        # a FULL stop-the-world collection. On this driver's 48 GiB
        # heap those pauses measured up to 33.8 s (OPTIMIZATION_r14.md,
        # G1 Old Generation MXBean: 1 collection = 33771 ms inside a
        # 117 s query cell), landing on random timed cells; pause cost
        # scales with allocation churn, i.e. with task count, so
        # local[32] suffered ~4x over local[8] — the entire r13
        # "8 cores beats 32" inversion. With the flag, an explicit GC
        # becomes a concurrent G1 cycle: reference processing (what the
        # ContextCleaner actually needs — its weak refs get enqueued)
        # still happens, nothing pauses. A/B on 20 keys at local[32]:
        # 225 s wall / 35.3 s GC pauses -> 69 s wall / 0.6 s GC.
        # The same applies to any long-lived 100 TB driver: periodicGC
        # without this flag trades broadcast-state hygiene for
        # multi-second full pauses at exactly the heap sizes where both
        # matter.
        #
        # The compile policy of a local master's driver
        # (_LOCAL_DRIVER_PINS). -XX:CICompilerCount=2 is HotSpot's tiered
        # minimum, one C1 and one C2 compiler thread: in local mode every
        # task runs inside this driver JVM, on all of its cores, yet
        # HotSpot sizes its compiler pool as if those cores were idle (3
        # threads on 4 CPUs, 15 on 32). A fresh session's first pass
        # makes Janino, ANTLR, Java-serialization and Catalyst code hot;
        # with the default pool the compiler threads took 20-23 of the
        # 40-45 CPU-s of a cold perfbench ingest_publish round on 4
        # cores, with the minimum pool 13, and warm bench.py spot cells
        # did not slow. That one C2 thread still stayed busy for the
        # whole cold round, so the four tier-4 thresholds sit at 10x
        # HotSpot's defaults: C2 compiles only code that stays hot, and
        # the rest runs as profiled C1 code for longer. Measured on 4
        # cores in alternating perfbench pairs of one cold round each,
        # per run (medians over a driver JVM's life, sampled per thread
        # from /proc): the C2 thread fell 8.4 -> 3.7 CPU-s on
        # ingest_publish and 7.0 -> 3.0 on api_sequential, C1 held, and
        # the task and py4j threads grew 0.1-0.4 CPU-s. run_cpu_s fell
        # 11.63 -> 9.85 s (12 of 12 pairs) and 7.88 -> 6.79 s (11 of 12);
        # setup_s rose 0.228 -> 0.243 and 0.212 -> 0.227 s (session-start
        # code stays at tier 3 longer) and round wall time 3-8%, so a
        # cold round spends less CPU but no less time. Warm and noop
        # bench.py spot medians at sf0.1 (five keys, 4 runs per side)
        # stayed within the parent's run-to-run spread. 5x did not cut
        # run_cpu_s by more than the parent's spread; 20x cut more but
        # put three warm or noop spot medians above it. A cluster
        # driver runs no tasks, and executors keep JVM ergonomics.
        .config(
            "spark.driver.extraJavaOptions",
            _with_driver_pins(_JVM_PINS) if local else _JVM_PINS,
        )
        .config("spark.executor.extraJavaOptions", _JVM_PINS)
        # The app-status store keeps the last 1000 SQL executions WITH
        # their full plan graphs even when the UI is off; this catalog's
        # analyzed plans are large (dedup fixpoints, composed curation
        # lineages), and a full bench pass issues ~1500 executions —
        # the retained graphs alone ran a 16 GiB driver heap out of
        # memory in the r11 driver window (OOM inside Catalyst
        # canonicalization allocation, BENCH_r11). Cap the history: a
        # service needs recent-N diagnostics, not an unbounded museum.
        .config("spark.sql.ui.retainedExecutions", "64")
        .config("spark.ui.retainedJobs", "200")
        .config("spark.ui.retainedStages", "200")
        .config("spark.ui.retainedTasks", "5000")
        # Catalyst constraint propagation (getAllValidConstraints /
        # InferFiltersFromConstraints) is super-linear in expression
        # width: alias substitution re-canonicalizes every constraint
        # per Project alias, and on this catalog's wide flat-column
        # plans (64-term dot-product chains under joins) one logical
        # plan was observed burning 16+ DRIVER-MINUTES (and the r11
        # driver window's heap) inside ExpressionSet.map before any
        # task ran. Every filter in the catalog is written explicitly,
        # so inferred constraints buy nothing here — and no 100 TB
        # deployment can afford minutes of driver-side optimizer time
        # per query. Known upstream pathology (SPARK-19846 family).
        .config("spark.sql.constraintPropagation.enabled", "false")
    )
    if local:
        # forked Python workers share the daemon's pre-imported Arrow
        # stack (see worker_daemon); the package's parent directory on
        # the workers' path lets the daemon import it from any cwd, so
        # the package needs no zip shipped by addPyFile (the marker
        # tells ensure_package_on_executors it is already there).
        #
        # Stream checkpoints rename every file they write (offsets,
        # commits, state-store deltas). Spark's default manager renames
        # through Hadoop's FileContext, which on the local filesystem
        # without Hadoop's native library forks a `readlink` per
        # rename: about 280 forks per perfbench ingest_publish round,
        # whose reaped-children CPU was 1.06-1.47 s per round on 4
        # cores. The FileSystem-based manager renames with one
        # rename(2). Spark picks the FileContext one only for its
        # atomic rename on filesystems where FileSystem.rename is not
        # atomic; a local master's checkpoints are on local disk.
        builder = (
            builder.config(
                "spark.python.daemon.module", "pygeoapi_ingestor_spark.worker_daemon"
            )
            .config(
                "spark.executorEnv.PYTHONPATH",
                os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            )
            .config(_SHIPPED, "true")
            .config(
                "spark.sql.streaming.checkpointFileManagerClass",
                "org.apache.spark.sql.execution.streaming.checkpointing."
                "FileSystemBasedCheckpointFileManager",
            )
        )
    for k, v in (extra_conf or {}).items():
        # the -Xss32m pin (r11 canonicalization StackOverflow fix), the
        # concurrent-explicit-GC pin (r14 full-pause fix) and, on a
        # local driver, the compile-policy pins are load-bearing: a
        # caller adding its own JVM flags must not silently REPLACE
        # them (ADVICE r12) — merge, keeping the caller's flags after
        # ours so they still win any same-flag conflict
        # (-XX:-ExplicitGCInvokesConcurrent counts as the caller
        # providing the flag; a policy pin is dropped only when the
        # caller sets that same -XX:Name=).
        if k in ("spark.driver.extraJavaOptions", "spark.executor.extraJavaOptions"):
            if local and k == "spark.driver.extraJavaOptions":
                v = _with_driver_pins(v)
            if "ExplicitGCInvokesConcurrent" not in v:
                v = f"-XX:+ExplicitGCInvokesConcurrent {v}"
            if "-Xss" not in v:
                v = f"-Xss32m {v}"
        builder = builder.config(k, v)
    return builder.getOrCreate()


def _with_driver_pins(opts: str) -> str:
    """``opts`` with every local-driver pin whose flag name it does not
    set put before it."""
    pins = [
        f"-XX:{name}={value}" for name, value in _LOCAL_DRIVER_PINS.items()
        if f"-XX:{name}=" not in opts
    ]
    return " ".join([*pins, opts])


def spread_if_narrow(df):
    """Repartition to the session's core count ONLY when the input has
    fewer partitions — a local single-file parquet arrives as one
    partition and would serialize any all-pairs / heavy-projection
    stage on one thread, while a production input with thousands of
    partitions must keep its partitioning (no gratuitous full-data
    shuffle, no parallelism collapse).

    Decides without a Spark job where it can (``_narrow_partitions``):
    ``df.rdd.getNumPartitions()`` makes AQE execute every broadcast
    stage of the plan during the build, and the action then runs it
    again. Only a plan with a shuffle on its streamed path falls back
    to that count."""
    par = df.sparkSession.sparkContext.defaultParallelism
    n = _narrow_partitions(df._jdf.queryExecution().sparkPlan())
    if n is None:
        n = df.rdd.getNumPartitions()
    if n < par:
        return df.repartition(par)
    return df


# leaves whose ``execute()`` only builds an RDD: no job, no file read
_RDD_LEAVES = ("LocalTableScanExec", "RDDScanExec", "RangeExec")
# broadcast joins whose output rows all come from the streamed side's
# partitions, by (join type, build side)
_STREAMED_JOINS = {
    ("Inner", "BuildLeft"), ("Inner", "BuildRight"),
    ("Cross", "BuildLeft"), ("Cross", "BuildRight"),
    ("LeftOuter", "BuildRight"), ("LeftSemi", "BuildRight"),
    ("LeftAnti", "BuildRight"), ("RightOuter", "BuildLeft"),
}


def _narrow_partitions(plan) -> int | None:
    """The output partition count of a physical plan (the pre-AQE
    ``sparkPlan``) whose streamed path from root to leaf is narrow: the
    streamed leaf's count, which a narrow operator and the streamed side
    of a broadcast join keep. None when an operator on that path
    repartitions or needs a distribution (a shuffle's post-AQE count is
    only known by running it) or the leaf is of another kind. A file
    scan's splits come from the file listing, so no job runs."""
    while True:
        name = plan.getClass().getSimpleName()
        kids = plan.children()
        if kids.size() == 0:
            if name == "FileSourceScanExec":
                return plan.inputRDD().getNumPartitions()
            if name in _RDD_LEAVES:
                return plan.execute().getNumPartitions()
            return None
        if name in ("BroadcastHashJoinExec", "BroadcastNestedLoopJoinExec"):
            side = plan.buildSide().toString()
            if (plan.joinType().toString(), side) not in _STREAMED_JOINS:
                return None
            plan = kids.apply(1 if side == "BuildLeft" else 0)
            continue
        if kids.size() != 1 or "Exchange" in name:
            return None
        child = kids.apply(0)
        dist = plan.requiredChildDistribution().apply(0)
        if dist.getClass().getSimpleName() != "UnspecifiedDistribution$" or not (
            plan.outputPartitioning().equals(child.outputPartitioning())
        ):
            return None
        plan = child


def ensure_package_on_executors(spark: SparkSession) -> None:
    """Ship this package to executor Python workers via ``addPyFile``.

    Required by the pandas-UDF operators (SPI, multimodal decode): their
    closures reference this package by module name, and executor workers
    don't share the driver's sys.path (e.g. when the driver process runs
    from a different cwd). Idempotent per session. A local ``get_spark``
    session sets the marker up front: its workers' ``PYTHONPATH`` already
    holds the package, so only sessions built elsewhere ship the zip.
    """
    try:
        if spark.conf.get(_SHIPPED, None) == "true":
            return
    except Exception:
        pass
    import shutil
    import tempfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    parent = os.path.dirname(pkg_dir)
    zip_base = os.path.join(
        tempfile.gettempdir(), f"pygeoapi_ingestor_spark_{os.getpid()}"
    )
    zip_path = shutil.make_archive(
        zip_base, "zip", root_dir=parent, base_dir="pygeoapi_ingestor_spark"
    )
    spark.sparkContext.addPyFile(zip_path)
    spark.conf.set(_SHIPPED, "true")


TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)
