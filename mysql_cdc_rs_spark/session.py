"""SparkSession factory with scale-oriented defaults.

All entry points (tests, bench, driver contract) build sessions here so the
whole engine runs under one config story:

- Sized from the box: the default master is ``local[*]`` (or
  ``local[$SPARK_GRAFT_CPUS]``) and ``spark.sql.shuffle.partitions`` is set
  to the context's ``defaultParallelism`` once the session exists, so a
  4-core box runs 4-task shuffle stages and a 32-core box 32-task ones.  A
  partition count set explicitly, through ``extra_conf`` or
  ``spark-submit --conf``, always wins.  On a cluster, set it explicitly:
  with dynamic allocation, ``defaultParallelism`` at session start counts
  only the executors registered so far, and AQE can merge shuffle
  partitions but not split them.
- AQE on (coalesce partitions + skew-join): runtime re-planning replaces the
  reference's hand-tuned ring-buffer/queue sizing
  (/root/reference/binlog/src/relay_log/queue_manager.rs:11).
- Bounded Arrow batch size for every Python step (the decode UDF and the
  ``map_rows`` row maps): replaces the reference's payload buffer reuse +
  object pools
  (/root/reference/binlog/src/decoder/file_binlog_reader.rs:122-137).
- Session timezone pinned to UTC so timestamp semantics match the DuckDB
  oracle bit-for-bit.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# AQE's swap of a stage that came out empty (and the stages under it) for an
# empty relation leaves the observations in them, such as curation's cap
# census, with no metrics: every engine session excludes the rule
EXCLUDED_RULES = "spark.sql.adaptive.optimizer.excludedRules"
EMPTY_RELATION_RULE = "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation"


def build_session(
    app_name: str = "mysql_cdc_rs_spark",
    master: str | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or get) a SparkSession with the engine's standard config."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        # --- correctness-critical ---
        .config("spark.sql.session.timeZone", "UTC")
        # --- adaptive execution: runtime re-plan at any scale ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(EXCLUDED_RULES, EMPTY_RELATION_RULE)
        # --- vectorized decode path sizing (Arrow batches to the Arrow UDFs) ---
        # 2000-row batches keep the JVM->Python->JVM pipeline full: with one
        # huge batch per task the stage is latency-bound (measured 2.2x
        # slower at local[32]); small batches overlap Arrow IO with decode.
        # This bound is ALSO the Python-worker memory cap for the decode
        # path: a worker holds ~one batch of raw html + one of decoded
        # output (~2-5 MB at 2000 rows of ~1 KB pages), so worker RSS stays
        # flat regardless of task size — relevant to the 12.8M-probe
        # hung-worker incident (BENCH/SOAK.md): an unbounded batch would
        # make worker memory proportional to partition size and OOM-kills
        # would correlate with the largest partitions.  With this bound in
        # place, a dead worker is environmental; speculation (see below) is
        # the fleet-scale backstop either way.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2000")
        # --- scan sizing: keep partitions executor-memory-friendly at scale ---
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # broadcast threshold: the oracle queries' small join sides; enrich's
        # dimensions are map literals and join nothing.
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    # JVM<->Python worker transport: Unix domain sockets (Spark 4.1+).
    # Forensics from a wedged 12.8M soak
    # (BENCH/hang/tcp_retransmit_collapse_batch22.txt) showed the "silent
    # hang" class is a LOOPBACK TCP RETRANSMISSION COLLAPSE: both
    # worker<->JVM pairs sat with 2-3.8 MB retransmitted, dsack_dups 30-70,
    # reordering:32 and rto backed off to 120s+ (backoff:14), every buffer
    # full in both directions — the kernel dropping loopback segments under
    # burst, then exponential backoff freezing the pipe for minutes (the
    # earlier daemon-handshake framing was one symptom of the same wedge).
    # AF_UNIX stream sockets have no retransmission, no congestion control
    # and no rto backoff, so the whole failure class is unrepresentable.
    #
    # Left to Spark's own keys (``extra_conf`` or ``spark-submit --conf``):
    # - straggler backstop, off here so single-attempt timing keeps bench
    #   runs and plan snapshots deterministic; a fleet-scale run should set
    #   spark.speculation=true (this engine's soaks used multiplier 4,
    #   quantile 0.9).  Not a cure in local mode: a speculative copy never
    #   runs on the one executor already running the attempt.
    # - worker crash forensics: spark.python.worker.faulthandler.enabled and
    #   spark.sql.execution.pyspark.udf.faulthandler.enabled make a dying
    #   Python worker dump its traceback.
    # - TCP transport: spark.python.unix.domain.socket.enabled=false.
    builder = builder.config("spark.python.unix.domain.socket.enabled", "true")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    # Shuffle width = the cores the context got.  Every shuffle stage runs
    # this many tasks before AQE coalesces, and on small micro-batches the
    # per-task cost dominates: Spark's default (200), or a count sized for
    # a wider box, multiplies each batch's task count for no parallelism.
    # Set after getOrCreate because defaultParallelism is only known then;
    # an explicit count (extra_conf, or spark-submit --conf, which lands in
    # the SparkConf) is left alone.
    sc, key = spark.sparkContext, "spark.sql.shuffle.partitions"
    if key not in (extra_conf or {}) and not sc.getConf().contains(key):
        spark.conf.set(key, str(sc.defaultParallelism))
    ship_package(spark)
    return spark


def require_census_conf(spark: SparkSession) -> None:
    """Raise ``ValueError`` unless ``spark`` excludes ``EMPTY_RELATION_RULE``
    as ``build_session`` does.  Without it a curation stage that comes out
    empty, such as a stream batch that drops nothing, loses its cap census
    without an error."""
    rules = spark.conf.get(EXCLUDED_RULES, "").split(",")
    if EMPTY_RELATION_RULE not in (r.strip() for r in rules):
        raise ValueError(
            f"{EXCLUDED_RULES} does not list {EMPTY_RELATION_RULE}, so "
            "curation's cap census would be lost on an empty stage; build "
            "the session with mysql_cdc_rs_spark.session.build_session"
        )


_SHIPPED: set[str] = set()


def ship_package(spark: SparkSession) -> None:
    """Ship this package to executors (addPyFile), once per SparkContext.

    UDF closures reference the package by module, so executor Python workers
    must import it — and they inherit neither the caller's cwd nor its
    sys.path edits.  Keyed on applicationId (id(sc) is recycled across
    session restarts).
    """
    sc = spark.sparkContext
    if sc.applicationId in _SHIPPED:
        return
    import shutil
    import tempfile

    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if os.path.isdir(pkg_root):
        zip_path = shutil.make_archive(
            os.path.join(tempfile.gettempdir(), "mysql_cdc_rs_spark_pkg"),
            "zip",
            root_dir=pkg_root,
            base_dir="mysql_cdc_rs_spark",
        )
        sc.addPyFile(zip_path)
    elif os.path.isfile(pkg_root) and pkg_root.endswith(".zip"):
        # running FROM a zip (spark-submit --py-files engine.zip): executors
        # already receive that zip via --py-files; re-adding the same
        # archive is enough, re-zipping a zip member path would crash.
        sc.addPyFile(pkg_root)
    # else: installed as a wheel/egg-dir the workers share — nothing to ship
    _SHIPPED.add(sc.applicationId)
