"""SparkSession factory.

The reference leaves every runtime knob at Flink defaults
(``DataStreamJob.java:110-143`` sets no parallelism, no checkpointing,
no state backend). We instead pin the configuration that matters for a
large cluster up front:

- **AQE on** — runtime coalescing of shuffle partitions, skew-join
  splitting, and dynamic join-strategy switching. At 100 TB, static
  ``spark.sql.shuffle.partitions`` is always wrong for some stage; AQE
  fixes it per-stage from map-output statistics.
- **UTC session timezone** — windowing/bucketing must be
  timezone-stable or the DuckDB oracle (and any cross-engine consumer)
  diverges.
- **Arrow enabled** — every Python↔JVM crossing (the few we allow) is
  columnar-batched.
- **Shuffle partitions scale with the data, not a constant**: by
  default every exchange starts at a high AQE initial partition count
  and coalesces to the 64 MB advisory size from map-output statistics —
  the same session handles sf0.001 (coalesces to a few tasks) and sf100
  (keeps hundreds, bounding per-task sort/join state) with zero knobs.
  ``get_spark(shuffle_partitions=N)`` pins an exact static count.
"""

from __future__ import annotations

import os
import re
import sys

from pyspark.sql import SparkSession

# Defaults match the driver environment: local[$SPARK_GRAFT_CPUS] with 32
# threads. On a real cluster, master/partitions come from spark-submit.
_DEFAULT_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")

# Deployment rule from the sf100 forensics (SCALE.md §sf100 forensics,
# logs_r10/forensics_*.json): Q9/Q21 spilled 18-20 GB at 8 GB heap over
# 32 cores and the spill vanished entirely at 1 GB/core with wall
# unchanged — size JVM heap to at least this many MB per concurrent
# task slot.
HEAP_MB_PER_CORE_RULE = 1024


def _parse_mem_mb(mem: str) -> int | None:
    """Spark memory string ("8g", "4096m", "512k", bare bytes) → MB."""
    mem = mem.strip().lower()
    units = {"k": 1 / 1024, "m": 1, "g": 1024, "t": 1024 * 1024}
    try:
        if mem and mem[-1] in units:
            return int(float(mem[:-1]) * units[mem[-1]])
        return int(int(mem) / (1024 * 1024))
    except ValueError:
        return None


def heap_rule_warning(master: str, heap_mem: str) -> str | None:
    """The 1 GB/core rule as a checkable statement: returns the warning
    text when the JVM executing tasks has under HEAP_MB_PER_CORE_RULE
    MB of heap per concurrent task slot, else None. Only the masters
    whose heap/core shape this process fully controls are checked —
    local[N] (driver JVM runs all N slots on ``heap_mem``) and
    local-cluster[w,c,m] (each worker JVM: m MB over c slots); under a
    real cluster manager executor sizing belongs to spark-submit."""
    if master.startswith("local["):
        # local[N], local[*], and local[N,maxRetries] all exist
        n = master[len("local[") : -1].split(",")[0].strip()
        if n == "*":
            cores = os.cpu_count() or 1
        elif n.isdigit():
            cores = int(n)
        else:
            return None  # malformed master: let Spark reject it, not us
        mem_mb = _parse_mem_mb(heap_mem)
    elif master.startswith("local-cluster["):
        m = re.fullmatch(
            r"local-cluster\[\s*(\d+)\s*,\s*(\d+)\s*,\s*(\d+)\s*\]", master
        )
        if m is None:
            return None
        cores, mem_mb = int(m.group(2)), int(m.group(3))
    else:
        return None
    if mem_mb is None or cores <= 0:
        return None
    per_core = mem_mb // cores
    if per_core >= HEAP_MB_PER_CORE_RULE:
        return None
    return (
        f"flink_wikipedia_spark: {mem_mb} MB heap over {cores} task slots "
        f"= {per_core} MB/core, below the {HEAP_MB_PER_CORE_RULE} MB/core "
        "deployment rule — heavy hash aggregates/joins (TPC-H Q9/Q21 "
        "class) will spill to disk at large scale factors. Measured at "
        "sf100: 18-20 GB spill at 256 MB/core, zero at 1 GB/core "
        "(SCALE.md §sf100 forensics). Raise spark.driver.memory / "
        "executor memory or lower core count."
    )


def get_spark(
    app_name: str = "flink-wikipedia-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Idempotent: Spark returns the active session if one exists, so tests
    and the driver can call this freely.
    """
    if master is None:
        # SPARK_GRAFT_MASTER lets the verify/bench tooling run the same
        # code under multi-JVM masters — local-cluster[N,cores,memMB]
        # spawns real executor processes with serialized exchanges,
        # remote broadcasts, and per-executor Python workers, the class
        # of bug single-JVM local[*] structurally cannot surface.
        master = os.environ.get("SPARK_GRAFT_MASTER", f"local[{_DEFAULT_CPUS}]")
    # When nobody pins a partition count, let AQE size every exchange
    # from map-output statistics: start each shuffle at a HIGH initial
    # partition count and coalesce down by the 64 MB advisory size.
    # Small SFs coalesce to a handful of tasks (measured: bench.py at
    # sf0.1 unchanged); big inputs keep enough partitions that per-task
    # sort/join state stays bounded — the sf100 gauntlet's Q9/Q21 ran
    # 19 M-row partitions into GC thrash and heap OOM under a static
    # count of 32, and 2.4× faster once partition count scaled with the
    # data. A 100 TB cluster tunes the SAME way: high initial, AQE
    # coalesces. An explicit shuffle_partitions argument stays exact.
    adaptive_initial: int | None = None
    if shuffle_partitions is None:
        shuffle_partitions = int(_DEFAULT_CPUS)
        adaptive_initial = 512

    # Streaming state store: the heap-backed default is faster while state
    # fits in memory; RocksDB is the right call once keyspace × window
    # count outgrows the heap (bounded memory, spills to local disk). Opt
    # in with SPARK_GRAFT_STATE_STORE=rocksdb for large-state deployments.
    state_store = os.environ.get("SPARK_GRAFT_STATE_STORE", "hdfs").lower()
    if state_store not in ("hdfs", "heap", "rocksdb"):
        # a typo here silently selecting heap is exactly the OOM the
        # opt-in exists to prevent — fail loudly instead
        raise ValueError(
            f"SPARK_GRAFT_STATE_STORE={state_store!r}: expected hdfs|heap|rocksdb"
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # --- correctness-critical ---
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "true")
        # --- scale posture (SURVEY.md §4.3(4)) ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # With AQE and coalescing on, batch exchanges start at
        # initialPartitionNum, so this value is read only by streaming
        # plans (AQE is off there): it is the state-store partition count
        # of stateful operators, frozen into each new checkpoint.
        # Stream-only confs (this count for bounded keyspaces, the
        # checkpoint manager by checkpoint scheme) are decided per query
        # in one place, streaming/pipeline._start_stream.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config(
            "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
            str(adaptive_initial if adaptive_initial else shuffle_partitions),
        )
        # dim tables (region/nation/customer/supplier/part at our SFs) stay
        # broadcastable; 64 MB is a deliberate bump over the 10 MB default —
        # at 100 TB fact scale, broadcasting a 50 MB dim beats shuffling
        # the fact side every time.
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Let AQE re-size exchanges INSIDE cached plans (off by default).
        # Without it every .persist() compiles at the raw initial
        # partition count with no runtime coalescing — measured on
        # q_pagerank_parts_suppliers' cached edge list at sf0.1: five
        # 512-task stages (~2,560 tasks, 30+ CPU-s of pure per-task
        # floor) collapse to a handful of right-sized tasks with the
        # flag on (wall 3.6 s → 2.7 s median, steady-state 2.3 s). The
        # same map-output statistics AQE uses everywhere size the cache,
        # so the behavior stays scale-adaptive: big inputs keep hundreds
        # of partitions, small ones coalesce (guide §2.4 — the exchange
        # a cache pins is still an exchange worth coalescing).
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        # Scan-parallelism floor (guide §6): openCostInBytes models the
        # seek-equivalent cost of opening one file, and its 4 MB default
        # (tuned for spinning disks) FLOORS maxSplitBytes at 4 MB — a
        # single-file 11 MB table scans as ~3 tasks no matter how many
        # cores sit idle, serializing every scan-dominated aggregate
        # (TPC-H Q1's decimal sums ran on 3 of 32 cores). 128 KB keeps
        # splits sized by totalBytes/minPartitionNum (i.e. by input size
        # over available parallelism — scale-adaptive, not a constant):
        # at 100 TB splits are capped by maxPartitionBytes exactly as
        # before, and tiny-file packing still charges 128 KB per file so
        # a million-small-file scan does not explode into tasks.
        .config("spark.sql.files.openCostInBytes", str(128 * 1024))
        # --- Python boundary: always Arrow, never row-at-a-time ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # PySpark 4's DataFrame error-context capture (_with_origin)
        # pays ~4 py4j round trips PER DataFrame API call — a
        # getActiveSession, a conf.get, and a PySparkCurrentOrigin
        # set/clear — purely to decorate error messages with the Python
        # call site. Measured on q_ivfpq_search's plan build: 1907 →
        # 1334 round trips with it off (r16 cProfile; every registered
        # query's build shrinks). Pure driver-side overhead, zero effect
        # on results or executed plans at any scale.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # events.ts unit handling (NANOS vs MICROS) lives in
        # schemas.load_table, which sniffs the parquet footer and sets
        # spark.sql.legacy.parquet.nanosAsLong only for NANOS files

        # 4g is the production default; the local verify gate collects
        # full results to compare against the oracle, and a map-only
        # 100M-row × 9-col result (q_date_functions at sf100) serializes
        # past 4 GiB — the CHECKER's collect, not the engine, is what
        # needs the headroom, so big-SF gauntlets override via env.
        .config(
            "spark.driver.maxResultSize",
            os.environ.get("SPARK_GRAFT_MAX_RESULT_SIZE", "4g"),
        )
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.showConsoleProgress", "false")
    )
    # SPARK_GRAFT_UI=1 exposes the UI's REST API for the bench/forensics
    # instrumentation (stage_metrics.StageMetricsSampler reads per-query
    # executor CPU / shuffle / spill deltas from it). Off by default —
    # gates and tests don't pay for the HTTP server. When on: port 0
    # (ephemeral — concurrent gates must not fight over 4040) and stage
    # retention sized so a full bench suite (~5k stages) never sees the
    # status store evict mid-run (eviction makes cumulative deltas lie).
    if os.environ.get("SPARK_GRAFT_UI", "").lower() in ("1", "true", "yes"):
        builder = (
            builder.config("spark.ui.enabled", "true")
            .config("spark.ui.port", "0")
            .config("spark.ui.retainedStages", "100000")
            .config("spark.ui.retainedJobs", "100000")
        )
    else:
        builder = builder.config("spark.ui.enabled", "false")
    # Connector jars for the optional real-endpoint integration tests
    # (tests/test_integration_endpoints.py): e.g.
    # SPARK_GRAFT_JARS_PACKAGES="org.apache.spark:spark-sql-kafka-0-10_2.13:4.1.2,
    # org.mongodb.spark:mongo-spark-connector_2.13:10.5.0". Must be set
    # BEFORE the first get_spark of the process (jars resolve at JVM start).
    pkgs = os.environ.get("SPARK_GRAFT_JARS_PACKAGES")
    if pkgs:
        builder = builder.config("spark.jars.packages", pkgs)
    if master.startswith("local-cluster["):
        # size each executor to its worker's full memory grant (the
        # third bracket field, MB) — the 1g default would waste 3/4 of
        # a local-cluster[4,8,4096] worker — and pin the executor-side
        # Python to the driver's interpreter so pandas/pyarrow versions
        # can't skew between the two ends of the Arrow boundary.
        m = re.fullmatch(
            r"local-cluster\[\s*(\d+)\s*,\s*(\d+)\s*,\s*(\d+)\s*\]", master
        )
        if m is None:
            raise ValueError(
                f"malformed local-cluster master {master!r}: expected "
                "local-cluster[numWorkers,coresPerWorker,memoryPerWorkerMB]"
            )
        mem_mb = int(m.group(3))
        builder = builder.config("spark.executor.memory", f"{mem_mb}m").config(
            "spark.pyspark.python", sys.executable
        )
    if state_store == "rocksdb":
        builder = builder.config(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
    spark = builder.getOrCreate()
    # One startup line when the JVM-heap-per-core shape violates the
    # 1 GB/core deployment rule (sf100 forensics) — the rule travels
    # with the engine, not just the docs. Once per process: every
    # later get_spark reuses the same session anyway. Checked AFTER
    # getOrCreate against the session's EFFECTIVE spark.driver.memory
    # (ADVICE r11): a driver sized by spark-submit --driver-memory, or
    # a pre-existing JVM this call merely re-attached to, may differ
    # from SPARK_GRAFT_DRIVER_MEM — warning with env-var numbers would
    # print MB/core figures that don't match the real heap. The env
    # default stays as the fallback when the conf is unset (plain
    # local[N] sessions report no driver.memory conf entry).
    global _HEAP_RULE_WARNED
    if not _HEAP_RULE_WARNED:
        try:
            effective_mem = spark.conf.get("spark.driver.memory")
        except Exception:
            effective_mem = None
        warning = heap_rule_warning(
            # use the MASTER the session actually runs under, too — a
            # reused session ignores this call's master argument
            spark.sparkContext.master,
            effective_mem
            or os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        )
        if warning is not None:
            print(warning, file=sys.stderr)
        _HEAP_RULE_WARNED = True
    # Any non-single-JVM master (local-cluster, standalone, YARN, k8s)
    # runs Python workers that must IMPORT this package: module-level
    # functions used as UDFs are cloudpickled by reference, not value.
    # Ship the package zip — the programmatic --py-files. (Found by the
    # round-7 local-cluster gauntlet: q_multimodal_decode's module-level
    # mapInPandas fn raised ModuleNotFoundError on remote workers while
    # closure-defined UDFs, pickled by value, sailed through.)
    if not spark.sparkContext.master.startswith("local["):
        _ship_package(spark)
    return spark


_HEAP_RULE_WARNED = False

_SHIPPED_APP_IDS: set[str] = set()


def _ship_package(spark: SparkSession) -> None:
    """Zip flink_wikipedia_spark and addPyFile it so executor Python
    workers can unpickle by-reference UDFs. Once per application."""
    app_id = spark.sparkContext.applicationId
    if app_id in _SHIPPED_APP_IDS:
        return
    import shutil
    import tempfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    stage = tempfile.mkdtemp(prefix="fws_pyfiles_")
    archive = shutil.make_archive(
        os.path.join(stage, "flink_wikipedia_spark"),
        "zip",
        root_dir=os.path.dirname(pkg_dir),
        base_dir=os.path.basename(pkg_dir),
    )
    spark.sparkContext.addPyFile(archive)
    _SHIPPED_APP_IDS.add(app_id)


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
