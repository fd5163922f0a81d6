"""Benchmark of the flink_wikipedia_spark engine: one workload per run.

    python3 perfbench/run.py --workload relational --seed 1 --seconds 12 --trace 0

Workloads: ``relational``, ``llm_curation``, ``flagship_stream``
(workloads.py; why each was chosen is in README.md). Inputs are made
from ``--seed`` and cached under ``perfbench/.work/inputs``. The session
runs at ``local[nproc]``.

A run:

1. makes (or reuses) the seeded inputs, outside every clock;
2. sets up: starts the session, which imports pyspark and launches the
   JVM, and runs one untimed operation per query (or a small replay);
   ``setup_s`` runs from process start to the first timed operation,
   less the input generation;
3. runs the timed region with tracing and the Spark UI off;
4. checks correctness after the timed region (batch: every query
   against its DuckDB oracle; stream: the sink and the decode counters);
5. with ``--trace 1``, restarts the session with the UI's REST API on
   and runs the timed region again with tracing, for the per-layer
   metrics and the tracing overhead.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics, or per-layer ones with
``--trace 1``). The full record of the run (host evidence, every sample,
check results, spans) goes to ``perfbench/.work/runs/``.
"""

from __future__ import annotations

import time

PROCESS_START = time.perf_counter()  # setup_s counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

import measure  # noqa: E402
import tracing  # noqa: E402
from inputs import REPO, WORK  # noqa: E402

END_TO_END_UNITS = {
    "setup_s": "s", "wall_s": "s", "cpu_s": "s", "op_p50_s": "s",
    "op_tail_s": "s", "throughput_per_s": "1/s", "ok_frac": "fraction",
}
PER_LAYER_UNITS = {
    "session.start_s": "s",
    "build.s": "s", "build.py4j_calls": "count", "build.jobs": "count",
    "build.share": "fraction",
    "exec.s": "s", "exec.jobs": "count", "exec.stages": "count",
    "exec.tasks": "count", "exec.task_run_s": "s", "exec.executor_cpu_s": "s",
    "exec.slot_util": "fraction", "exec.input_rows": "count", "exec.input_mb": "MB",
    "exec.shuffle_read_mb": "MB", "exec.shuffle_write_mb": "MB",
    "exec.spill_mb": "MB", "exec.failed_tasks": "count",
    "stream.batches": "count", "stream.latest_offset_ms": "ms",
    "stream.get_batch_ms": "ms", "stream.query_planning_ms": "ms",
    "stream.add_batch_ms": "ms", "stream.wal_commit_ms": "ms",
    "stream.commit_offsets_ms": "ms",
    "state.rows": "count", "state.commit_ms": "ms", "state.memory_mb": "MB",
    "state.partitions": "count", "state.dropped_late": "count",
    "decode.rows_total": "count", "decode.rows_corrupt": "count",
    "sink.write_ms": "ms", "sink.calls": "count",
    "trace.overhead_s": "s",
}


def configure_env() -> None:
    """Pin the engine's environment before pyspark is imported: cores
    from the CPU affinity mask, nothing inherited from SPARK_GRAFT_*,
    every Spark and JVM scratch file inside the checkout, and the
    package importable by Spark's Python workers."""
    for key in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[key]
    os.environ["SPARK_GRAFT_CPUS"] = str(measure.nproc())
    tmp, local = WORK / "tmp", WORK / "spark-local"
    tmp.mkdir(parents=True, exist_ok=True)
    local.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData" pyspark-shell'
    )
    paths = [str(REPO)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    sys.path.insert(0, str(REPO))


def stop_jvm() -> None:
    """Stop the session, then the JVM pyspark launched, and wait for it
    (its exit also ends the Python workers it forked). Safe to call when
    no JVM was started."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def parse_args(argv: list[str] | None) -> argparse.Namespace:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=12)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def end_to_end(wl, timed: dict, setup_s: float, failed: int, attempted: int) -> dict:
    wall = statistics.median(timed["pass_walls"])
    return {
        "setup_s": setup_s,
        "wall_s": wall,
        "cpu_s": statistics.median(timed["pass_cpus"]),
        "op_p50_s": statistics.median(timed["latencies"]),
        "op_tail_s": measure.tail(timed["latencies"])["value"],
        "throughput_per_s": wl.work_per_pass() / wall,
        "ok_frac": 1 - failed / attempted,
    }


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    for need in ("flink_wikipedia_spark", "tools/gen_sf.py"):
        if not (REPO / need).exists():
            print(f"perfbench: {need} not found under {REPO}", file=sys.stderr)
            return 2
    configure_env()
    from workloads import WORKLOADS, start_session

    host = measure.HostProbe()
    wl = WORKLOADS[args.workload]()
    t0 = time.perf_counter()
    wl.prepare(args.seed, args.seconds)
    inputs_s = time.perf_counter() - t0  # not part of setup_s

    try:
        t0 = time.perf_counter()
        spark = start_session(traced=False)
        session_s = time.perf_counter() - t0
        wl.warm(spark)
        setup_s = time.perf_counter() - PROCESS_START - inputs_s
        evidence = {
            "master": spark.sparkContext.master,
            "default_parallelism": spark.sparkContext.defaultParallelism,
        }

        timed = wl.timed(spark)
        checks = wl.check(spark, timed)
        attempted = wl.attempted(timed)
        failed = wl.failed_ops(timed, checks)
        record: dict = {"args": vars(args),
                        "setup": {"setup_s": setup_s, "session_s": session_s},
                        "checks": checks,
                        "timed": {k: v for k, v in timed.items() if k != "progress"},
                        "tail": measure.tail(timed["latencies"])}
        if wl.kind == "stream":
            record["stream_layers"] = tracing.stream_layers(timed["progress"])
            wl.cleanup(timed)
        metrics = end_to_end(wl, timed, setup_s, failed, attempted)
        units = END_TO_END_UNITS

        if args.trace:
            spark.stop()
            spark = start_session(traced=True)
            wl.warm(spark)
            tracer = tracing.Tracer(spark)
            try:
                traced = wl.timed(spark, tracer)
            finally:
                tracer.close()
            # layers a workload does not touch read 0, e.g. the stream has no
            # registry builder calls and batch workloads no micro-batches
            layers = dict.fromkeys(PER_LAYER_UNITS, 0)
            layers.update(wl.layers(spark, tracer, traced))
            layers["session.start_s"] = session_s
            layers["trace.overhead_s"] = (
                statistics.median(traced["pass_walls"]) - metrics["wall_s"]
            )
            record["end_to_end"] = metrics
            record["spans"] = tracer.spans
            if wl.kind == "stream":
                wl.cleanup(traced)
            metrics, units = layers, PER_LAYER_UNITS
    finally:
        stop_jvm()
    record["host"] = {**host.finish(), **evidence}
    record["metrics"] = metrics
    runs = WORK / "runs"
    runs.mkdir(parents=True, exist_ok=True)
    artifact = runs / f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json"
    artifact.write_text(json.dumps(record, default=str))
    print(f"perfbench: record in {artifact}", file=sys.stderr)
    result = {
        "correct": failed == 0 and not any(checks.values()),
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    sys.stderr.flush()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
