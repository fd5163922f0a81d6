"""The three workloads. Each runs one closed-loop client that issues one
operation at a time against a session at ``local[nproc]``.

- ``relational`` and ``llm_curation`` (class ``Batch``): an operation is
  one registered query, built with ``REGISTRY[name].fn`` and forced with
  a noop write. A pass runs the workload's fixed query list once.
- ``flagship_stream`` (class ``Stream``): an operation is one micro-batch
  of ``file_source(max_files_per_trigger=1)`` → ``build_flagship_stream``
  → ``ParquetSink`` under ``availableNow``. A pass is one replay.

Why each workload, and which layer it exercises, is in README.md.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import time

import inputs
import measure
import tracing
from inputs import WORK

# Fixed subsets of the registry's primaries, sized so that set-up, the
# correctness pass and the timed passes fit the run budget (README.md
# §Workloads). An odd count puts the median operation inside one query's
# samples rather than in the gap between two queries.
RELATIONAL = [
    "q_windowed_edit_size",
    "q_tpch_q3_shipping_priority", "q_tpch_q6_forecast_revenue",
    "q_tpch_q13_order_histogram", "q_running_total", "q_cube_orders",
    "q_approx_distinct_users",
]
LLM_CURATION = [
    "q_word_count", "q_pagerank_converged", "q_quality_score",
    "q_lm_perplexity", "q_pii_redact", "q_pq_codes", "q_multimodal_features",
]
PASSES_MIN = 3

# One replay: files × events, one file per trigger. The warm-up replay
# uses its own input, so it never touches the timed files. Its 8
# micro-batches take the JIT past the steepest part of its warm-up: after
# a 1-file warm-up the timed batches still slowed from 1.2 s to 0.6 s.
STREAM_EVENTS_PER_FILE = 5_000
STREAM_WARM = inputs.StreamSpec(files=8, events_per_file=STREAM_EVENTS_PER_FILE)
# Rough per-pass and per-batch times at local[4], used only to size a
# run from --seconds: they fix how many operations a run makes, so the
# sample count (and the tail percentile it allows) is the same every run.
BATCH_PASS_EST_S = 3.0
STREAM_BATCH_EST_S = 0.6


def start_session(traced: bool):
    """The engine's session; the Spark UI (and its REST API) only when
    traced."""
    os.environ["SPARK_GRAFT_UI"] = "1" if traced else "0"
    from flink_wikipedia_spark.session import get_spark

    spark = get_spark("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Batch:
    kind = "batch"

    def __init__(self, name: str, queries: list[str]) -> None:
        self.name, self.queries = name, queries

    def prepare(self, seed: int, seconds: int) -> None:
        self.sf_dir = inputs.tables(seed)
        self.passes = max(PASSES_MIN, round(seconds / BATCH_PASS_EST_S))

    def warm(self, spark) -> None:
        """The first, code-generating execution of every query, untimed:
        it belongs to set-up. Each result (or the error a query raised,
        which recurs in the timed passes) is kept for the oracle check
        after the timed passes, so no query runs outside them twice."""
        from flink_wikipedia_spark.plans import REGISTRY
        from flink_wikipedia_spark.plans.registry import release_caches

        self.results: dict = {}
        for q in self.queries:
            try:
                self.results[q] = REGISTRY[q].fn(spark, self.sf_dir).toPandas()
            except Exception as exc:
                self.results[q] = exc
            release_caches()

    def check(self, spark, timed: dict) -> dict[str, str | None]:
        """Each query's warm-up result against its oracle."""
        import check
        from flink_wikipedia_spark.plans import REGISTRY
        from flink_wikipedia_spark.schemas import ALL_TABLES

        con = check.oracle_connection(self.sf_dir, ALL_TABLES)
        out: dict[str, str | None] = {}
        try:
            for q in self.queries:
                got, oracle = self.results[q], REGISTRY[q].oracle
                try:
                    if isinstance(got, Exception):  # a raised query is a failed one
                        raise got
                    out[q] = check.compare(got, con.sql(oracle).df() if oracle else None)
                except Exception as exc:
                    out[q] = f"{type(exc).__name__}: {str(exc)[:300]}"
        finally:
            con.close()
        return out

    def timed(self, spark, tracer: tracing.Tracer | None = None) -> dict:
        """``passes`` closed-loop passes over the query list."""
        from flink_wikipedia_spark.plans import REGISTRY
        from flink_wikipedia_spark.plans.registry import release_caches

        lat: list[float] = []
        walls, cpus = [], []
        raised: dict[str, int] = {}
        root = tracer.span(self.name, None, time.time(), 0.0) if tracer else None
        for p in range(self.passes):
            cpu0, t0 = measure.tree_cpu_s(), time.perf_counter()
            for q in self.queries:
                fn = REGISTRY[q].fn
                start = time.perf_counter()
                try:
                    if tracer is None:
                        _noop(fn(spark, self.sf_dir))
                    else:
                        op = f"{p}:{q}"
                        sid = tracer.span("query", op, time.time(), 0.0, root, query=q)
                        with tracer.phase("build", op, sid):
                            df = fn(spark, self.sf_dir)
                        with tracer.phase("exec", op, sid):
                            _noop(df)
                        tracer.spans[sid]["end"] = time.time()
                except Exception:  # counted as failed; the loop goes on
                    raised[q] = raised.get(q, 0) + 1
                lat.append(time.perf_counter() - start)
                release_caches()
            walls.append(time.perf_counter() - t0)
            cpus.append(measure.tree_cpu_s() - cpu0)
        if tracer:
            tracer.spans[root]["end"] = time.time()
        return {"latencies": lat, "pass_walls": walls, "pass_cpus": cpus, "raised": raised}

    def failed_ops(self, timed: dict, checks: dict[str, str | None]) -> int:
        """Raised operations, plus every timed operation of a query whose
        result did not match."""
        wrong = sum(1 for q in self.queries if checks.get(q)) * self.passes
        return wrong + sum(n for q, n in timed["raised"].items() if not checks.get(q))

    def attempted(self, timed: dict) -> int:
        return len(timed["latencies"])

    def work_per_pass(self) -> int:
        """Queries per pass, the unit of ``throughput_per_s``."""
        return len(self.queries)

    def layers(self, spark, tracer: tracing.Tracer, timed: dict) -> dict:
        """Per-layer metrics of a traced pass (totals divided by passes)."""
        per = self.passes
        build = [s for s in tracer.spans if s["name"] == "build"]
        exe = [s for s in tracer.spans if s["name"] == "exec"]
        rest = tracing.job_layers(spark.sparkContext, tracing.batch_label)
        b, e = rest.get("build", tracing.EXEC_ZERO), rest.get("exec", tracing.EXEC_ZERO)
        build_s = sum(s["end"] - s["start"] for s in build) / per
        exec_s = sum(s["end"] - s["start"] for s in exe) / per
        out = {
            "build.s": build_s,
            "build.py4j_calls": sum(s["py4j_calls"] for s in build) / per,
            "build.jobs": b["jobs"] / per,
            "build.share": build_s / statistics.median(timed["pass_walls"]),
            "exec.s": exec_s,
        }
        out.update(_exec_metrics(e, per, exec_s))
        return out


def _exec_metrics(e: dict, per: int, exec_s: float) -> dict:
    out = {f"exec.{k}": v / per for k, v in e.items()}
    out["exec.slot_util"] = (e["task_run_s"] / per) / (exec_s * measure.nproc()) if exec_s else 0.0
    return out


class Stream:
    kind = "stream"
    name = "flagship_stream"

    def prepare(self, seed: int, seconds: int) -> None:
        files = max(2 * measure.TAIL_BEYOND, round(seconds / STREAM_BATCH_EST_S))
        self.spec = inputs.StreamSpec(files=files, events_per_file=STREAM_EVENTS_PER_FILE)
        self.main = inputs.stream(seed, self.spec, "main")
        self.warm_input = inputs.stream(seed, STREAM_WARM, "warm")
        self._runs = 0

    def _replay(self, spark, src: inputs.StreamInputs, tracer=None, parent=None):
        """Replay ``src`` to termination. Returns the query, its scratch
        directory and the error it failed with, or None."""
        from pyspark.errors import StreamingQueryException

        from flink_wikipedia_spark.streaming.pipeline import build_flagship_stream
        from flink_wikipedia_spark.streaming.sinks import ParquetSink
        from flink_wikipedia_spark.streaming.sources import file_source

        self._runs += 1
        base = WORK / "tmp" / f"{os.getpid()}-{self._runs}"
        shutil.rmtree(base, ignore_errors=True)
        sink = ParquetSink(str(base / "out"))
        if tracer is not None:
            sink = tracing.TimedSink(sink, tracer, parent)
        query = build_flagship_stream(
            spark,
            file_source(spark, src.files_dir, max_files_per_trigger=1),
            sink,
            checkpoint_dir=str(base / "ck"),
        )
        try:
            query.awaitTermination()
        except StreamingQueryException as exc:
            return query, base, f"{type(exc).__name__}: {str(exc)[:300]}"
        return query, base, None

    def warm(self, spark) -> None:
        """One untimed replay of its own small input. A failure here
        recurs in the timed replay, where it is counted."""
        _, base, _ = self._replay(spark, self.warm_input)
        shutil.rmtree(base, ignore_errors=True)

    def timed(self, spark, tracer: tracing.Tracer | None = None) -> dict:
        root = tracer.span(self.name, None, time.time(), 0.0) if tracer else None
        cpu0, t0 = measure.tree_cpu_s(), time.perf_counter()
        query, base, error = self._replay(spark, self.main, tracer, root)
        wall = time.perf_counter() - t0
        cpu = measure.tree_cpu_s() - cpu0
        if tracer:
            tracer.spans[root]["end"] = time.time()
        progress = [json.loads(p.json) for p in query.recentProgress]
        return {
            "latencies": [p["durationMs"].get("triggerExecution", 0) / 1e3 for p in progress],
            "pass_walls": [wall], "pass_cpus": [cpu], "progress": progress,
            "run_id": str(query.runId), "error": error,
            "out_dir": str(base / "out"), "root_span": root,
        }

    def check(self, spark, timed: dict) -> dict[str, str | None]:
        """Sink windows against the reference at the final watermark, and
        the decode counters against the injected lines."""
        import pandas as pd

        import check

        if timed["error"]:
            return {"stream": timed["error"]}
        layers = tracing.stream_layers(timed["progress"])
        out: dict[str, str | None] = {}
        wm = timed["progress"][-1]["eventTime"].get("watermark") if timed["progress"] else None
        if wm is None:
            return {"watermark": "the replay set no watermark"}
        wm_ms = int(pd.Timestamp(wm).value // 10**6)
        out["windows"] = check.compare_stream(
            check.sink_windows(timed["out_dir"]), check.stream_reference(self.main.truth, wm_ms)
        )
        if layers["decode.rows_total"] != self.main.events:
            out["decode.rows_total"] = f"{layers['decode.rows_total']} != {self.main.events}"
        if layers["decode.rows_corrupt"] != self.main.corrupt:
            out["decode.rows_corrupt"] = f"{layers['decode.rows_corrupt']} != {self.main.corrupt}"
        if layers["state.dropped_late"]:
            out["state.dropped_late"] = f"{layers['state.dropped_late']} rows dropped as late"
        return out

    def failed_ops(self, timed: dict, checks: dict[str, str | None]) -> int:
        """A wrong or failed replay fails every one of its batches."""
        return self.attempted(timed) if any(checks.values()) else 0

    def attempted(self, timed: dict) -> int:
        return max(len(timed["latencies"]), self.spec.files)

    def work_per_pass(self) -> int:
        """Input events per replay, the unit of ``throughput_per_s``."""
        return self.main.events

    def layers(self, spark, tracer: tracing.Tracer, timed: dict) -> dict:
        run_id = timed["run_id"]
        rest = tracing.job_layers(spark.sparkContext, lambda g: "exec" if g == run_id else None)
        sink = [s for s in tracer.spans if s["name"] == "sink.write"]
        exec_s = timed["pass_walls"][0]
        out = {"exec.s": exec_s}
        out.update(_exec_metrics(rest.get("exec", tracing.EXEC_ZERO), 1, exec_s))
        out.update(tracing.stream_layers(timed["progress"]))
        out["sink.write_ms"] = sum(s["end"] - s["start"] for s in sink) * 1e3
        out["sink.calls"] = len(sink)
        tracing.progress_spans(tracer, timed["progress"], timed["root_span"])
        return out

    def cleanup(self, timed: dict) -> None:
        shutil.rmtree(os.path.dirname(timed["out_dir"]), ignore_errors=True)


WORKLOADS = {
    "relational": lambda: Batch("relational", RELATIONAL),
    "llm_curation": lambda: Batch("llm_curation", LLM_CURATION),
    "flagship_stream": Stream,
}
