"""Tests of the benchmark's own logic. Only the failed-operation tests
at the end start Spark, one local[1] session for all of them.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import filecmp
import json
import os
import shutil
import subprocess
import sys
import time
from pathlib import Path
from types import SimpleNamespace

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

BENCH = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(BENCH))

import check  # noqa: E402
import inputs  # noqa: E402
import measure  # noqa: E402
import run  # noqa: E402
import tracing  # noqa: E402
import workloads  # noqa: E402

E = inputs.EPOCH_2024_MS  # a 5-minute window boundary
W = check.WINDOW_MS


# --- tail-percentile rule ---------------------------------------------------

def test_tail_is_the_eleventh_largest_sample():
    samples = [float(i) for i in range(1, 25)]  # 1..24
    t = measure.tail(samples)
    assert t["value"] == 14.0  # 10 samples (15..24) lie beyond it
    assert t["n"] == 24 and t["ok"]
    assert t["percentile"] == pytest.approx(100 * (1 - 10 / 24), abs=0.01)


def test_tail_moves_up_with_more_samples():
    t = measure.tail([float(i) for i in range(100)])
    assert t["value"] == 89.0 and t["percentile"] == 90.0


def test_tail_falls_back_to_median_below_twenty_samples():
    t = measure.tail([3.0, 1.0, 2.0])
    assert t == {"value": 2.0, "percentile": 50.0, "n": 3, "ok": False}


def test_tail_ignores_input_order():
    xs = [0.5, 0.1, 0.9, 0.3] * 6
    assert measure.tail(xs) == measure.tail(sorted(xs))


# --- /proc process-tree CPU -------------------------------------------------

BURN = "import time\nt = time.process_time()\nwhile time.process_time() - t < {s}: pass\n"


def test_tree_cpu_counts_a_live_child():
    code = BURN.format(s=0.4) + "print('burnt', flush=True)\ntime.sleep(30)\n"
    with subprocess.Popen([sys.executable, "-c", code], stdout=subprocess.PIPE, text=True) as child:
        try:
            before_self = measure.tree_cpu_s(os.getpid()) - measure.tree_cpu_s(child.pid)
            assert child.stdout.readline().strip() == "burnt"
            assert measure.tree_cpu_s(child.pid) >= 0.35
            assert measure.tree_cpu_s() - before_self >= 0.35
        finally:
            child.kill()
    assert child.returncode is not None  # the with block waited for it


def test_tree_cpu_counts_an_exited_child():
    before = measure.tree_cpu_s()
    subprocess.run([sys.executable, "-c", BURN.format(s=0.4)], check=True, timeout=30)
    assert measure.tree_cpu_s() - before >= 0.35


def test_tree_cpu_of_a_missing_process_is_zero():
    assert measure.tree_cpu_s(2**22 + 17) == 0.0


# --- stream reference -------------------------------------------------------

def _truth(tmp_path: Path) -> str:
    rows = [  # domain, user_type, namespace, ts_ms, old, new
        ("a", "human", "main namespace", E + 1_000, 10, 15),  # 5
        ("a", "HUMAN", "Main Namespace", E + 2_000, 20, 10),  # 10, case-insensitive
        ("a", "bot", "main namespace", E + 3_000, 0, 100),  # bot: out
        ("a", "human", "talk", E + 4_000, 0, 100),  # not main: out
        ("b", "human", "main namespace", E + W - 1, 1, 4),  # 3, last ms of window 0
        ("b", "human", "main namespace", E + W, 0, 7),  # 7, first ms of window 1
        ("a", "human", "main namespace", E + 2 * W + 500, 5, 5),  # window 2: still open
    ]
    cols = list(zip(*rows))
    path = tmp_path / "truth.parquet"
    pq.write_table(
        pa.table({"domain": cols[0], "user_type": cols[1], "namespace": cols[2],
                  "ts_ms": cols[3], "old_length": cols[4], "new_length": cols[5]}),
        path,
    )
    return str(path)


def test_stream_reference_by_hand(tmp_path):
    ref = check.stream_reference(_truth(tmp_path), watermark_ms=E + 2 * W)
    assert ref.astype({"edit_size": "int64"}).values.tolist() == [
        ["a", E, 15], ["b", E, 3], ["b", E + W, 7]
    ]


def test_stream_reference_excludes_windows_the_watermark_has_not_closed(tmp_path):
    ref = check.stream_reference(_truth(tmp_path), watermark_ms=E + 2 * W - 1)
    assert ref[["domain", "start_ms"]].values.tolist() == [["a", E], ["b", E]]


def test_compare_stream_reports_differences(tmp_path):
    ref = check.stream_reference(_truth(tmp_path), watermark_ms=E + 2 * W)
    assert check.compare_stream(ref.copy(), ref) is None
    off = ref.copy()
    off.loc[0, "edit_size"] += 1
    assert check.compare_stream(off, ref) == "window sums differ from the reference"
    assert "windows" in check.compare_stream(ref.iloc[:2], ref)


def test_compare_batch_results():
    df = pd.DataFrame({"k": [1, 2], "v": [0.5, 1.5]})
    assert check.compare(df, df[["v", "k"]].iloc[::-1]) is None
    assert check.compare(df, df.assign(v=[0.5, 1.25])) == "values differ in ['v']"
    assert check.compare(df.iloc[:0], None) == "rows-only check: no rows"
    assert check.compare(df, None) is None


# --- per-layer aggregation --------------------------------------------------

def test_aggregate_jobs_counts_shared_stages_once():
    jobs = [
        {"jobId": 0, "jobGroup": "perfbench:0:q:build", "stageIds": [0]},
        {"jobId": 1, "jobGroup": "perfbench:0:q:exec", "stageIds": [1, 2]},
        {"jobId": 2, "jobGroup": "perfbench:0:q:exec", "stageIds": [2, 3]},
        {"jobId": 3, "jobGroup": None, "stageIds": [4]},
    ]
    stages = [
        {"stageId": 0, "numCompleteTasks": 1, "executorRunTime": 100},
        {"stageId": 1, "numCompleteTasks": 4, "executorRunTime": 2000,
         "executorCpuTime": 1.5e9, "shuffleWriteBytes": 2 * tracing.MB,
         "inputRecords": 600},
        {"stageId": 2, "numCompleteTasks": 3, "numFailedTasks": 1,
         "shuffleReadBytes": tracing.MB},
        {"stageId": 3, "numCompleteTasks": 0},  # skipped
        {"stageId": 4, "numCompleteTasks": 9},  # not the benchmark's job
    ]
    out = tracing.aggregate_jobs(jobs, stages, tracing.batch_label)
    assert out["build"]["jobs"] == 1 and out["build"]["tasks"] == 1
    e = out["exec"]
    assert (e["jobs"], e["stages"], e["tasks"], e["failed_tasks"]) == (2, 2, 8, 1)
    assert e["task_run_s"] == 2.0 and e["executor_cpu_s"] == 1.5 and e["input_rows"] == 600
    assert (e["shuffle_read_mb"], e["shuffle_write_mb"]) == (1.0, 2.0)


def test_stream_layers_sum_progress():
    def batch(i, rows, corrupt):
        return {
            "batchId": i, "timestamp": "2024-01-01T00:00:00.000Z",
            "durationMs": {"addBatch": 10, "walCommit": 2, "triggerExecution": 15},
            "stateOperators": [{"numRowsTotal": 5 + i, "commitTimeMs": 3,
                                "memoryUsedBytes": 2 * tracing.MB,
                                "numShufflePartitions": 4,
                                "numRowsDroppedByWatermark": 0}],
            "observedMetrics": {"decode_metrics": {"rows_total": rows,
                                                   "rows_corrupt": corrupt}},
        }
    out = tracing.stream_layers([batch(0, 100, 1), batch(1, 50, 0)])
    assert out["stream.batches"] == 2 and out["stream.add_batch_ms"] == 20
    assert out["state.rows"] == 6 and out["state.commit_ms"] == 6
    assert out["state.memory_mb"] == 2.0 and out["state.partitions"] == 4
    assert (out["decode.rows_total"], out["decode.rows_corrupt"]) == (150, 1)


# --- inputs -----------------------------------------------------------------

def test_same_seed_gives_byte_identical_stream_files(tmp_path):
    spec = inputs.StreamSpec(files=2, events_per_file=300)
    a = inputs.write_stream(tmp_path / "a", 11, spec)
    b = inputs.write_stream(tmp_path / "b", 11, spec)
    c = inputs.write_stream(tmp_path / "c", 12, spec)
    names = sorted(os.listdir(a.files_dir))
    assert names == ["part-00000.jsonl", "part-00001.jsonl"]
    match, mismatch, errors = filecmp.cmpfiles(a.files_dir, b.files_dir, names, shallow=False)
    assert match == names and not mismatch and not errors
    assert pq.read_table(a.truth).equals(pq.read_table(b.truth))
    assert (a.events, a.corrupt) == (b.events, b.corrupt) == (600, b.corrupt)
    assert not filecmp.cmp(Path(a.files_dir) / names[0], Path(c.files_dir) / names[0], shallow=False)


def test_stream_files_are_late_free_and_count_their_corrupt_lines(tmp_path):
    spec = inputs.StreamSpec(files=4, events_per_file=500)
    s = inputs.write_stream(tmp_path / "s", 3, spec)
    spans, corrupt = [], 0
    for name in sorted(os.listdir(s.files_dir)):
        ts = []
        for line in (Path(s.files_dir) / name).read_text().splitlines():
            try:
                ts.append(pd.Timestamp(json.loads(line)["timestamp"]).value // 10**6)
            except json.JSONDecodeError:
                corrupt += 1
        spans.append((min(ts), max(ts)))
    assert corrupt == s.corrupt > 0
    # every event of the next file is above this file's max minus the
    # 1 s watermark delay, so the watermark never drops an event
    for (_, hi), (lo, _) in zip(spans, spans[1:]):
        assert hi - lo < 1_000


def test_same_seed_gives_identical_tables(tmp_path):
    inputs.write_tables(tmp_path / "a", 5, sf=0.002)
    inputs.write_tables(tmp_path / "b", 5, sf=0.002)
    inputs.write_tables(tmp_path / "c", 6, sf=0.002)
    names = sorted(os.listdir(tmp_path / "a"))
    assert "lineitem.parquet" in names and "nation.parquet" in names
    match, mismatch, errors = filecmp.cmpfiles(tmp_path / "a", tmp_path / "b", names, shallow=False)
    assert match == names and not mismatch and not errors
    assert not pq.read_table(tmp_path / "a" / "events.parquet").equals(
        pq.read_table(tmp_path / "c" / "events.parquet"))


# --- metric names and units in BENCHMARK.json ---------------------------------

def _benchmark_json() -> dict:
    return json.loads((BENCH.parent / "BENCHMARK.json").read_text())


def test_printed_metrics_match_benchmark_json():
    spec = _benchmark_json()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER_UNITS
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert spec["command"] == ["python3", "perfbench/run.py"]


def test_end_to_end_metrics_are_computed_by_name():
    class Fake:
        def work_per_pass(self):
            return 8

    timed = {"pass_walls": [2.0, 1.0, 3.0], "pass_cpus": [4.0, 5.0, 6.0],
             "latencies": [0.1] * 24}
    m = run.end_to_end(Fake(), timed, 2.0, 6, 24)
    assert m == {"setup_s": 2.0, "wall_s": 2.0, "cpu_s": 5.0, "op_p50_s": 0.1,
                 "op_tail_s": 0.1, "throughput_per_s": 4.0, "ok_frac": 0.75}
    assert set(m) == set(run.END_TO_END_UNITS)


def test_fails_fast_without_the_program(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark, a
    run exits non-zero and prints no result."""
    shutil.copy(BENCH.parent / "BENCHMARK.json", tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    t0 = time.time()
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "relational", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""
    assert time.time() - t0 < 60
    assert not (tmp_path / "perfbench" / ".work").exists()


# --- failed operations (starts Spark) ---------------------------------------

@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    sys.path.insert(0, str(inputs.REPO))
    session = (
        SparkSession.builder.master("local[1]").appName("perfbench-tests")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.shuffle.partitions", "1")
        .getOrCreate()
    )
    yield session
    session.stop()


class RaisingSink:
    def __init__(self, path: str) -> None:
        pass

    def __call__(self, batch_df, epoch_id: int) -> None:
        raise RuntimeError("sink is down")


def test_a_failed_replay_fails_every_batch(spark, tmp_path, monkeypatch):
    from flink_wikipedia_spark.streaming import sinks

    monkeypatch.setattr(sinks, "ParquetSink", RaisingSink)
    monkeypatch.setattr(workloads, "WORK", tmp_path)
    wl = workloads.Stream()
    wl.spec = inputs.StreamSpec(files=2, events_per_file=50)
    wl.main = inputs.write_stream(tmp_path / "in", 1, wl.spec)
    wl.warm_input, wl._runs = wl.main, 0
    wl.warm(spark)  # fails too, and does not raise
    timed = wl.timed(spark)
    assert timed["error"].startswith("StreamingQueryException")
    checks = wl.check(spark, timed)
    assert checks == {"stream": timed["error"]}
    assert wl.failed_ops(timed, checks) == wl.attempted(timed) == 2
    wl.cleanup(timed)


def test_a_raising_query_fails_each_of_its_operations(spark, tmp_path, monkeypatch):
    from flink_wikipedia_spark.plans import REGISTRY

    def broken(spark, data_dir):
        raise RuntimeError("builder is broken")

    monkeypatch.setitem(REGISTRY, "q_perfbench_broken", SimpleNamespace(fn=broken, oracle=None))
    wl = workloads.Batch("broken", ["q_perfbench_broken"])
    inputs.write_tables(tmp_path / "sf", 5, sf=0.002)  # the oracle's views need them
    wl.sf_dir, wl.passes = str(tmp_path / "sf"), 3
    wl.warm(spark)  # does not raise
    timed = wl.timed(spark)
    assert timed["raised"] == {"q_perfbench_broken": 3}
    checks = wl.check(spark, timed)
    assert checks["q_perfbench_broken"] == "RuntimeError: builder is broken"
    assert wl.failed_ops(timed, checks) == wl.attempted(timed) == 3
