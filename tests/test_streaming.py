"""Streaming semantics tests (SURVEY.md §5.2 layer 2): the flagship
pipeline replayed from a file source under availableNow, watermark
late-row dropping, streaming dedup, sliding/session windows.
"""

from __future__ import annotations

import json
import os
import time

import pytest

from flink_wikipedia_spark.streaming.pipeline import (
    CHECKPOINT_MANAGER_KEY,
    LOCAL_CHECKPOINT_MANAGER,
    _checkpoint_manager,
    _start_stream,
    build_dedup_stream,
    build_flagship_stream,
    flagship_transform,
    session_window_stats,
    sliding_window_counts,
)
from flink_wikipedia_spark.streaming.sinks import MemorySink, ParquetSink
from flink_wikipedia_spark.streaming.sources import file_source
from flink_wikipedia_spark.operators.core import decode_edit_events


def ev(i, domain="en.wikipedia.org", ts="2024-01-01T10:01:00Z", user_type="human",
       namespace="main namespace", old=100, new=150):
    return json.dumps(
        {
            "id": i,
            "domain": domain,
            "namespace": namespace,
            "title": f"t{i}",
            "timestamp": ts,
            "user_name": "u",
            "user_type": user_type,
            "old_length": old,
            "new_length": new,
        }
    )


def write_file(dirpath, name, lines, mtime=None):
    p = os.path.join(dirpath, name)
    with open(p, "w") as f:
        f.write("\n".join(lines) + "\n")
    if mtime is not None:
        os.utime(p, (mtime, mtime))
    return p


def run_stream(builder, tmp_path, lines_by_file, **kwargs):
    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir, exist_ok=True)
    base = time.time() - 600
    for i, lines in enumerate(lines_by_file):
        write_file(src_dir, f"{i:03d}.json", lines, mtime=base + i * 10)
    sink = MemorySink()
    spark = kwargs.pop("spark")
    q = builder(
        spark,
        file_source(spark, src_dir, max_files_per_trigger=1),
        sink,
        str(tmp_path / "ckpt"),
        **kwargs,
    )
    q.awaitTermination(120)
    return sink


def test_flagship_stream_happy_path(spark, tmp_path):
    """FIXTURES.md generator guidance: non-human (b), non-main (a),
    abs() case (d) — all in one replay; one finalized 5-min window."""
    lines = [
        ev(1, old=100, new=150),                       # +50
        ev(2, old=150, new=120),                       # +30 (abs)
        ev(3, user_type="bot"),                        # filtered O5
        ev(4, namespace="talk"),                       # filtered O5
        ev(5, domain="de.wikipedia.org", old=7, new=9) # other key, +2
    ]
    # second file far later so the watermark passes the first window
    later = [ev(9, ts="2024-01-01T11:00:00Z", old=1, new=1)]
    sink = run_stream(build_flagship_stream, tmp_path, [lines, later], spark=spark)
    out = {(r.domain, r.window_start.minute): r.edit_size for r in sink.rows}
    assert out[("en.wikipedia.org", 0)] == 80
    assert out[("de.wikipedia.org", 0)] == 2


def test_flagship_stream_drops_late_rows(spark, tmp_path):
    """Watermark semantics (reference O3, 1 s bound): a row arriving
    after the watermark passed its window is dropped (c)."""
    # Spark finalizes a window in the first batch where the watermark has
    # passed its end; rows arriving in batches AFTER that are dropped. So:
    # advance the watermark (batch 1), let the window emit+evict (batch 2),
    # THEN send the late row (batch 3).
    on_time = [ev(1, ts="2024-01-01T10:01:00Z", old=0, new=10)]
    advance = [ev(2, ts="2024-01-01T12:00:00Z", old=0, new=1)]
    emit_tick = [ev(3, ts="2024-01-01T12:01:00Z", old=0, new=1)]
    late = [ev(4, ts="2024-01-01T10:02:00Z", old=0, new=100)]  # window evicted
    flush = [ev(5, ts="2024-01-01T13:00:00Z", old=0, new=1)]
    sink = run_stream(
        build_flagship_stream,
        tmp_path,
        [on_time, advance, emit_tick, late, flush],
        spark=spark,
    )
    emissions = [
        r.edit_size
        for r in sink.rows
        if (r.window_start.hour, r.window_start.minute) == (10, 0)
    ]
    assert emissions == [10]  # emitted once, late +100 never landed


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """North star E1 streaming: duplicate ids (e) collapse."""
    lines = [ev(1), ev(1), ev(2), ev(1)]
    sink = run_stream(build_dedup_stream, tmp_path, [lines], spark=spark)
    ids = sorted(r.id for r in sink.rows)
    assert ids == ["1", "2"]


def test_parquet_sink_idempotent_epochs(spark, tmp_path):
    sink = ParquetSink(str(tmp_path / "out"))
    df = spark.range(3).toDF("x")
    sink(df, 0)
    sink(df, 0)  # replayed epoch overwrites, not duplicates
    assert spark.read.parquet(str(tmp_path / "out/epoch=0")).count() == 3


def _decoded_batch(spark):
    lines = [
        ev(1, ts="2024-01-01T10:01:00Z"),
        ev(2, ts="2024-01-01T10:04:00Z"),
        ev(3, ts="2024-01-01T10:20:00Z"),
    ]
    raw = spark.createDataFrame([(l,) for l in lines], "value string")
    return decode_edit_events(raw)


def test_sliding_windows_double_count(spark):
    """10-min windows sliding by 5: each event lands in exactly 2."""
    out = sliding_window_counts(_decoded_batch(spark)).collect()
    assert sum(r.n_events for r in out) == 2 * 3
    starts = {(r.window_start.minute, r.n_events) for r in out}
    assert (0, 2) in starts  # 10:00–10:10 holds events at 10:01 and 10:04


def test_session_windows_gap_split(spark):
    """5-min gap: 10:01+10:04 merge into one session; 10:20 is its own."""
    out = session_window_stats(_decoded_batch(spark)).collect()
    assert sorted(r.n_events for r in out) == [1, 2]


def test_flagship_transform_batch_stream_parity(spark, tmp_path):
    """The SAME transform runs in batch and streaming and agrees —
    the unification the reference lacks (SURVEY.md §1.4)."""
    lines = [ev(1, old=100, new=130), ev(2, old=10, new=0)]
    batch = flagship_transform(
        decode_edit_events(spark.createDataFrame([(l,) for l in lines], "value string"))
    ).collect()
    later = [ev(9, ts="2024-01-01T11:00:00Z", old=1, new=1)]
    sink = run_stream(build_flagship_stream, tmp_path, [lines, later], spark=spark)
    b = {(r.domain, r.window_start): r.edit_size for r in batch}
    s = {
        (r.domain, r.window_start): r.edit_size
        for r in sink.rows
        if r.window_start.hour == 10
    }
    assert b == s


def test_upsert_sink_replay_invisible(spark, tmp_path):
    from flink_wikipedia_spark.streaming.sinks import UpsertParquetSink

    out = str(tmp_path / "upsert")
    sink = UpsertParquetSink(out, key_cols=["domain", "window_start"])
    b1 = spark.createDataFrame(
        [("en", 100, 5), ("de", 100, 3)], "domain string, window_start long, edit_size long"
    )
    sink(b1, 0)
    sink(b1, 0)  # at-least-once replay: same keys, no duplicates
    b2 = spark.createDataFrame(
        [("en", 100, 9), ("fr", 200, 1)], "domain string, window_start long, edit_size long"
    )
    sink(b2, 1)  # update en@100, insert fr@200
    got = {
        (r.domain, r.window_start): r.edit_size
        for r in sink.read_current(spark).collect()
    }
    assert got == {("en", 100): 9, ("de", 100): 3, ("fr", 200): 1}


def test_socket_source_live_pipeline(spark, tmp_path):
    """Drive the flagship through a REAL TCP socket (the north star's
    dev source): a local server feeds edit events, the stream decodes,
    filters, and aggregates them."""
    import socket
    import threading

    from flink_wikipedia_spark.streaming.sources import socket_source
    from flink_wikipedia_spark.operators.core import decode_edit_events, filter_human_main

    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    port = srv.getsockname()[1]
    srv.listen(1)

    def feed():
        conn, _ = srv.accept()
        payload = "\n".join(
            [ev(1, old=0, new=10), ev(2, user_type="bot"), ev(3, old=0, new=5)]
        ) + "\n"
        conn.sendall(payload.encode())
        # keep the connection open until the test closes the server

    t = threading.Thread(target=feed, daemon=True)
    t.start()

    sink = MemorySink()
    decoded = filter_human_main(
        decode_edit_events(socket_source(spark, "127.0.0.1", port))
    ).select("id", "domain", "new_length")
    q = (
        decoded.writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline and len(sink.rows) < 2:
            time.sleep(0.5)
    finally:
        q.stop()
        srv.close()
    got = {(r.id, r.new_length) for r in sink.rows}
    assert got == {("1", 10), ("3", 5)}  # bot row filtered, humans pass


def test_flagship_update_mode_emits_provisional_results(spark, tmp_path):
    """`update` output mode approximates the reference's per-firing
    Mongo upserts (SURVEY.md §3.4): the same window re-emits with a
    refined value as new rows arrive, keyed for upsert."""
    f1 = [ev(1, old=0, new=10)]
    f2 = [ev(2, old=0, new=5)]   # same window, second batch
    sink = run_stream(
        build_flagship_stream, tmp_path, [f1, f2], spark=spark, output_mode="update"
    )
    emissions = [
        r.edit_size for _, rows in sink.batches for r in rows
        if r.domain == "en.wikipedia.org"
    ]
    assert emissions == [10, 15]  # provisional 10, then upserted 15


def test_rate_source_generates_valid_events(spark, tmp_path):
    """The rate source renders synthetic edit-event JSON the decode
    stage accepts — the Kafka-free soak/throughput path."""
    from flink_wikipedia_spark.streaming.sources import rate_source

    sink = MemorySink()
    q = (
        decode_edit_events(rate_source(spark, rows_per_second=200))
        .writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline and len(sink.rows) < 10:
            time.sleep(0.5)
    finally:
        q.stop()
    assert len(sink.rows) >= 10
    r = sink.rows[0]
    assert r.user_type == "human" and r.domain.startswith("domain-")
    assert r.ts is not None and r._corrupt_record is None


def test_retry_sink_retries_then_succeeds_and_propagates(spark):
    from flink_wikipedia_spark.streaming.sinks import RetrySink

    df = spark.range(3)
    calls = {"n": 0}

    def flaky(batch_df, epoch_id):
        calls["n"] += 1
        if calls["n"] < 3:
            raise RuntimeError("transient")

    RetrySink(flaky, max_retries=3, backoff_s=0.01)(df, 0)
    assert calls["n"] == 3  # two failures absorbed, third attempt wrote

    def always_broken(batch_df, epoch_id):
        raise RuntimeError("permanent")

    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="permanent"):
        RetrySink(always_broken, max_retries=2, backoff_s=0.01)(df, 0)


def test_streaming_session_windows(spark, tmp_path):
    """session_window in a LIVE stream: 5-min gap sessions finalize
    once the watermark passes (availableNow over two files)."""
    from flink_wikipedia_spark.streaming.pipeline import session_window_stats

    f1 = [
        ev(1, ts="2024-01-01T10:00:00Z"),
        ev(2, ts="2024-01-01T10:03:00Z"),   # merges: gap 3 min
        ev(3, ts="2024-01-01T10:30:00Z"),   # own session
    ]
    f2 = [ev(9, ts="2024-01-01T12:00:00Z")]  # watermark push
    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)
    base = time.time() - 600
    write_file(src_dir, "000.json", f1, base)
    write_file(src_dir, "001.json", f2, base + 10)
    sink = MemorySink()
    q = (
        session_window_stats(decode_edit_events(file_source(spark, src_dir, max_files_per_trigger=1)))
        .writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    sessions = {
        (r.session_start.minute, r.n_events)
        for r in sink.rows
        if r.session_start.hour == 10
    }
    assert (0, 2) in sessions   # 10:00+10:03 merged
    assert (30, 1) in sessions  # 10:30 alone


def test_streaming_sliding_windows(spark, tmp_path):
    from flink_wikipedia_spark.streaming.pipeline import sliding_window_counts

    f1 = [ev(1, ts="2024-01-01T10:02:00Z")]
    f2 = [ev(9, ts="2024-01-01T12:00:00Z")]
    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)
    base = time.time() - 600
    write_file(src_dir, "000.json", f1, base)
    write_file(src_dir, "001.json", f2, base + 10)
    sink = MemorySink()
    q = (
        sliding_window_counts(decode_edit_events(file_source(spark, src_dir, max_files_per_trigger=1)))
        .writeStream.outputMode("append")
        .foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    starts = sorted(
        r.window_start.minute for r in sink.rows if r.window_start.hour in (9, 10)
    )
    # 10:02 lands in [09:55,10:05) and [10:00,10:10)
    assert starts == [0, 55]


def test_stream_static_enrichment_join(spark, tmp_path):
    """Stream-static join: micro-batches broadcast-join a static
    domain→region dim; aggregation keys on the ENRICHED column, and a
    domain absent from the dim survives as region='unknown' (left
    join — enrichment never drops events)."""
    from flink_wikipedia_spark.streaming.pipeline import build_enriched_stream

    dim = spark.createDataFrame(
        [("en.wikipedia.org", "americas"), ("de.wikipedia.org", "emea")],
        "domain string, region string",
    )
    lines = [
        ev(1, old=100, new=150),                            # americas +50
        ev(2, domain="de.wikipedia.org", old=10, new=30),   # emea +20
        ev(3, domain="ja.wikipedia.org", old=5, new=6),     # not in dim → unknown +1
        ev(4, user_type="bot"),                             # filtered before agg
    ]
    later = [ev(9, ts="2024-01-01T11:00:00Z", old=1, new=1)]
    sink = run_stream(build_enriched_stream, tmp_path, [lines, later], spark=spark, dim=dim)
    out = {
        r.region: r.edit_size
        for r in sink.rows
        if (r.window_start.hour, r.window_start.minute) == (10, 0)
    }
    assert out == {"americas": 50, "emea": 20, "unknown": 1}


def test_kafka_source_options_contract(spark):
    """O1 contract (DataStreamJob.java:114-120) without a broker: the
    option map kafka_source hands spark-sql-kafka uses exactly the
    documented option names/values, and the plumbing reaches Spark's
    DataSource resolution (format lookup fires — the only step a
    broker-less environment can exercise)."""
    from flink_wikipedia_spark.streaming.sources import kafka_options, kafka_source

    opts = kafka_options("broker1:9092,broker2:9092")
    assert opts == {
        "kafka.bootstrap.servers": "broker1:9092,broker2:9092",
        "subscribe": "wikipedia-events",  # reference topic
        "startingOffsets": "latest",  # reference start position
        "maxOffsetsPerTrigger": "100000",
    }
    # earliest + unlimited admission
    opts = kafka_options(
        "b:9092", topic="t", starting_offsets="earliest", max_offsets_per_trigger=None
    )
    assert opts["startingOffsets"] == "earliest"
    assert "maxOffsetsPerTrigger" not in opts

    # .load() must reach Spark's source resolution and fail on the
    # missing connector jar — not on our option plumbing.
    with pytest.raises(Exception) as exc:
        kafka_source(spark, "localhost:9092")
    msg = str(exc.value).lower()
    assert "kafka" in msg


def test_mongo_sink_config_contract(spark):
    """O11 config parity (DataStreamJob.java:125-135): the MongoSink
    stub exposes the complete mongo-spark-connector write config —
    replace-upsert on the flagship natural key, reference batch size —
    and raises a clear actionable error when the connector jar is
    absent (this environment)."""
    from flink_wikipedia_spark.streaming.sinks import MongoSink

    sink = MongoSink("mongodb://localhost:27017", "wiki", "wikiedits")
    assert sink.write_options() == {
        "connection.uri": "mongodb://localhost:27017",
        "database": "wiki",
        "collection": "wikiedits",
        "operationType": "replace",
        "idFieldList": "domain,window_start",
        "maxBatchSize": "1000",  # reference setBatchSize(1000)
    }
    batch = spark.createDataFrame(
        [("en.wikipedia.org", 50)], "domain string, edit_size long"
    )
    with pytest.raises((NotImplementedError, Exception)) as exc:
        MongoSink("mongodb://x", "db")(batch, epoch_id=0)
    assert "mongo" in str(exc.value).lower()


def doc(i, lang="en", text=None, ts="2024-01-01T10:01:00Z"):
    words = " ".join(f"word{j} filler common text body" for j in range(6))
    return json.dumps(
        {"doc_id": i, "lang": lang, "text": text or f"{words} doc {i}",
         "timestamp": ts}
    )


def test_curation_stream_gates_compose(spark, tmp_path):
    """Streaming curation: low-quality docs gated out, duplicate content
    deduped within the watermark, benchmark-fingerprint matches anti-
    joined away, survivors counted per (lang, window)."""
    import hashlib
    import re as _re

    from flink_wikipedia_spark.streaming.pipeline import build_curation_stream

    contaminated_text = " ".join("leaked benchmark item sample row" for _ in range(8))
    fp = hashlib.md5(
        _re.sub(r"\s+", " ", contaminated_text.lower()).encode()
    ).hexdigest()
    bench = spark.createDataFrame([(fp,)], "fp string")

    lines = [
        doc(1),                                   # keeps
        doc(2, lang="de"),                        # keeps
        doc(3, text="too short"),                 # quality-gated (<20 tokens)
        doc(4, text=None),                        # duplicate of doc 1? no — unique tail
        doc(5, text=contaminated_text),           # contaminated → anti-joined
    ]
    # true duplicate: same text as doc 1
    lines.append(json.dumps({
        "doc_id": 6, "lang": "en",
        "text": json.loads(doc(1))["text"],
        "timestamp": "2024-01-01T10:01:30Z",
    }))
    later = [doc(9, ts="2024-01-01T11:00:00Z")]  # advances watermark → emit

    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir, exist_ok=True)
    base = time.time() - 600
    for i, chunk in enumerate([lines, later]):
        write_file(src_dir, f"{i:03d}.json", chunk, mtime=base + i * 10)
    sink = MemorySink()
    q = build_curation_stream(
        spark,
        file_source(spark, src_dir, max_files_per_trigger=1),
        sink,
        str(tmp_path / "ck-curation"),
        benchmark_fps=bench,
    )
    q.awaitTermination(120)

    out = {
        (r.lang): r.n_docs
        for r in sink.rows
        if (r.window_start.hour, r.window_start.minute) == (10, 0)
    }
    # doc1 keeps; doc2 (de) keeps; doc3 quality-gated; doc4 unique keeps;
    # doc5 contaminated; doc6 dup of doc1 dropped
    assert out == {"en": 2, "de": 1}


def test_curation_stream_classifier_gate_matches_batch(spark, tmp_path):
    """classifier_gate=True composes the r12 model-based scorer into the
    stream's pre-state gate (r13 task): per-doc keep decisions must be
    EXACTLY the batch classifier_score_cols' — the expected survivor set
    is computed batch-side in this test, not hardcoded, so the pin is
    stream/batch parity itself. Each doc gets its own lang so the
    windowed (lang, n_docs) output identifies individual survivors."""
    from flink_wikipedia_spark.operators.text import classifier_score_cols
    from flink_wikipedia_spark.streaming.pipeline import build_curation_stream

    # 12 unique docs that ALL pass the heuristic gate (>=20 tokens, mean
    # token length in range) so only the classifier distinguishes them
    texts = {
        i: " ".join(f"tok{i}word{j}" for j in range(25))
        for i in range(1, 13)
    }
    docs_df = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    batch_keep = {
        r.doc_id
        for r in docs_df.select("doc_id", *classifier_score_cols("text"))
        .filter("keep = 1")
        .collect()
    }
    # the gate must split the set, else the parity pin is vacuous
    assert 0 < len(batch_keep) < len(texts)

    # the watermark-advancing late doc must itself survive both gates or
    # the 10:00 window never finalizes — pick one batch-side
    later_texts = [
        " ".join(f"later{k}word{j}" for j in range(25)) for k in range(8)
    ]
    later_df = spark.createDataFrame(
        list(enumerate(later_texts)), "doc_id long, text string"
    )
    surviving_later = (
        later_df.select("text", *classifier_score_cols("text"))
        .filter("keep = 1")
        .head()
    )
    assert surviving_later is not None
    lines = [doc(i, lang=f"l{i:02d}", text=texts[i]) for i in texts]
    later = [doc(99, lang="zz", text=surviving_later.text,
                 ts="2024-01-01T11:00:00Z")]
    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir, exist_ok=True)
    base = time.time() - 600
    for i, chunk in enumerate([lines, later]):
        write_file(src_dir, f"{i:03d}.json", chunk, mtime=base + i * 10)
    sink = MemorySink()
    q = build_curation_stream(
        spark,
        file_source(spark, src_dir, max_files_per_trigger=1),
        sink,
        str(tmp_path / "ck-curation-clf"),
        classifier_gate=True,
    )
    q.awaitTermination(120)

    survivors = {
        r.lang
        for r in sink.rows
        if (r.window_start.hour, r.window_start.minute) == (10, 0)
    }
    assert survivors == {f"l{i:02d}" for i in batch_keep}


def test_curation_stream_full_triad_matches_batch(spark, tmp_path):
    """The complete quality triad in the stream (heuristic +
    classifier_gate + lm_gate): survivors must be exactly the docs that
    pass BOTH model gates batch-side (all docs pass the heuristic by
    construction). Expected set computed from the batch operators, so
    the pin is three-gate stream/batch parity."""
    import pyspark.sql.functions as F

    from flink_wikipedia_spark.operators.text import (
        classifier_score_cols,
        with_lm_keep,
    )
    from flink_wikipedia_spark.streaming.pipeline import build_curation_stream

    texts = {
        i: " ".join(f"tri{i}word{j}" for j in range(25))
        for i in range(1, 17)
    }
    docs_df = spark.createDataFrame(
        list(texts.items()), "doc_id long, text string"
    )
    clf_keep = {
        r.doc_id
        for r in docs_df.select("doc_id", *classifier_score_cols("text"))
        .filter("keep = 1")
        .collect()
    }
    lm_keep = {
        r.doc_id
        for r in with_lm_keep(docs_df).filter("lm_keep = 1").collect()
    }
    expected = clf_keep & lm_keep
    # the triad must actually gate on BOTH model dimensions, and some
    # doc must be split by the gates DISAGREEING, else the composition
    # pin is vacuous
    assert 0 < len(expected) < len(texts)
    assert clf_keep != lm_keep

    # watermark-advancing doc must survive all three gates
    later_texts = [
        " ".join(f"lat{k}w{j}" for j in range(25)) for k in range(12)
    ]
    later_df = spark.createDataFrame(
        list(enumerate(later_texts)), "doc_id long, text string"
    )
    from flink_wikipedia_spark.operators.text import quality_score_cols

    surviving_later = (
        with_lm_keep(
            later_df.select(
                "doc_id", "text",
                quality_score_cols("text")[3].alias("h_keep"),
                classifier_score_cols("text")[3].alias("clf_keep"),
            )
        )
        .filter("h_keep = 1 AND clf_keep = 1 AND lm_keep = 1")
        .head()
    )
    assert surviving_later is not None
    lines = [doc(i, lang=f"t{i:02d}", text=texts[i]) for i in texts]
    later = [doc(99, lang="zz", text=surviving_later.text,
                 ts="2024-01-01T11:00:00Z")]
    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir, exist_ok=True)
    base = time.time() - 600
    for i, chunk in enumerate([lines, later]):
        write_file(src_dir, f"{i:03d}.json", chunk, mtime=base + i * 10)
    sink = MemorySink()
    q = build_curation_stream(
        spark,
        file_source(spark, src_dir, max_files_per_trigger=1),
        sink,
        str(tmp_path / "ck-curation-triad"),
        classifier_gate=True,
        lm_gate=True,
    )
    q.awaitTermination(120)

    survivors = {
        r.lang
        for r in sink.rows
        if (r.window_start.hour, r.window_start.minute) == (10, 0)
    }
    assert survivors == {f"t{i:02d}" for i in expected}


def test_flagship_stream_rocksdb_state_store(spark, tmp_path):
    """The large-state deployment path (session.py's
    SPARK_GRAFT_STATE_STORE=rocksdb): the flagship windowed aggregate
    must produce identical results under the RocksDB state store
    provider as under the default heap provider. Pins that the provider
    class name is valid on this Spark build and that checkpoint state
    round-trips through it."""
    conf_key = "spark.sql.streaming.stateStore.providerClass"
    rocks = (
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider"
    )
    lines = [ev(1), ev(2, new=200), ev(3, domain="de.wikipedia.org")]
    # second batch far later so the watermark finalizes the first window
    later = [ev(9, ts="2024-01-01T11:00:00Z", old=1, new=1)]

    heap_sink = run_stream(build_flagship_stream, tmp_path / "heap",
                           [lines, later], spark=spark)
    prev = spark.conf.get(conf_key, None)
    spark.conf.set(conf_key, rocks)
    try:
        rocks_sink = run_stream(build_flagship_stream, tmp_path / "rocks",
                                [lines, later], spark=spark)
    finally:
        if prev is None:
            spark.conf.unset(conf_key)
        else:
            spark.conf.set(conf_key, prev)

    def norm(sink):
        return sorted(
            (r.domain, r.edit_size, r.window_start, r.window_end)
            for r in sink.rows
        )

    assert norm(rocks_sink) == norm(heap_sink)
    assert len(norm(rocks_sink)) > 0


def test_flagship_kill_and_resume_matches_batch(spark, tmp_path):
    """End-to-end delivery-contract proof (round-6 task): the flagship
    stream with the upsert-keyed sink, KILLED mid-stream and restarted
    from its checkpoint, must converge to exactly the batch flagship on
    the same data — the reference's Mongo replace-by-key at-least-once
    contract (DataStreamJob.java:125-135) upgraded to effective
    exactly-once. The kill is DETERMINISTIC: the sink crashes right
    after PUBLISHING its 3rd epoch — before that epoch's checkpoint
    commit lands — so the restart is guaranteed to replay an
    already-published epoch, and the (domain, window_start) upsert must
    make the replay invisible. (A timed stop() raced the stream on fast
    machines and could miss the mid-stream window entirely.)"""
    from flink_wikipedia_spark.streaming.sinks import UpsertParquetSink

    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir, exist_ok=True)
    base = time.time() - 600
    # 8 files, ts in order across 4 distinct 5-min windows, 2 domains
    files = []
    for i in range(8):
        ts = f"2024-01-01T10:{2 * i + 1:02d}:30Z"
        files.append(
            [
                ev(100 + 2 * i, ts=ts, old=100, new=100 + 10 * (i + 1)),
                ev(101 + 2 * i, domain="de.wikipedia.org", ts=ts, old=50, new=50 + i),
                ev(900 + i, ts=ts, user_type="bot"),  # filtered, O5
            ]
        )
    for i, lines in enumerate(files):
        write_file(src_dir, f"{i:03d}.json", lines, mtime=base + i * 10)

    out_dir = str(tmp_path / "out")
    ck = str(tmp_path / "ckpt")
    sink = UpsertParquetSink(out_dir, key_cols=["domain", "window_start"])
    calls = {"n": 0}

    class InjectedCrash(Exception):
        pass

    def counting_sink(batch_df, epoch_id):
        sink(batch_df, epoch_id)
        calls["n"] += 1
        if calls["n"] == 3:
            # epoch published (sink() above ran) but its checkpoint
            # commit never lands: the query dies here
            raise InjectedCrash("injected crash after publishing epoch 3")

    # phase 1: start over ALL files (1 file per micro-batch); the sink
    # kills the query mid-stream after its 3rd published epoch
    q1 = build_flagship_stream(
        spark,
        file_source(spark, src_dir, max_files_per_trigger=1),
        counting_sink,
        ck,
        output_mode="update",
    )
    from pyspark.errors.exceptions.captured import StreamingQueryException

    try:
        q1.awaitTermination(120)
    except StreamingQueryException:
        pass  # the injected crash surfaces here
    killed_after = calls["n"]

    # phase 2: same checkpoint, same sink — run to completion
    q2 = build_flagship_stream(
        spark,
        file_source(spark, src_dir, max_files_per_trigger=1),
        counting_sink,
        ck,
        output_mode="update",
    )
    q2.awaitTermination(120)

    got = sorted(
        (r.domain, r.window_start, r.window_end, r.edit_size)
        for r in sink.read_current(spark).collect()
    )
    # batch flagship on the same files = ground truth
    batch = flagship_transform(
        decode_edit_events(spark.read.text(src_dir))
    )
    want = sorted(
        (r.domain, r.window_start, r.window_end, r.edit_size)
        for r in batch.collect()
    )
    assert got == want
    assert len(want) == 8  # 4 windows x 2 domains
    # the kill really happened mid-stream (deterministically, epoch 3)
    assert killed_after == 3, killed_after


def _state_partitions(query):
    """numShufflePartitions of the query's first stateful operator, per
    batch that reported one."""
    progress = [json.loads(p.json) for p in query.recentProgress]
    return [p["stateOperators"][0]["numShufflePartitions"] for p in progress if p["stateOperators"]]


def _log_manager(query):
    """Class of the checkpoint manager behind the query's offset log."""
    execution = query._jsq.streamingQuery()
    return execution.offsetLog().fileManager().getClass().getName()


def test_flagship_stream_state_sized_to_keyspace(spark, tmp_path):
    """The flagship's (domain, window) state runs in ONE partition,
    whatever the session's count, and its local checkpoint is written by
    the FileSystem-based manager; the caller's session conf is left as
    it was, and a stream keyed on event identity keeps the session's
    count."""
    key = "spark.sql.shuffle.partitions"
    session_parts = spark.conf.get(key)
    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)
    write_file(src_dir, "000.json", [ev(1), ev(2, domain="de.wikipedia.org")], mtime=time.time() - 60)
    flagship = build_flagship_stream(
        spark, file_source(spark, src_dir), MemorySink(), str(tmp_path / "ck_flagship")
    )
    assert spark.conf.get(key) == session_parts
    assert spark.conf.get(CHECKPOINT_MANAGER_KEY, None) is None
    flagship.awaitTermination(120)
    assert set(_state_partitions(flagship)) == {1}
    assert _log_manager(flagship) == LOCAL_CHECKPOINT_MANAGER

    dedup = build_dedup_stream(
        spark, file_source(spark, src_dir), MemorySink(), str(tmp_path / "ck_dedup")
    )
    dedup.awaitTermination(120)
    assert set(_state_partitions(dedup)) == {int(session_parts)}
    assert spark.conf.get(key) == session_parts
    assert spark.conf.get(CHECKPOINT_MANAGER_KEY, None) is None


def test_flagship_resumes_checkpoint_at_its_partition_count(spark, tmp_path):
    """Restart safety: a checkpoint written at 8 state partitions by the
    direct start chain (the flagship before it was sized to its keyspace,
    on an 8-partition session) resumes through build_flagship_stream at
    8 — Spark restores the count from the offset log, since the state is
    partitioned by it — and the two runs together equal the batch
    flagship on the same files.

    It is also the cross-manager resume test: the direct start chain
    writes the first run with Spark's default checkpoint manager, and
    build_flagship_stream resumes it with the FileSystem-based one."""
    from flink_wikipedia_spark.operators.metrics import observe_decode_health
    from flink_wikipedia_spark.streaming.sinks import UpsertParquetSink

    key = "spark.sql.shuffle.partitions"
    session_parts = spark.conf.get(key)
    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)
    base = time.time() - 600
    domains = ["en.wikipedia.org", "de.wikipedia.org", "fr.wikipedia.org"]

    def add_files(indices):
        for i in indices:
            ts = f"2024-01-01T10:{3 * i + 1:02d}:30Z"
            lines = [
                ev(10 * i + j, domain=d, ts=ts, old=100, new=100 + 7 * i + j)
                for j, d in enumerate(domains)
            ]
            write_file(src_dir, f"{i:03d}.json", lines, mtime=base + i * 10)

    ck = str(tmp_path / "ck")
    sink = UpsertParquetSink(str(tmp_path / "out"), key_cols=["domain", "window_start"])
    add_files(range(4))
    decoded, _ = observe_decode_health(
        decode_edit_events(file_source(spark, src_dir, max_files_per_trigger=1))
    )
    spark.conf.set(key, "8")
    try:
        old = (
            flagship_transform(decoded).writeStream.outputMode("update")
            .foreachBatch(sink)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True)
            .start()
        )
    finally:
        spark.conf.set(key, session_parts)
    old.awaitTermination(120)
    assert set(_state_partitions(old)) == {8}
    assert _log_manager(old) != LOCAL_CHECKPOINT_MANAGER

    add_files(range(4, 8))
    resumed = build_flagship_stream(
        spark,
        file_source(spark, src_dir, max_files_per_trigger=1),
        sink,
        ck,
        output_mode="update",
    )
    resumed.awaitTermination(120)
    assert set(_state_partitions(resumed)) == {8}
    assert _log_manager(resumed) == LOCAL_CHECKPOINT_MANAGER

    got = sorted(
        (r.domain, r.window_start, r.window_end, r.edit_size)
        for r in sink.read_current(spark).collect()
    )
    batch = flagship_transform(decode_edit_events(spark.read.text(src_dir)))
    want = sorted(
        (r.domain, r.window_start, r.window_end, r.edit_size)
        for r in batch.collect()
    )
    assert got == want
    assert len(want) == 5 * len(domains)  # 8 files over windows 10:00–10:20


def test_concurrent_stream_starts_keep_their_partition_counts(spark, tmp_path):
    """Streams started from more threads than cores each get their own
    state-partition count, and the session's count survives."""
    from concurrent.futures import ThreadPoolExecutor

    key = "spark.sql.shuffle.partitions"
    session_parts = int(spark.conf.get(key))
    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)
    write_file(src_dir, "000.json", [ev(1), ev(2)], mtime=time.time() - 60)
    builders = [build_flagship_stream, build_dedup_stream] * 4

    def start(i):
        return builders[i](spark, file_source(spark, src_dir), MemorySink(), str(tmp_path / f"ck{i}"))

    with ThreadPoolExecutor(len(builders)) as pool:
        queries = list(pool.map(start, range(len(builders))))
    for q in queries:
        q.awaitTermination(120)
        assert not q.isActive
    assert spark.conf.get(key) == str(session_parts)
    assert spark.conf.get(CHECKPOINT_MANAGER_KEY, None) is None
    want = {build_flagship_stream: 1, build_dedup_stream: session_parts}
    assert [set(_state_partitions(q)) for q in queries] == [{want[b]} for b in builders]


def test_checkpoint_manager_follows_scheme(spark, tmp_path):
    """A local checkpoint (bare path or file: URI) gets the
    FileSystem-based manager; hdfs and s3a keep Spark's default. A bare
    path takes the scheme of fs.defaultFS. Nothing is contacted: the
    hosts below do not exist."""
    assert _checkpoint_manager(spark, str(tmp_path / "ck")) == LOCAL_CHECKPOINT_MANAGER
    assert _checkpoint_manager(spark, f"file://{tmp_path}/ck") == LOCAL_CHECKPOINT_MANAGER
    assert _checkpoint_manager(spark, "hdfs://nn/ck") is None
    assert _checkpoint_manager(spark, "s3a://b/ck") is None
    spark.conf.set("fs.defaultFS", "hdfs://nn:8020")
    try:
        assert _checkpoint_manager(spark, "/ck") is None
        assert _checkpoint_manager(spark, f"file://{tmp_path}/ck") == LOCAL_CHECKPOINT_MANAGER
    finally:
        spark.conf.unset("fs.defaultFS")


def test_local_checkpoint_file_set_matches_default_manager(spark, tmp_path):
    """The FileSystem-based manager writes the same checkpoint files as
    Spark's default: offsets, commits, source log, state deltas, their
    checksums and the Hadoop .crc files. A manager the caller set on the
    session is kept, and left set."""
    src_dir = str(tmp_path / "src")
    os.makedirs(src_dir)
    base = time.time() - 600
    for i in range(3):
        ts = f"2024-01-01T10:{5 * i + 1:02d}:30Z"
        write_file(src_dir, f"{i:03d}.json", [ev(i, ts=ts), ev(10 + i, domain="de.wikipedia.org", ts=ts)],
                   mtime=base + i * 10)

    def run(name):
        result = flagship_transform(
            decode_edit_events(file_source(spark, src_dir, max_files_per_trigger=1))
        )
        ck = tmp_path / name
        query = _start_stream(result, MemorySink(), str(ck), state_partitions=1)
        query.awaitTermination(120)
        files = sorted(str(p.relative_to(ck)) for p in ck.rglob("*") if p.is_file())
        return _log_manager(query), files

    local_manager, local_files = run("ck_local")
    default = "org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager"
    spark.conf.set(CHECKPOINT_MANAGER_KEY, default)
    try:
        default_manager, default_files = run("ck_default")
        assert spark.conf.get(CHECKPOINT_MANAGER_KEY) == default
    finally:
        spark.conf.unset(CHECKPOINT_MANAGER_KEY)
    assert (local_manager, default_manager) == (LOCAL_CHECKPOINT_MANAGER, default)
    assert local_files == default_files
    assert any(f.endswith(".delta.crc") for f in local_files)
    assert any(f.startswith("offsets/.") and f.endswith(".crc") for f in local_files)
