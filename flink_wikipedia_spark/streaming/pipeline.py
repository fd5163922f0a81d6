"""The flagship pipeline as a Structured Streaming query — the
reference job (``DataStreamJob.java:49-91``) re-expressed with the same
injection seam: ``build_flagship_stream(spark, source_df, sink)``.

Stage-by-stage parity (SURVEY.md §2.1):

    reference                               here
    ---------                               ----
    KafkaSource JSON bytes (O1)             any sources.py frame of `value`
    JsonNodeDeserializationSchema (O2)      decode_edit_events (from_json,
                                            corrupt-record instead of NPE)
    1 s bounded out-of-orderness (O3)       withWatermark("ts", "1 second")
    watermark alignment (O4)                no equivalent — divergence
                                            documented, SURVEY.md §4.3
    filter human∧main (O5)                  filter_human_main
    map to Tuple3 (O6)                      project_with_ts
    keyBy(domain)+5min tumble (O7/O8)       groupBy(window(ts,"5 minutes"),
                                            domain)
    WindowFunction Σ|new−old| (O9)          sum(abs(new-old)) — with Spark's
                                            partial aggregation, vs the
                                            reference's buffer-all list state
    Document.toJson (O10)                   to_json at the sink boundary
    MongoSink at-least-once (O11)           foreachBatch sink + checkpoint

The decision recorded in SURVEY.md §4.3: the reference windows on
processing time while *declaring* an event-time watermark it never
uses (dead code). We window on event time — replayable, testable, and
what the declared watermark says the author meant.
"""

from __future__ import annotations

import threading
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from flink_wikipedia_spark.functions.compat import ensure_session_conf
from flink_wikipedia_spark.functions.constants import MINHASH_BANDS, MINHASH_NUM_HASHES
from flink_wikipedia_spark.operators.core import (
    decode_edit_events,
    filter_human_main,
    project_with_ts,
)
from flink_wikipedia_spark.operators.dedup import minhash_band_col, minhash_sig_cols
from flink_wikipedia_spark.operators.metrics import observe_decode_health, observe_quality_gate
from flink_wikipedia_spark.operators.text import (
    classifier_score_cols,
    quality_score_cols,
    with_lm_keep,
)

FLAGSHIP_WATERMARK = "1 second"  # DataStreamJob.java:63
FLAGSHIP_WINDOW = "5 minutes"    # DataStreamJob.java:85

# State partitions of the aggregates keyed (bounded dimension, window),
# sized from the keyspace, not the cores: every partition is a state store
# that commits a delta file and runs a task per micro-batch, even when
# empty, and adds a sink part file when not. The flagship key
# (domain, window) holds ~10^3 rows: ≤2 open 5-minute windows under the
# 1 s watermark × the ~10^3 Wikimedia projects. Streams keyed on event
# identity (dedup, curation) grow with event rate × watermark and keep
# the session's count.
BOUNDED_KEY_STATE_PARTITIONS = 1

# Checkpoint manager for checkpoints on the local filesystem. Spark's
# default goes through Hadoop's FileContext, whose local filesystem forks
# a process per readlink/chmod when the native Hadoop library is absent,
# on every create and rename of every log, delta and .crc file. This one
# writes the same files with fs.create and File.renameTo. Other schemes
# (hdfs, s3a, ...) keep Spark's default.
CHECKPOINT_MANAGER_KEY = "spark.sql.streaming.checkpointFileManagerClass"
LOCAL_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)
_START_LOCK = threading.Lock()


def _checkpoint_manager(spark: SparkSession, checkpoint_dir: str) -> str | None:
    """The checkpoint manager class for ``checkpoint_dir``, or None for
    Spark's default. The scheme is the path's own, else the session's
    ``fs.defaultFS``; both are parsed, no filesystem client is created."""
    hadoop_fs = spark._jvm.org.apache.hadoop.fs
    scheme = hadoop_fs.Path(checkpoint_dir).toUri().getScheme()
    if scheme is None:
        hadoop_conf = spark._jsparkSession.sessionState().newHadoopConf()
        scheme = hadoop_fs.FileSystem.getDefaultUri(hadoop_conf).getScheme()
    return LOCAL_CHECKPOINT_MANAGER if scheme == "file" else None


def _start_stream(
    result: DataFrame,
    sink: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    trigger: dict | None = None,
    output_mode: str = "append",
    state_partitions: int | None = None,
) -> StreamingQuery:
    """Start ``result`` into a foreachBatch ``sink`` (default trigger:
    availableNow). The one start chain of the package's streams; it
    decides the two stream-only confs per query:

    - ``state_partitions`` sets ``spark.sql.shuffle.partitions``, the
      state-store partition count, from the keyspace: every partition
      commits a delta and runs a task per batch. A new checkpoint
      records it, a resumed one keeps its own.
    - the checkpoint manager follows the checkpoint's scheme
      (``_checkpoint_manager``): a ``file`` checkpoint is written
      without forking a process per file operation. A manager the
      caller set on the session is kept.

    Both are set only while ``start()`` clones the session conf into the
    query, then the caller's conf is restored. Starts are serialized, so
    an override never leaks into a concurrent start."""
    writer = (
        result.writeStream.outputMode(output_mode)
        .foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(**(trigger or {"availableNow": True}))
    )
    conf = result.sparkSession.conf
    manager = _checkpoint_manager(result.sparkSession, checkpoint_dir)
    overrides = {}
    if state_partitions is not None:
        overrides["spark.sql.shuffle.partitions"] = str(state_partitions)
    with _START_LOCK:
        if manager is not None and conf.get(CHECKPOINT_MANAGER_KEY, None) is None:
            overrides[CHECKPOINT_MANAGER_KEY] = manager
        prior = {key: conf.get(key, None) for key in overrides}
        for key, value in overrides.items():
            conf.set(key, value)
        try:
            return writer.start()
        finally:
            for key, value in prior.items():
                if value is None:
                    conf.unset(key)
                else:
                    conf.set(key, value)


def flagship_transform(
    decoded: DataFrame,
    watermark: str = FLAGSHIP_WATERMARK,
    window_duration: str = FLAGSHIP_WINDOW,
) -> DataFrame:
    """O3+O5–O9 on an (already decoded) edit-event frame. Works for both
    batch and streaming inputs — the core unification win."""
    # drop rows whose timestamp failed to decode (ts null): streaming's
    # watermark aggregate drops them implicitly; filtering explicitly
    # keeps batch replays bit-identical to live runs
    filtered = project_with_ts(filter_human_main(decoded)).filter(
        F.col("ts").isNotNull()
    )
    windowed = filtered.withWatermark("ts", watermark) if filtered.isStreaming else filtered
    w = F.window(F.col("ts"), window_duration)
    return (
        windowed.groupBy(w.alias("w"), F.col("domain"))
        .agg(F.sum(F.abs(F.col("new_length") - F.col("old_length"))).alias("edit_size"))
        .select(
            "domain",
            "edit_size",
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
        )
    )


def build_flagship_stream(
    spark: SparkSession,
    source_df: DataFrame,
    sink: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    trigger: dict | None = None,
    output_mode: str = "append",
    watermark: str = FLAGSHIP_WATERMARK,
    window_duration: str = FLAGSHIP_WINDOW,
) -> StreamingQuery:
    """Compose decode → flagship transform → foreachBatch sink and start
    the query.

    - ``append`` mode + watermark emits each window once, finalized —
      what the correctness harness wants; ``update`` mode approximates
      the reference's per-firing Mongo upserts (SURVEY.md §3.4).
    - checkpointLocation is mandatory — the reference runs without
      checkpoints and silently loses in-flight windows on failure
      (SURVEY.md §4.2); we don't ship that mode.
    """
    ensure_session_conf(spark)
    # zero-rescan decode-health counters, surfaced per micro-batch in
    # StreamingQueryProgress.observedMetrics (operators/metrics.py)
    decoded, _ = observe_decode_health(decode_edit_events(source_df))
    result = flagship_transform(decoded, watermark, window_duration)
    return _start_stream(result, sink, checkpoint_dir, trigger, output_mode,
                         state_partitions=BOUNDED_KEY_STATE_PARTITIONS)


def build_dedup_stream(
    spark: SparkSession,
    source_df: DataFrame,
    sink: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    dedup_cols: list[str] | None = None,
    watermark: str = "10 seconds",
) -> StreamingQuery:
    """Streaming exact dedup (north star E1, streaming form):
    dropDuplicatesWithinWatermark keeps state only inside the watermark
    horizon — bounded state at any input volume, the property plain
    dropDuplicates lacks in streaming."""
    ensure_session_conf(spark)
    decoded = decode_edit_events(source_df).withWatermark("ts", watermark)
    deduped = decoded.dropDuplicatesWithinWatermark(dedup_cols or ["id"])
    return _start_stream(deduped, sink, checkpoint_dir)


def sliding_window_counts(decoded: DataFrame, size: str = "10 minutes", slide: str = "5 minutes") -> DataFrame:
    """Sliding-window per-domain counts (reference has tumbling only,
    ``DataStreamJob.java:85``; sliding generalizes it)."""
    src = (
        decoded.withWatermark("ts", FLAGSHIP_WATERMARK)
        if decoded.isStreaming
        else decoded
    )
    w = F.window(F.col("ts"), size, slide)
    return (
        src.groupBy(w.alias("w"), F.col("domain"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "domain",
            "n_events",
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
        )
    )


def session_window_stats(decoded: DataFrame, gap: str = "5 minutes") -> DataFrame:
    """Gap-based session windows per domain (batch analog:
    plans/queries_relational.q_sessionize)."""
    src = (
        decoded.withWatermark("ts", FLAGSHIP_WATERMARK)
        if decoded.isStreaming
        else decoded
    )
    w = F.session_window(F.col("ts"), gap)
    return (
        src.groupBy(w.alias("w"), F.col("domain"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "domain",
            "n_events",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
        )
    )


def enrich_with_static(decoded: DataFrame, dim: DataFrame, on, how: str = "left") -> DataFrame:
    """Stream-static join: every micro-batch joins the CURRENT snapshot
    of a static/batch dimension — Structured Streaming's built-in
    enrichment pattern (no state store involved; the static side is
    re-resolved per trigger, so a dim refresh lands on the next batch).

    The reference has no second input at all (SURVEY.md §2.2 "joins:
    no"); this is the smallest capability step beyond it: stream ⋈
    dimension, the shape every event pipeline needs (domain → site
    metadata, user → account tier, ...).

    Scale: the dim is explicitly broadcast — at 100 TB of stream the
    static side is the small one by construction; a left join keeps
    stream rows whose key is missing from the dim (enrichment must
    never drop events)."""
    return decoded.join(F.broadcast(dim), on, how)


def build_enriched_stream(
    spark: SparkSession,
    source_df: DataFrame,
    sink: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    dim: DataFrame = None,
    on: str = "domain",
    watermark: str = FLAGSHIP_WATERMARK,
    window_duration: str = FLAGSHIP_WINDOW,
) -> StreamingQuery:
    """Flagship pipeline with a dimension-enrichment stage: decode →
    stream⋈static dim → filter → windowed edit-size per (region,
    window). Aggregating on the ENRICHED attribute (dim's `region`)
    proves the join ran inside the streaming plan, not in the sink."""
    ensure_session_conf(spark)
    decoded = decode_edit_events(source_df)
    enriched = enrich_with_static(decoded, dim, on)
    filtered = filter_human_main(enriched).filter(F.col("ts").isNotNull())
    windowed = filtered.withWatermark("ts", watermark)
    w = F.window(F.col("ts"), window_duration)
    result = (
        windowed.groupBy(w.alias("w"), F.coalesce(F.col("region"), F.lit("unknown")).alias("region"))
        .agg(F.sum(F.abs(F.col("new_length") - F.col("old_length"))).alias("edit_size"))
        .select(
            "region",
            "edit_size",
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
        )
    )
    return _start_stream(result, sink, checkpoint_dir,
                         state_partitions=BOUNDED_KEY_STATE_PARTITIONS)


DOC_SCHEMA = (
    "doc_id LONG, lang STRING, text STRING, timestamp STRING"
)


def decode_doc_records(source_df: DataFrame) -> DataFrame:
    """Streaming document records (JSON lines with doc_id/lang/text/
    timestamp) → typed frame with an event-time ts — the document twin
    of decode_edit_events, feeding the curation stream."""
    data = F.from_json(F.col("value"), DOC_SCHEMA)
    return (
        source_df.select(data.alias("d"))
        .select("d.doc_id", "d.lang", "d.text", "d.timestamp")
        .withColumn("ts", F.try_to_timestamp(F.col("timestamp")))
        .drop("timestamp")
    )


def build_curation_stream(
    spark: SparkSession,
    source_df: DataFrame,
    sink: Callable[[DataFrame, int], None],
    checkpoint_dir: str,
    benchmark_fps: DataFrame = None,
    watermark: str = "10 seconds",
    window_duration: str = FLAGSHIP_WINDOW,
    classifier_gate: bool = False,
    lm_gate: bool = False,
    neardup_gate: bool = False,
) -> StreamingQuery:
    """STREAMING corpus curation — the round-2 batch pipeline's gates
    applied to documents as they arrive (the shape an always-on
    ingestion service runs):

        decode → quality gate [→ classifier gate] [→ LM gate] →
        exact-dup drop (state bounded by the watermark) →
        [NEAR-dup drop: MinHash-LSH band keys, one within-watermark
        drop per band] → contamination screen (stream-static ANTI
        join against benchmark fingerprints) → per (lang, window)
        kept-count

    Stage notes, 100 TB posture:
    - quality gate is stateless expressions — runs before anything
      that holds state, so junk never enters the dedup store;
    - classifier_gate=True adds the r12 model-based scorer
      (operators/text.classifier_score_cols) after the heuristic gate —
      also stateless expressions, so it composes into the same
      pre-state stage for free; its keep decision is IDENTICAL to the
      batch q_quality_classifier's (parity pinned in
      tests/test_streaming.py). Opt-in so existing checkpointed
      deployments keep their gate semantics;
    - lm_gate=True completes the quality TRIAD in the stream: the r13
      hashed-bigram LM perplexity cut (operators/text.with_lm_keep —
      keep decision defined by the same shared exprs as the batch
      q_lm_perplexity, parity pinned). Also stateless, also pre-state,
      also opt-in;
    - dropDuplicatesWithinWatermark keys on the md5 content
      fingerprint; state evicts as event time passes (plain
      dropDuplicates would grow forever on an unbounded corpus);
    - neardup_gate=True (r14) extends the drop to FUZZY duplicates —
      the batch MinHash→LSH family in-stream: each doc's MinHash
      signature is a row-local array fold (operators/dedup.
      minhash_sig_cols — bit-identical to the batch operator, zero
      exchanges, stateless), its MINHASH_BANDS band keys are the SAME
      md5 bucket keys batch LSH buckets on (minhash_band_col), and one
      dropDuplicatesWithinWatermark per band chains them: a doc is
      dropped when ANY band bucket was already claimed by a doc that
      reached that band's stage. Semantics note: this is the GREEDY
      first-arriver-keeps rule over chained band states — like the
      batch cluster view (minhash_dedup_clusters keeps one doc per
      bucket, no pairwise verify), collisions are conservative: a doc
      dropped at band b still claimed the earlier bands' buckets, so
      transitive chains collapse to their first arrival (parity with a
      replayed Python greedy is pinned in tests). Recall is the LSH
      banding curve (P[caught] = 1-(1-s^r)^B over MINHASH_BANDS=B
      bands of r rows) — MEASURED on the labeled r15 fixture
      (tests/test_neardup_stream.py::
      test_neardup_gate_measured_recall_and_false_drop):
      recall 36/40 = 0.900 at true Jaccard 0.90 (bound 0.8817),
      17/40 = 0.425 at J ≈ 0.714 (curve 0.4529), and ZERO false
      drops across 120 unique docs — the greedy ANY-band drop paid
      nothing in good data at these parameters; state cost is B keys
      per kept doc per watermark horizon — the gate runs AFTER the
      exact-dup drop so exact copies never claim band state;
    - the benchmark fingerprint set is static and broadcast; ANTI join
      drops contaminated docs without holding stream state;
    - the windowed count is the same partial-aggregate shape as the
      flagship."""
    ensure_session_conf(spark)
    docs = decode_doc_records(source_df).filter(F.col("ts").isNotNull())
    scored, _ = observe_quality_gate(
        docs.select("*", *quality_score_cols("text"))
    )
    kept = scored.filter(F.col("keep") == 1).drop(
        "n_tokens", "mean_token_len", "stopword_ratio", "keep"
    )
    if classifier_gate:
        kept = (
            kept.select("*", *classifier_score_cols("text"))
            .filter(F.col("keep") == 1)
            .drop("n_tokens", "score_sum", "score_mean", "keep")
        )
    if lm_gate:
        kept = (
            with_lm_keep(kept)
            .filter(F.col("lm_keep") == 1)
            .drop("lm_keep")
        )
    fp = F.md5(F.regexp_replace(F.lower(F.col("text")), r"\s+", " "))
    deduped = (
        kept.withColumn("fp", fp)
        .withWatermark("ts", watermark)
        .dropDuplicatesWithinWatermark(["fp"])
    )
    if neardup_gate:
        deduped = deduped.select("*", *minhash_sig_cols("text")).select(
            "*",
            *[minhash_band_col(b).alias(f"_nd_band_{b}") for b in range(MINHASH_BANDS)],
        )
        for b in range(MINHASH_BANDS):
            deduped = deduped.dropDuplicatesWithinWatermark([f"_nd_band_{b}"])
        deduped = deduped.drop(
            *[f"sig_{i}" for i in range(MINHASH_NUM_HASHES)],
            *[f"_nd_band_{b}" for b in range(MINHASH_BANDS)],
        )
    if benchmark_fps is not None:
        deduped = deduped.join(F.broadcast(benchmark_fps), ["fp"], "left_anti")
    w = F.window(F.col("ts"), window_duration)
    result = (
        deduped.groupBy(w.alias("w"), F.col("lang"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select(
            "lang",
            "n_docs",
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
        )
    )
    return _start_stream(result, sink, checkpoint_dir)
