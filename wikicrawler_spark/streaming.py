"""Structured Streaming ingestion for the extraction kernel.

The reference has no streaming surface (SURVEY.md §2.5: no watermarks, no
event time anywhere), and the crawl itself is deliberately batch-per-wave
(frontier.py). This module covers the adjacent production need the
reference's cache-on-fetch behavior implies: documents ARRIVING over time
are extracted incrementally, exactly once, resumable.

Spark-first shape: the SAME mapInArrow kernel runs unchanged on a
streaming DataFrame (map-only operators are streaming-compatible), with a
file source (``maxFilesPerTrigger`` = admission control, the scan-layer
analog of the reference's rate limiter at core/grabber.py:84-101 — SURVEY
S2) and a checkpointed parquet sink (exactly-once file sink semantics).
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from .kernel import extract_spans
from .schemas import DOC_SCHEMA


def stream_extract(
    spark,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    *,
    max_files_per_trigger: int | None = None,
    dedup_doc_ids: bool = False,
    dedup_watermark: str | None = None,
):
    """Incremental extraction: new doc parquet files -> span parquet.

    Returns the started StreamingQuery. It runs with the ``availableNow``
    trigger: it drains every file present at start, then stops, so
    ``awaitTermination()`` returns; a later call picks up only files that
    arrived since (the checkpoint records what was read).

    ``dedup_doc_ids`` adds the built-in STATEFUL streaming dedup
    (dropDuplicates over the state store): a doc_id re-delivered in a later
    micro-batch (at-least-once upstreams, re-crawled pages) is extracted
    once — the streaming analog of the batch visited anti-join (SURVEY T9).
    NOTE its state grows with DISTINCT ids forever; for an unbounded run
    at corpus scale use ``dedup_watermark`` instead, which expires state.

    ``dedup_watermark`` (e.g. ``"10 minutes"``) switches to
    ``dropDuplicatesWithinWatermark`` over an ingest-time column: a
    re-delivery arriving within the horizon is dropped, state older than
    the horizon expires — bounded state for an unbounded stream, the
    at-scale default (at-least-once upstreams redeliver within minutes,
    not days; re-crawls beyond the horizon are NEW fetches by design,
    matching the reference's cache-refresh behavior).
    """
    reader = spark.readStream.schema(DOC_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    docs = reader.parquet(input_dir)
    if dedup_watermark is not None:
        docs = stream_dedup(docs, key_cols=["doc_id"],
                            watermark=dedup_watermark)
    elif dedup_doc_ids:
        docs = docs.dropDuplicates(["doc_id"])
    return (
        extract_spans(docs).writeStream.format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def stream_dedup(stream_df, *, key_cols: list[str],
                 watermark: str = "1 hour"):
    """Watermark-bounded exactly-once filter over an at-least-once stream:
    ``dropDuplicatesWithinWatermark`` on ``key_cols`` over an INGEST-time
    column (the corpus carries no event time — SURVEY §2.5). First
    occurrence of a key is emitted immediately (dedup never buffers);
    re-deliveries arriving within ``watermark`` of the original are
    dropped; state for keys older than the horizon expires — bounded state
    for an unbounded stream, which is what makes the operator viable at
    10^12 events where the full-history ``dropDuplicates`` state would
    grow without bound. Re-deliveries BEYOND the horizon pass through by
    design (the at-scale contract: at-least-once upstreams redeliver
    within minutes; anything later is a new delivery).

    Shared by stream_extract's ``dedup_watermark`` mode (doc_id dedup) and
    the driver replay row queries.q_stream_dedup_replay (event_id dedup,
    hash-matched against the batch oracle)."""
    return (stream_df.withColumn("__ingest_ts", F.current_timestamp())
            .withWatermark("__ingest_ts", watermark)
            .dropDuplicatesWithinWatermark(list(key_cols))
            .drop("__ingest_ts"))


def stream_event_windows(events, *, window: str = "1 hour",
                         watermark: str = "30 minutes"):
    """EVENT-time windowed aggregation with a watermark — the late-data
    contract: per (window, event_type) counts and value sums over the
    event's own ``ts``.

    Semantics (append mode): a window row is emitted exactly once, when
    the watermark (max event time seen minus ``watermark``) passes the
    window end; events arriving after the watermark has passed their
    window are DROPPED, bounding state size — the watermark is what lets
    a 1000-executor job aggregate an unbounded stream without unbounded
    window state. The watermark persists in the checkpoint, so the
    drop/keep decision is stable across restarts of the same query.

    ``value_sum`` is rounded AFTER aggregation; the window bounds come out
    as explicit start/end columns so a downstream parquet sink has a flat
    schema.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 6).alias("value_sum"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "event_type", "n", "value_sum",
        )
    )


def stream_sessionize(events, *, gap_minutes: int = 30):
    """Custom STATEFUL streaming operator via ``applyInPandasWithState``:
    gap-based sessionization of an event stream — the streaming twin of the
    batch ``queries.q_events_sessionize`` (same 30-min gap rule; output
    (user_id, session_id, n_events, session_value_micros)).

    State per user: (last event time in micros, current session ordinal,
    its running count and value sum). Each micro-batch sorts its rows by
    (ts, event_id), replays them through the gap rule, and EMITS one row
    per session whose aggregates changed in that batch (output mode
    'update'). A session's successive emissions have strictly increasing
    n_events, so the consumer's latest value per (user_id, session_id) —
    equivalently the row with max n_events — is the final aggregate; an
    open session's row simply keeps updating until its gap closes it.

    Arrival-order contract (standard for gap sessionization): events for a
    user must not time-travel ACROSS micro-batches (within a batch any
    order is fine — the batch is sorted). Late data beyond that needs a
    watermark + window-based rewrite; the corpus carries no event-time
    semantics (SURVEY §2.5), so this operator pins the simple contract.

    The state accumulates ``value`` as integer MICRO-units (exact for
    6-decimal inputs) and emits the sum as ``session_value_micros``
    (int64) — this is what lets the stream replay
    (queries.q_stream_sessionize_replay) hash-match the decimal batch
    oracle with no tolerance.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout

    key_type = events.schema["user_id"].dataType  # adopt the input's key type
    out_type = T.StructType([
        T.StructField("user_id", key_type),
        T.StructField("session_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("session_value_micros", T.LongType()),
    ])
    state_type = T.StructType([
        T.StructField("last_ts_us", T.LongType()),
        T.StructField("session_id", T.LongType()),
        T.StructField("n", T.LongType()),
        T.StructField("val", T.LongType()),
    ])
    gap_us = gap_minutes * 60_000_000

    def fn(key, pdfs, state):
        user = key[0]
        parts = [pdf for pdf in pdfs if len(pdf)]
        if not parts:
            return
        ev = pd.concat(parts).sort_values(["ts", "event_id"])
        if state.exists:
            last_ts, sess, n, val = state.get
        else:
            last_ts, sess, n, val = None, 0, 0, 0
        changed: dict = {}
        ts_us = (ev["ts"].astype("int64") // 1000).tolist()
        for t, v in zip(ts_us, ev["value"].tolist()):
            if last_ts is None or t - last_ts > gap_us:
                sess += 1
                n = 0
                val = 0
            n += 1
            val += int(round(float(v) * 1_000_000))
            last_ts = t
            changed[sess] = (n, val)
        state.update((last_ts, sess, n, val))
        yield pd.DataFrame(
            [(user, s, c, v) for s, (c, v) in sorted(changed.items())],
            columns=["user_id", "session_id", "n_events",
                     "session_value_micros"],
        )

    return events.groupBy("user_id").applyInPandasWithState(
        fn, out_type, state_type, "update", GroupStateTimeout.NoTimeout
    )
