"""Streaming extraction tests: exactly-once equality with the batch path,
incremental processing of newly-arrived files, checkpointed resume."""

from __future__ import annotations

from wikicrawler_spark import corpus
from wikicrawler_spark.kernel import extract_spans
from wikicrawler_spark.streaming import stream_extract


def _write_chunk(spark, docs, path):
    spark.createDataFrame(
        [(d["doc_id"], [tuple(s.values()) for s in d["spans"]]) for d in docs],
        schema=corpus.DOC_SCHEMA,
    ).coalesce(1).write.mode("append").parquet(path)


def _spans_set(df):
    return {
        (r["doc_id"], tuple(tuple(s) for s in r["spans"]))
        for r in df.collect()
    }


def test_stream_equals_batch_and_is_incremental(spark, tmp_path):
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ck = str(tmp_path / "ck")

    chunk1 = [corpus.generate_doc("basic_article", i) for i in range(8)]
    chunk2 = [corpus.generate_doc("sections", i) for i in range(6)]
    _write_chunk(spark, chunk1, in_dir)

    q = stream_extract(spark, in_dir, out_dir, ck)
    q.awaitTermination()
    got1 = _spans_set(spark.read.parquet(out_dir))
    batch1 = _spans_set(
        extract_spans(spark.read.schema(corpus.DOC_SCHEMA).parquet(in_dir)))
    assert got1 == batch1

    # new files arrive; a resumed query processes ONLY them (checkpoint)
    _write_chunk(spark, chunk2, in_dir)
    q2 = stream_extract(spark, in_dir, out_dir, ck)
    q2.awaitTermination()
    got2 = _spans_set(spark.read.parquet(out_dir))
    assert len(got2) == len(chunk1) + len(chunk2)
    batch2 = _spans_set(
        extract_spans(spark.read.schema(corpus.DOC_SCHEMA).parquet(in_dir)))
    assert got2 == batch2

    # re-running with nothing new appends nothing (exactly-once)
    q3 = stream_extract(spark, in_dir, out_dir, ck)
    q3.awaitTermination()
    assert len(_spans_set(spark.read.parquet(out_dir))) == len(got2)


def test_stream_stateful_dedup(spark, tmp_path):
    """dropDuplicates state store: the same doc_id re-delivered in a later
    micro-batch is extracted exactly once."""
    in_dir = str(tmp_path / "in2")
    out_dir = str(tmp_path / "out2")
    ck = str(tmp_path / "ck2")
    docs = [corpus.generate_doc("basic_article", i) for i in range(5)]
    _write_chunk(spark, docs, in_dir)
    _write_chunk(spark, docs[:3], in_dir)  # re-delivery of 3 docs
    q = stream_extract(spark, in_dir, out_dir, ck, dedup_doc_ids=True,
                       max_files_per_trigger=1)
    q.awaitTermination()
    got = [r["doc_id"] for r in spark.read.parquet(out_dir).collect()]
    assert sorted(got) == sorted(d["doc_id"] for d in docs)


def test_stream_sessionize_equals_batch(spark, tmp_path):
    """applyInPandasWithState sessionization == an independent pure-python
    replay of the gap rule, with sessions CROSSING micro-batches (events
    split into time-ordered files, maxFilesPerTrigger=1 so state must
    carry the open session between batches)."""
    from wikicrawler_spark.streaming import stream_sessionize

    ev = (
        spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        .select("user_id", "event_id", "ts", "value")
        .orderBy("ts", "event_id")
        .toPandas()
    )
    # three time-ordered slices -> three micro-batches
    in_dir = str(tmp_path / "ev")
    cuts = [0, len(ev) // 3, 2 * len(ev) // 3, len(ev)]
    for i in range(3):
        spark.createDataFrame(ev.iloc[cuts[i]:cuts[i + 1]]).coalesce(1) \
            .write.mode("append").parquet(in_dir)

    src = (
        spark.readStream.schema(spark.read.parquet(in_dir).schema)
        .option("maxFilesPerTrigger", 1).parquet(in_dir)
    )
    q = (
        stream_sessionize(src).writeStream.format("memory")
        .queryName("sess_test").outputMode("update")
        .trigger(availableNow=True).start()
    )
    q.awaitTermination()
    emitted = spark.sql("SELECT * FROM sess_test").toPandas()
    # latest emission per session = the one with max n_events
    final = emitted.sort_values("n_events").groupby(
        ["user_id", "session_id"]).tail(1)

    # independent replica of the gap rule
    want = {}
    for user, g in ev.groupby("user_id"):
        g = g.sort_values(["ts", "event_id"])
        last, sess, n, val = None, 0, 0, 0
        for t, v in zip(g["ts"].astype("int64") // 1000, g["value"]):
            if last is None or t - last > 1_800_000_000:
                sess += 1
                n, val = 0, 0
            n += 1
            val += int(round(float(v) * 1e6))
            last = t
            want[(user, sess)] = (n, val)

    got = {(r.user_id, r.session_id): (r.n_events, r.session_value_micros)
           for r in final.itertuples()}
    assert got == want


def test_stream_event_windows_watermark_drops_late(spark, tmp_path):
    """Event-time windows + watermark: (1) append mode emits a window
    exactly once, after the watermark passes its end; (2) an event
    arriving in a later micro-batch, older than the watermark, is DROPPED
    (bounded state is the whole point of the watermark); (3) an event
    late but within the watermark still lands in its window. Batch
    boundaries are made deterministic by running three availableNow
    passes over a shared checkpoint (watermark state persists across
    restarts)."""
    import datetime as dt

    from wikicrawler_spark.streaming import stream_event_windows

    in_dir = str(tmp_path / "evw")
    out_dir = str(tmp_path / "evw_out")
    ck = str(tmp_path / "evw_ck")
    base = dt.datetime(2024, 1, 1, 8, 0, 0)

    def write(rows):
        spark.createDataFrame(
            rows, "ts timestamp, event_type string, value double"
        ).coalesce(1).write.mode("append").parquet(in_dir)

    def run():
        src = (spark.readStream
               .schema("ts timestamp, event_type string, value double")
               .parquet(in_dir))
        q = (stream_event_windows(src, window="1 hour",
                                  watermark="30 minutes")
             .writeStream.format("parquet").option("path", out_dir)
             .option("checkpointLocation", ck)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()
        return spark.read.parquet(out_dir).toPandas()

    # batch 1: window 8-9 gets 2 clicks; max event time 10:00
    # -> watermark after the batch = 9:30, window [8,9) is closable
    write([(base, "click", 1.0),
           (base + dt.timedelta(minutes=20), "click", 2.0),
           (base + dt.timedelta(hours=2), "view", 5.0)])   # 10:00
    out1 = run()

    # batch 2: one event at 8:30 — OLDER than the 9:30 watermark: dropped.
    # one event at 9:40 — late vs max-seen 10:00 but INSIDE the watermark:
    # lands in window [9,10). one event at 13:00 advances the watermark
    # to 12:30 so windows through 12:00 finalize.
    write([(base + dt.timedelta(minutes=30), "click", 100.0),  # dropped
           (base + dt.timedelta(hours=1, minutes=40), "view", 7.0),
           (base + dt.timedelta(hours=5), "view", 9.0)])       # 13:00
    out2 = run()

    # batches 3+4: emission uses the watermark as of batch START, so
    # closing the [13,14) window takes one batch to advance the watermark
    # past 14:00 (the 15:00 event -> watermark 14:30) and a second batch
    # to emit under it
    write([(base + dt.timedelta(hours=7), "click", 1.0)])      # 15:00
    run()
    write([(base + dt.timedelta(hours=8), "click", 1.0)])      # 16:00
    out3 = run()

    def win(df, hour, etype):
        rows = df[(df.window_start == dt.datetime(2024, 1, 1, hour, 0, 0))
                  & (df.event_type == etype)]
        return None if rows.empty else (
            int(rows.n.iloc[0]), float(rows.value_sum.iloc[0]))

    # the 8-9 click window finalized WITHOUT the dropped late event
    assert win(out3, 8, "click") == (2, 3.0)
    # appended exactly once across the three runs
    assert len(out2[(out2.window_start == base) & (out2.event_type == "click")]) == 1
    assert len(out3[(out3.window_start == base) & (out3.event_type == "click")]) == 1
    # the within-watermark late event made it into [9,10)
    assert win(out3, 9, "view") == (1, 7.0)
    # the 10-11 view window holds only the 10:00 event
    assert win(out3, 10, "view") == (1, 5.0)
    # 13:00 window finalized after batch 3 advanced the watermark
    assert win(out3, 13, "view") == (1, 9.0)
    # batch-1 output contains nothing not yet closable (8-9 may appear in
    # out2 depending on when the engine evaluates the final watermark; the
    # invariant worth pinning: nothing beyond watermark 9:30 in out1)
    if not out1.empty:
        assert (out1.window_end <= dt.datetime(2024, 1, 1, 9, 30)).all()


def test_stream_watermarked_dedup(spark, tmp_path):
    """dropDuplicatesWithinWatermark: re-delivery inside the watermark
    horizon is dropped (same output as the unbounded dedup here), but the
    state is horizon-bounded — the at-scale variant for unbounded runs."""
    in_dir = str(tmp_path / "in_wm")
    out_dir = str(tmp_path / "out_wm")
    ck = str(tmp_path / "ck_wm")
    docs = [corpus.generate_doc("basic_article", i) for i in range(5)]
    _write_chunk(spark, docs, in_dir)
    _write_chunk(spark, docs[:3], in_dir)  # re-delivery within the horizon
    q = stream_extract(spark, in_dir, out_dir, ck,
                       dedup_watermark="10 minutes", max_files_per_trigger=1)
    q.awaitTermination()
    got = [r["doc_id"] for r in spark.read.parquet(out_dir).collect()]
    assert sorted(got) == sorted(d["doc_id"] for d in docs)


def test_stream_dedup_replay_drops_planted_duplicates(spark):
    """The driver row q_stream_dedup_replay streams the events table with
    deterministic cross-batch re-deliveries (every 10th row of the prior
    batch) through stream_dedup. This pins the property the oracle match
    rests on: the aggregated output equals the ORIGINAL table's per-user
    aggregate — i.e. every planted duplicate was dropped — and would fail
    loudly if dropDuplicatesWithinWatermark semantics drifted."""
    from pyspark.sql import functions as F

    from wikicrawler_spark.queries import q_stream_dedup_replay, load

    sf = "/root/testdata/sf0.001"
    got = {r["user_id"]: (r["n_events"], r["total_value"])
           for r in q_stream_dedup_replay(spark, sf).collect()}
    exp = {r["user_id"]: (r["n"], r["t"])
           for r in load(spark, sf, "events")
           .groupBy("user_id")
           .agg(F.count("*").alias("n"),
                F.round(F.sum(F.col("value").cast("decimal(18,6)")), 4)
                .cast("double").alias("t")).collect()}
    assert got == exp


def test_stream_windows_replay_matches_model_and_drops(spark):
    """Pins the replay model q_stream_windows_replay's oracle encodes:
    (1) the result equals the model computed in plain DataFrame ops
    (lagged filter watermark, window-end drop predicate, final emission
    horizon); (2) the late-drop path actually fires (the interleaved
    batching makes ~1/3 of batch 2 late) — so a semantics drift in
    dropDuplicates-free watermark aggregation would fail here, not just
    in the driver gate."""
    import datetime as dt

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    from wikicrawler_spark.queries import q_stream_windows_replay, load

    sf = "/root/testdata/sf0.001"
    got = {(r["window_start"], r["event_type"]): (r["n"], r["total_value"])
           for r in q_stream_windows_replay(spark, sf).collect()}

    e = load(spark, sf, "events").select("event_id", "ts", "event_type",
                                         "value")
    vmic = (F.signum("value")
            * F.floor(F.abs(F.col("value").cast("double")) * 1_000_000
                      + F.lit(0.5))).cast("long")
    b = e.withColumn(
        "batch", (F.row_number().over(W.orderBy("ts", "event_id")) - 1) % 3
    ).withColumn("vmic", vmic)
    mt = {r["batch"]: r["mt"] for r in
          b.groupBy("batch").agg(F.max("ts").alias("mt")).collect()}
    final_wm = max(mt.values()) - dt.timedelta(minutes=30)

    def fwm(batch):  # filter watermark lags eviction by one batch
        prior = [mt[i] for i in mt if i <= batch - 2]
        return max(prior) - dt.timedelta(minutes=30) if prior else None

    rows = b.select("ts", "event_type", "vmic", "batch").collect()
    agg: dict = {}
    n_dropped = 0
    for r in rows:
        ws = r["ts"].replace(minute=0, second=0, microsecond=0)
        we = ws + dt.timedelta(hours=1)
        w = fwm(r["batch"])
        if w is not None and we <= w:
            n_dropped += 1
            continue
        k = (ws, r["event_type"])
        n, micros = agg.get(k, (0, 0))
        agg[k] = (n + 1, micros + r["vmic"])
    exp = {}
    for (ws, et), (n, micros) in agg.items():
        if ws + dt.timedelta(hours=1) <= final_wm:
            sign = -1 if micros < 0 else 1
            exp[(ws, et)] = (n, sign * (abs(micros) + 50) // 100 / 10000.0)

    assert n_dropped > 0  # the late path is actually exercised
    assert got == exp
