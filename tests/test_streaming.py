import json

import pytest

from parquet_pipeline_spark.streaming import (
    read_event_stream,
    stream_to_parquet,
    windowed_event_counts,
)


def _events_as_jsonl(spark, sf_dir, tmp_path):
    """Materialize the events table as JSON-lines files (the
    streaming file source), micro-precision timestamps."""
    from parquet_pipeline_spark.operators.relational import _events

    ev = _events(spark, sf_dir)
    rows = ev.collect()
    src = tmp_path / "stream_src"
    src.mkdir()
    half = len(rows) // 2
    for i, batch in enumerate((rows[:half], rows[half:])):
        with open(src / f"batch_{i}.jsonl", "w") as f:
            for r in batch:
                d = r.asDict()
                d["ts"] = d["ts"].isoformat(sep=" ")
                f.write(json.dumps(d) + "\n")
    return str(src), ev


def test_windowed_counts_stream_matches_batch(spark, sf_dir, tmp_path):
    src, batch_events = _events_as_jsonl(spark, sf_dir, tmp_path)

    stream = read_event_stream(spark, src, fmt="json", max_files=1)
    assert stream.isStreaming
    agg = windowed_event_counts(stream, window="1 hour", watermark="2 hours")

    q = (
        agg.writeStream.format("memory")
        .queryName("wincounts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in spark.sql("SELECT * FROM wincounts").collect()
    }
    expected = {
        (r["window_start"], r["event_type"]): (r["n_events"], r["total_value"])
        for r in windowed_event_counts(batch_events).collect()
    }
    assert got == expected


def test_stream_to_parquet_exactly_once(spark, sf_dir, tmp_path):
    src, batch_events = _events_as_jsonl(spark, sf_dir, tmp_path)
    dest = str(tmp_path / "out_parquet")
    ckpt = str(tmp_path / "ckpt")

    stream = read_event_stream(spark, src, fmt="json", max_files=1)
    q = stream_to_parquet(stream, dest, ckpt)
    q.awaitTermination(120)
    assert spark.read.parquet(dest).count() == batch_events.count()

    # restart with same checkpoint: no new input → no duplicates
    stream2 = read_event_stream(spark, src, fmt="json", max_files=1)
    q2 = stream_to_parquet(stream2, dest, ckpt)
    q2.awaitTermination(120)
    assert spark.read.parquet(dest).count() == batch_events.count()


def test_stream_recovery_after_midstream_kill(spark, sf_dir, tmp_path):
    """Kill a running file-sink query MID-STREAM (after ≥1 committed
    micro-batch, before the input is drained), restart from the same
    checkpoint, and assert exactly-once output: every input row
    appears exactly once, none lost, none duplicated. The parquet
    sink's _spark_metadata commit log is what excludes any part-files
    a killed batch left behind — this is the recovery path
    stream_to_parquet claims."""
    import time

    from parquet_pipeline_spark.operators.relational import _events

    ev = _events(spark, sf_dir)
    rows = ev.collect()
    src = tmp_path / "stream_src8"
    src.mkdir()
    # 8 files → 8 micro-batches at max_files=1, so the kill lands
    # between commits with high probability
    n_per = max(1, len(rows) // 8)
    for i in range(8):
        chunk = rows[i * n_per : (i + 1) * n_per] if i < 7 else rows[7 * n_per :]
        with open(src / f"batch_{i}.jsonl", "w") as f:
            for r in chunk:
                d = r.asDict()
                d["ts"] = d["ts"].isoformat(sep=" ")
                f.write(json.dumps(d) + "\n")

    dest = str(tmp_path / "out_parquet8")
    ckpt = str(tmp_path / "ckpt8")

    # phase 1: continuous micro-batches; kill once ≥1 batch committed
    stream = read_event_stream(spark, str(src), fmt="json", max_files=1)
    q = stream_to_parquet(stream, dest, ckpt, trigger_once=False)
    deadline = time.time() + 120
    while time.time() < deadline:
        if any(p["numInputRows"] > 0 for p in q.recentProgress):
            break
        time.sleep(0.2)
    q.stop()
    q.awaitTermination(60)

    # phase 2: recover from the checkpoint and drain what's left
    stream2 = read_event_stream(spark, str(src), fmt="json", max_files=1)
    q2 = stream_to_parquet(stream2, dest, ckpt)
    q2.awaitTermination(120)

    out = spark.read.parquet(dest)
    assert out.count() == len(rows)  # nothing lost, nothing doubled
    assert out.select("event_id").distinct().count() == len(rows)


def test_streaming_sessionize_matches_batch_closed_sessions(spark, sf_dir, tmp_path):
    """The stateful streaming sessionizer must produce exactly the
    batch sessionizer's CLOSED sessions (the final open session per
    user never closes without more data)."""
    from pyspark.sql import functions as F

    from parquet_pipeline_spark.operators.temporal import sessionize
    from parquet_pipeline_spark.streaming.events import streaming_sessionize

    src, batch_events = _events_as_jsonl(spark, sf_dir, tmp_path)

    stream = read_event_stream(spark, src, fmt="json", max_files=1)
    sessions = streaming_sessionize(stream, gap_seconds=1800)
    q = (
        sessions.writeStream.format("memory")
        .queryName("stream_sessions")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.sql("SELECT * FROM stream_sessions").collect()
    }

    batch = (
        sessionize(batch_events, gap_seconds=1800)
        .groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )
    # drop each user's LAST session (still open in the stream)
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id")
    closed = (
        batch.withColumn("_max_sid", F.max("session_id").over(w))
        .filter(F.col("session_id") < F.col("_max_sid"))
    )
    expected = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in closed.collect()
    }
    assert got == expected
    assert len(got) > 0


def test_streaming_dedup_across_batches(spark, sf_dir, tmp_path):
    """Duplicates split across micro-batches must still dedup (state
    carries keys across batches)."""
    import json as _json

    from parquet_pipeline_spark.streaming.events import streaming_dedup

    src = tmp_path / "dup_src"
    src.mkdir()
    # same user_id+event_type pairs appear in both batches
    rows = [
        {"event_id": i, "ts": f"2024-01-01 00:{i:02d}:00", "user_id": i % 3,
         "event_type": "click", "value": 1.0, "props": "{}"}
        for i in range(10)
    ]
    (src / "b0.jsonl").write_text("\n".join(_json.dumps(r) for r in rows[:5]))
    (src / "b1.jsonl").write_text("\n".join(_json.dumps(r) for r in rows[5:]))

    stream = read_event_stream(spark, str(src), fmt="json", max_files=1)
    deduped = streaming_dedup(stream, ["user_id", "event_type"])
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    out = spark.sql("SELECT user_id, event_id FROM dedup_stream").collect()
    assert len(out) == 3  # one per user_id despite 10 input rows
    # first arrival wins: event_ids 0,1,2
    assert sorted(r["event_id"] for r in out) == [0, 1, 2]


def test_watermark_drops_late_data(spark, tmp_path):
    """Append-mode windowed agg: a window emits once the watermark
    passes it; data for that window arriving after the watermark is
    dropped. Two separate checkpointed runs force the batch split."""
    import json as _json

    src = tmp_path / "late_src"
    src.mkdir()
    dest = str(tmp_path / "late_out")
    ckpt = str(tmp_path / "late_ckpt")

    def run_once():
        stream = read_event_stream(spark, str(src), fmt="json", max_files=1)
        agg = windowed_event_counts(stream, window="1 hour", watermark="2 hours")
        q = (
            agg.writeStream.format("parquet")
            .option("path", dest)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # run 1: on-time events + a sentinel that pushes the watermark to
    # 04:00, far past the 00:00-01:00 window
    b0 = [
        {"event_id": 1, "ts": "2024-01-01 00:10:00", "user_id": 1,
         "event_type": "click", "value": 1.0, "props": "{}"},
        {"event_id": 2, "ts": "2024-01-01 00:20:00", "user_id": 1,
         "event_type": "click", "value": 1.0, "props": "{}"},
        {"event_id": 3, "ts": "2024-01-01 06:00:00", "user_id": 1,
         "event_type": "click", "value": 1.0, "props": "{}"},
    ]
    (src / "b0.jsonl").write_text("\n".join(_json.dumps(r) for r in b0))
    run_once()

    # run 2: a LATE event for the long-closed 00:00 window
    b1 = [
        {"event_id": 4, "ts": "2024-01-01 00:30:00", "user_id": 1,
         "event_type": "click", "value": 1.0, "props": "{}"},
    ]
    (src / "b1.jsonl").write_text("\n".join(_json.dumps(r) for r in b1))
    run_once()

    out = spark.read.parquet(dest)
    rows = {
        str(r["window_start"]): r["n_events"]
        for r in out.filter(out.n_events.isNotNull()).collect()
    }
    # the 00:00 window holds only the ON-TIME events; the late
    # arrival was dropped, and no duplicate emission happened
    assert rows.get("2024-01-01 00:00:00") == 2, rows


@pytest.mark.slow
def test_stream_stream_join_matches_batch(spark, sf_dir, tmp_path):
    """Stream-stream click→purchase attribution join equals the same
    join run in batch over identical data."""
    from pyspark.sql import functions as F

    from parquet_pipeline_spark.streaming.events import (
        stream_stream_click_purchase_join,
    )

    src, batch_events = _events_as_jsonl(spark, sf_dir, tmp_path)

    def split(df):
        return (
            df.filter(F.col("event_type") == "click"),
            df.filter(F.col("event_type") == "purchase"),
        )

    s_clicks, s_purch = split(read_event_stream(spark, src, fmt="json", max_files=1))
    joined = stream_stream_click_purchase_join(s_clicks, s_purch)
    q = (
        joined.writeStream.format("memory")
        .queryName("attribution")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["click_id"], r["purchase_id"])
        for r in spark.sql("SELECT * FROM attribution").collect()
    }

    b_clicks, b_purch = split(batch_events)
    expected = {
        (r["click_id"], r["purchase_id"])
        for r in stream_stream_click_purchase_join(b_clicks, b_purch).collect()
    }
    assert got == expected
    assert len(got) > 0


def test_streaming_asof_join_matches_batch(spark, tmp_path):
    """The stateful streaming as-of join must agree with the batch
    asof_join on every probe it emits (a probe is emitted once the
    watermark passes its ts; the final batch's probes stay pending —
    same partial-emission contract as the sessionize twin test)."""
    import json as _json

    from pyspark.sql import functions as F

    from parquet_pipeline_spark.operators.temporal import asof_join
    from parquet_pipeline_spark.streaming.events import streaming_asof_join

    # interleaved quotes/probes for two keys, out of order within
    # batches, split across 3 micro-batches; watermark 10 minutes so
    # later batches push the watermark past earlier probes
    def ev(eid, ts, uid, kind, val):
        return {"event_id": eid, "ts": ts, "user_id": uid,
                "event_type": kind, "value": val, "props": "{}"}

    batches = [
        [
            ev(1, "2024-01-01 00:00:00", 1, "quote", 10.0),
            ev(2, "2024-01-01 00:05:00", 1, "probe", 0.0),
            ev(3, "2024-01-01 00:02:00", 2, "quote", 20.0),
        ],
        [
            ev(4, "2024-01-01 01:00:00", 1, "quote", 11.0),
            ev(5, "2024-01-01 01:05:00", 1, "probe", 0.0),
            ev(6, "2024-01-01 00:50:00", 2, "probe", 0.0),
            ev(7, "2024-01-01 00:40:00", 2, "quote", 21.0),  # out of order
        ],
        [
            # watermark pusher: far-future rows advance the watermark
            # past every earlier probe so batches 1-2 all emit
            ev(8, "2024-01-01 09:00:00", 1, "quote", 12.0),
            ev(9, "2024-01-01 09:00:00", 2, "quote", 22.0),
        ],
    ]
    src = tmp_path / "asof_src"
    src.mkdir()
    for i, b in enumerate(batches):
        (src / f"b{i}.jsonl").write_text("\n".join(_json.dumps(r) for r in b))

    def split(df):
        return (
            df.filter(F.col("event_type") == "probe").withColumnRenamed(
                "event_id", "id"
            ),
            df.filter(F.col("event_type") == "quote").withColumnRenamed(
                "value", "rate"
            ),
        )

    s_probes, s_quotes = split(read_event_stream(spark, str(src), fmt="json", max_files=1))
    joined = streaming_asof_join(
        s_probes, s_quotes, by="user_id", ts_col="ts",
        probe_id_col="id", value_col="rate", watermark="10 minutes",
    )
    q = (
        joined.writeStream.format("memory")
        .queryName("asof_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        r["id"]: r["rate"]
        for r in spark.sql("SELECT * FROM asof_stream").collect()
    }

    all_rows = [r for b in batches for r in b]
    batch_df = spark.createDataFrame(
        [(r["event_id"], r["ts"], r["user_id"], r["event_type"], r["value"])
         for r in all_rows],
        "event_id long, ts string, user_id long, event_type string, value double",
    ).withColumn("ts", F.col("ts").cast("timestamp"))
    b_probes, b_quotes = split(batch_df)
    expected = {
        r["id"]: r["rate"]
        for r in asof_join(
            b_probes, b_quotes, "ts", "rate", by=["user_id"]
        ).collect()
    }
    # every emitted probe matches the batch result exactly
    for pid, rate in got.items():
        assert expected[pid] == rate, (pid, rate, expected)
    # probes from batches 1-2 (ids 2, 5, 6) are all past the final
    # watermark (08:50) and must have emitted
    assert {2, 5, 6} <= set(got), got


def test_streaming_asof_join_string_key_and_null(spark, tmp_path):
    """Same stateful as-of join with a STRING key column (the r4 bug
    class was a hardcoded key type — both key types must work), plus
    a probe with no prior quote, which must emit a SQL null rate,
    not NaN (batch left-join parity)."""
    import json as _json

    from pyspark.sql import functions as F

    from parquet_pipeline_spark.streaming.events import streaming_asof_join

    def ev(eid, ts, sym, kind, val):
        return {"event_id": eid, "ts": ts, "sym": sym,
                "event_type": kind, "value": val}

    batches = [
        [
            ev(1, "2024-01-01 00:00:00", "AAA", "quote", 10.0),
            ev(2, "2024-01-01 00:05:00", "AAA", "probe", 0.0),
            # BBB probe has NO quote at or before its ts → null match
            ev(3, "2024-01-01 00:06:00", "BBB", "probe", 0.0),
        ],
        [
            ev(4, "2024-01-01 09:00:00", "AAA", "quote", 11.0),
            ev(5, "2024-01-01 09:00:00", "BBB", "quote", 21.0),
        ],
    ]
    src = tmp_path / "asof_str_src"
    src.mkdir()
    for i, b in enumerate(batches):
        (src / f"b{i}.jsonl").write_text("\n".join(_json.dumps(r) for r in b))

    schema = "event_id long, ts timestamp, sym string, event_type string, value double"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    s_probes = stream.filter(F.col("event_type") == "probe").withColumnRenamed(
        "event_id", "id"
    )
    s_quotes = stream.filter(F.col("event_type") == "quote").withColumnRenamed(
        "value", "rate"
    )
    joined = streaming_asof_join(
        s_probes, s_quotes, by="sym", ts_col="ts",
        probe_id_col="id", value_col="rate", watermark="10 minutes",
    )
    assert joined.schema["sym"].dataType.typeName() == "string"
    assert joined.schema["id"].dataType.typeName() == "long"
    q = (
        joined.writeStream.format("memory")
        .queryName("asof_str_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    rows = {
        r["id"]: (r["sym"], r["rate"])
        for r in spark.sql("SELECT * FROM asof_str_stream").collect()
    }
    assert rows[2] == ("AAA", 10.0), rows
    # unmatched probe: key preserved, rate is a true SQL null
    assert rows[3] == ("BBB", None), rows
    n_null = spark.sql(
        "SELECT count(*) AS n FROM asof_str_stream WHERE rate IS NULL"
    ).collect()[0]["n"]
    assert n_null == 1


def test_streaming_funnel_matches_batch_semantics(spark, tmp_path):
    """The stateful streaming funnel must emit exactly the stage
    transitions q77's batch logic derives — under out-of-order
    arrival (a user's view lands a batch AFTER their later click,
    while both are inside the watermark horizon)."""
    import json as _json

    from parquet_pipeline_spark.streaming.events import streaming_funnel

    def ev(eid, ts, uid, kind):
        return {"event_id": eid, "ts": ts, "user_id": uid,
                "event_type": kind, "value": 0.0, "props": "{}"}

    batches = [
        [
            ev(1, "2024-01-01 00:00:00", 1, "view"),
            ev(2, "2024-01-01 00:10:00", 1, "click"),
            ev(3, "2024-01-01 00:15:00", 2, "click"),   # click BEFORE its view arrives
            ev(4, "2024-01-01 00:02:00", 3, "purchase"),  # purchase w/o view: no stage
        ],
        [
            ev(5, "2024-01-01 00:05:00", 2, "view"),    # late view legitimizes click@15
            ev(6, "2024-01-01 00:12:00", 2, "purchase"),  # before click-stage ts: invalid
            ev(7, "2024-01-01 00:20:00", 1, "purchase"),
            ev(8, "2024-01-01 00:01:00", 2, "click"),   # click before view: invalid
        ],
        [
            # watermark pusher (stage-typed so it passes the filter);
            # its own transition stays pending — never final
            ev(9, "2024-01-01 09:00:00", 99, "view"),
        ],
    ]
    src = tmp_path / "funnel_src"
    src.mkdir()
    for i, b in enumerate(batches):
        (src / f"b{i}.jsonl").write_text("\n".join(_json.dumps(r) for r in b))

    stream = read_event_stream(spark, str(src), fmt="json", max_files=1)
    out = streaming_funnel(stream, watermark="10 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("funnel_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["user_id"], r["stage"], str(r["ts"]))
        for r in spark.sql("SELECT * FROM funnel_stream").collect()
    }
    expected = {
        (1, 1, "2024-01-01 00:00:00"),
        (1, 2, "2024-01-01 00:10:00"),
        (1, 3, "2024-01-01 00:20:00"),
        (2, 1, "2024-01-01 00:05:00"),
        (2, 2, "2024-01-01 00:15:00"),  # the out-of-order pair resolved in ts order
    }
    assert got == expected, got


def test_stream_upsert_latest_wins(spark, tmp_path):
    """CDC pattern: the same user_id arrives in two micro-batches —
    the final table holds one row per key with the later value."""
    import json as _json

    from parquet_pipeline_spark.streaming.events import stream_upsert_to_parquet

    src = tmp_path / "cdc_src"
    src.mkdir()
    b0 = [
        {"event_id": 1, "ts": "2024-01-01 00:00:00", "user_id": 7,
         "event_type": "signup", "value": 1.0, "props": "{}"},
        {"event_id": 2, "ts": "2024-01-01 00:05:00", "user_id": 8,
         "event_type": "signup", "value": 1.0, "props": "{}"},
    ]
    b1 = [
        {"event_id": 3, "ts": "2024-01-01 01:00:00", "user_id": 7,
         "event_type": "upgrade", "value": 9.0, "props": "{}"},
    ]
    (src / "b0.jsonl").write_text("\n".join(_json.dumps(r) for r in b0))
    (src / "b1.jsonl").write_text("\n".join(_json.dumps(r) for r in b1))

    stream = read_event_stream(spark, str(src), fmt="json", max_files=1)
    dest = str(tmp_path / "users.parquet")
    q = stream_upsert_to_parquet(stream, dest, str(tmp_path / "ckpt"), ["user_id"])
    q.awaitTermination(180)

    rows = {r["user_id"]: r["event_type"] for r in spark.read.parquet(dest).collect()}
    assert rows == {7: "upgrade", 8: "signup"}


def test_streaming_source_resample_matches_batch(spark, sf_dir, tmp_path):
    """Corpus-curation filters are stateless pure expressions, so
    they run unchanged under Structured Streaming: resampling a
    document stream keeps exactly the rows the batch twin keeps
    (same md5-keyed decision per row, no state, no watermark)."""
    from parquet_pipeline_spark.operators.dedup import source_weighted_resample

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    src = str(tmp_path / "docs_stream")
    docs.coalesce(4).write.json(src)

    stream = spark.readStream.schema(docs.schema).option(
        "maxFilesPerTrigger", 1
    ).json(src)
    assert stream.isStreaming
    q = (
        source_weighted_resample(stream)
        .select("doc_id")
        .writeStream.format("memory")
        .queryName("resampled_docs")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {r["doc_id"] for r in spark.sql("SELECT * FROM resampled_docs").collect()}
    expected = {
        r["doc_id"] for r in source_weighted_resample(docs).select("doc_id").collect()
    }
    assert got == expected and got


def test_streaming_contamination_screen_matches_batch(spark, sf_dir, tmp_path):
    """Stream-static join: a streaming document corpus screened
    against a STATIC benchmark eval set through the unchanged batch
    operator (contamination_hits) flags exactly the batch pairs —
    Structured Streaming handles the static side as a lookup and the
    per-pair aggregation in complete mode."""
    from pyspark.sql import functions as F

    from parquet_pipeline_spark.operators.text import contamination_hits

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    bench = docs.filter(F.col("doc_id") < 10).select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") >= 10)

    src = str(tmp_path / "corpus_stream")
    corpus.coalesce(3).write.json(src)
    stream = spark.readStream.schema(corpus.schema).option(
        "maxFilesPerTrigger", 1
    ).json(src)

    q = (
        contamination_hits(stream, bench, min_hits=3)
        .writeStream.format("memory")
        .queryName("contam_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = {
        (r["corpus_doc"], r["bench_doc"], r["n_shared"])
        for r in spark.sql("SELECT * FROM contam_stream").collect()
    }
    expected = {
        (r["corpus_doc"], r["bench_doc"], r["n_shared"])
        for r in contamination_hits(corpus, bench, min_hits=3).collect()
    }
    assert got == expected and got


def test_streaming_cms_counters_match_batch(spark, sf_dir, tmp_path):
    """The count-min sketch is a pure groupBy aggregate over (hash
    row, bucket), so Structured Streaming maintains it incrementally
    with bounded d x w state: streaming the corpus file-by-file in
    complete mode converges to exactly the batch counter table."""
    from pyspark.sql import functions as F

    from parquet_pipeline_spark.operators.sketches import cms_counters

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    src = str(tmp_path / "cms_stream")
    docs.coalesce(3).write.json(src)

    stream = spark.readStream.schema(docs.schema).option(
        "maxFilesPerTrigger", 1
    ).json(src)
    toks = stream.select(F.explode(F.split("text", " ")).alias("token"))
    q = (
        cms_counters(toks)
        .writeStream.format("memory")
        .queryName("cms_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {
        (r["j"], r["bucket"]): r["cell_count"]
        for r in spark.sql("SELECT * FROM cms_stream").collect()
    }
    batch_toks = docs.select(F.explode(F.split("text", " ")).alias("token"))
    expected = {
        (r["j"], r["bucket"]): r["cell_count"]
        for r in cms_counters(batch_toks).collect()
    }
    assert got == expected and got


def test_streaming_span_filter_matches_batch_kept_set(spark, sf_dir, tmp_path):
    """The streaming first-arrival span dedup must keep exactly the
    batch operator's kept-span SET (one survivor per distinct span),
    regardless of micro-batch arrival order."""
    from pyspark.sql import functions as F

    from parquet_pipeline_spark.operators.corpus import span_dedup
    from parquet_pipeline_spark.streaming.events import streaming_span_filter

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    src = str(tmp_path / "span_stream")
    docs.coalesce(3).write.json(src)

    stream = spark.readStream.schema(docs.schema).option(
        "maxFilesPerTrigger", 1
    ).json(src)
    q = (
        streaming_span_filter(stream)
        .select("span")
        .writeStream.format("memory")
        .queryName("span_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = [r["span"] for r in spark.sql("SELECT span FROM span_stream").collect()]
    assert len(got) == len(set(got)), "a span survived twice"

    # the kept-span set == the corpus's distinct spans (what batch
    # span_dedup keeps, just under its deterministic occurrence rule)
    from parquet_pipeline_spark.operators.corpus import explode_spans

    all_spans = {r["span"] for r in explode_spans(docs).select("span").distinct().collect()}
    assert set(got) == all_spans
    # and the total kept count matches the batch operator's
    n_batch_kept = span_dedup(docs).agg(F.sum("kept_spans")).first()[0]
    assert len(got) == n_batch_kept


def test_streaming_bloom_prefilter_matches_batch(spark, sf_dir, tmp_path):
    """The Bloom membership predicate is a stateless expression, so
    a STREAMING fact side probes a filter built from a static dim
    unchanged — and the exact downstream join keeps results
    bit-identical to the batch path."""
    from pyspark.sql import functions as F

    from parquet_pipeline_spark.functions.bloom import build_bloom, with_bloom_hit

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").select(
        "o_orderkey", "o_custkey"
    )
    dim = (
        spark.read.parquet(f"{sf_dir}/customer.parquet")
        .filter(F.col("c_mktsegment") == "HOUSEHOLD")
        .select("c_custkey")
    )
    bitmap = build_bloom(dim, "c_custkey")

    src = str(tmp_path / "orders_stream")
    orders.coalesce(3).write.json(src)
    stream = spark.readStream.schema(orders.schema).option(
        "maxFilesPerTrigger", 1
    ).json(src)

    pre = with_bloom_hit(stream, bitmap, "o_custkey").filter(F.col("_bloom_hit"))
    joined = pre.join(dim, pre.o_custkey == dim.c_custkey).select("o_orderkey")
    q = (
        joined.writeStream.format("memory")
        .queryName("bloom_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = {r["o_orderkey"] for r in spark.sql("SELECT * FROM bloom_stream").collect()}
    expected = {
        r["o_orderkey"]
        for r in orders.join(dim, orders.o_custkey == dim.c_custkey)
        .select("o_orderkey")
        .collect()
    }
    assert got == expected and got


def test_streaming_incremental_dedup_index_grows(spark, sf_dir, tmp_path):
    """Continuous cross-snapshot dedup: batch 1 docs flag against the
    corpus index; batch 2 docs flag against corpus AND batch 1 (the
    foreachBatch loop appends each batch's fingerprints), with zero
    re-reads of corpus text."""
    import json as _json

    from parquet_pipeline_spark.operators.dedup import banded_minhash
    from parquet_pipeline_spark.streaming.events import (
        streaming_incremental_dedup,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.filter("doc_id % 3 != 0").select("doc_id", "text")
    idx_path = str(tmp_path / "corpus_idx")
    banded_minhash(corpus, num_hashes=16, bands=4).write.partitionBy(
        "band_id"
    ).parquet(idx_path)

    c_row = corpus.orderBy("doc_id").first()  # a corpus doc to clone
    held_out = [
        (r["doc_id"], r["text"])
        for r in docs.filter("doc_id % 3 = 0").orderBy("doc_id").limit(4).collect()
    ]
    b1 = [
        {"doc_id": 500000, "text": c_row["text"]},      # dup of corpus
        {"doc_id": 500001, "text": held_out[0][1]},
        {"doc_id": 500002, "text": held_out[1][1]},
    ]
    b2 = [
        {"doc_id": 600000, "text": c_row["text"]},      # dup of corpus
        {"doc_id": 600001, "text": b1[1]["text"]},      # dup of BATCH 1 doc
        {"doc_id": 600002, "text": held_out[2][1]},
    ]
    src = tmp_path / "doc_stream"
    src.mkdir()
    import os as _os
    import time as _time

    now = _time.time()
    for i, b in enumerate([b1, b2]):
        p = src / f"b{i}.jsonl"
        p.write_text("\n".join(_json.dumps(r) for r in b))
        _os.utime(p, (now + i, now + i))

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    dest = str(tmp_path / "flags")
    q = streaming_incremental_dedup(
        stream, idx_path, dest, str(tmp_path / "ckpt"),
        num_hashes=16, bands=4,
    )
    q.awaitTermination(180)

    out = {r["doc_id"]: r for r in spark.read.parquet(dest).collect()}
    assert len(out) == 6
    assert out[500000]["is_dup"] == 1 and out[500000]["dup_of"] == c_row["doc_id"]
    assert out[600000]["is_dup"] == 1
    # 600001 duplicates a batch-1 doc — only findable because the
    # index grew; its dup_of is the batch-1 id (or an even lower
    # colliding corpus id, but it MUST be flagged)
    assert out[600001]["is_dup"] == 1
    # the index now carries corpus + both batches' fingerprints
    idx_ids = {r["doc_id"] for r in spark.read.parquet(idx_path).select("doc_id").distinct().collect()}
    assert {500000, 500001, 500002, 600000, 600001, 600002} <= idx_ids


def test_streaming_vector_index_append(spark, sf_dir, tmp_path):
    """New embedding batches stream into the partitioned IVF index;
    an indexed query immediately retrieves a streamed vector, with
    partition pruning intact."""
    import json as _json

    from parquet_pipeline_spark.operators.vectors import (
        ivf_centroids,
        ivf_knn_join,
        write_ivf_index,
    )
    from parquet_pipeline_spark.streaming.events import (
        streaming_vector_index_append,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    corpus = emb.filter("vec_id != 0")
    cents = ivf_centroids(corpus, k=8)
    idx = str(tmp_path / "ivf")
    write_ivf_index(corpus, cents, idx)

    src = tmp_path / "vec_stream"
    src.mkdir()
    (src / "b0.jsonl").write_text(
        _json.dumps({"vec_id": 880000, "embedding": qv, "label": 3})
    )
    stream = spark.readStream.schema(
        "vec_id long, embedding array<float>, label int"
    ).json(str(src))
    q = streaming_vector_index_append(stream, cents, idx, str(tmp_path / "ck"))
    q.awaitTermination(120)

    top1 = ivf_knn_join(spark, idx, cents, [(0, qv)], k=1, nprobe=3).first()
    assert top1["vec_id"] == 880000 and abs(top1["score"] - 1.0) < 1e-6


def test_streaming_ivf_pq_append_grows_index_and_refuses_drift(spark, sf_dir, tmp_path):
    """Streamed embedding batches land in the IVF-ADC index's cell
    partitions (probe sees them immediately); a stream started with
    a model that doesn't match the index metadata fails its first
    trigger loudly instead of mixing incompatible codes."""
    import json as _json

    import numpy as np
    from pyspark.sql.streaming import StreamingQueryException

    from parquet_pipeline_spark.operators.vectors import (
        ivf_centroids,
        ivf_pq_index,
        ivf_pq_knn_join,
        pq_train,
        read_ivfpq_meta,
    )
    from parquet_pipeline_spark.streaming.events import streaming_ivf_pq_append

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    corpus = emb.filter("vec_id != 0")
    qv = [float(x) for x in emb.filter("vec_id = 0").first()["embedding"]]
    cents = ivf_centroids(corpus, k=8)
    books = pq_train(corpus, m=8, k_codes=16, sample=256)
    idx = str(tmp_path / "idx")
    ivf_pq_index(corpus, cents, books, idx)
    n0 = spark.read.parquet(idx).count()

    src = tmp_path / "emb_stream"
    src.mkdir()
    (src / "b0.jsonl").write_text(
        _json.dumps({"vec_id": 880000, "embedding": qv})
    )
    stream = spark.readStream.schema("vec_id long, embedding array<double>").json(
        str(src)
    )
    q = streaming_ivf_pq_append(stream, idx, cents, books, str(tmp_path / "ck"))
    assert q.awaitTermination(180)
    assert spark.read.parquet(idx).count() == n0 + 1
    assert read_ivfpq_meta(idx)["appends"] == 1
    # the streamed vector is a perfect match for query 0's vector:
    # the probe must retrieve it at rank 1
    top1 = ivf_pq_knn_join(
        spark, idx, cents, books,
        corpus.unionByName(
            spark.createDataFrame([(880000, qv)], "vec_id long, embedding array<double>")
        ),
        [(0, qv)], k=1, nprobe=3,
    ).first()
    assert top1["vec_id"] == 880000

    # drifted model -> first trigger refuses, index untouched
    drift_books = [np.asarray(b, dtype=np.float64) * 1.5 for b in books]
    q2 = streaming_ivf_pq_append(
        stream, idx, cents, drift_books, str(tmp_path / "ck2")
    )
    try:
        q2.awaitTermination(180)
        assert q2.exception() is not None
    except StreamingQueryException:
        pass
    assert spark.read.parquet(idx).count() == n0 + 1  # no drifted codes landed


@pytest.mark.slow
def test_streaming_knn_probe_matches_batch(spark, sf_dir, tmp_path):
    """Query vectors streamed in two micro-batches through the
    persisted IVF-ADC index produce exactly the rows one batched
    ivf_pq_knn_join of all queries produces (micro-batch boundaries
    are arbitrary, so they must not change any result), written
    partitioned by _batch_id for exactly-once replay."""
    import json as _json
    import os
    import time as _time

    from parquet_pipeline_spark.operators.vectors import (
        ivf_centroids,
        ivf_pq_index,
        ivf_pq_knn_join,
        pq_train,
    )
    from parquet_pipeline_spark.streaming.events import streaming_knn_probe

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    corpus = emb.filter("vec_id >= 4")
    cents = ivf_centroids(corpus, k=8)
    books = pq_train(corpus, m=8, k_codes=16, sample=256)
    idx = str(tmp_path / "idx")
    ivf_pq_index(corpus, cents, books, idx)

    qrows = [
        (r["vec_id"], [float(x) for x in r["embedding"]])
        for r in emb.filter("vec_id < 4").collect()
    ]
    want = sorted(
        tuple(r)
        for r in ivf_pq_knn_join(
            spark, idx, cents, books, corpus, qrows, k=5, nprobe=4
        ).collect()
    )

    src = tmp_path / "q_stream"
    src.mkdir()
    now = _time.time()
    for i, chunk in enumerate((qrows[:2], qrows[2:])):
        p = src / f"b{i}.jsonl"
        p.write_text(
            "\n".join(
                _json.dumps({"vec_id": q, "embedding": v}) for q, v in chunk
            )
        )
        os.utime(p, (now + i, now + i))
    stream = (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    dest = str(tmp_path / "res")
    q = streaming_knn_probe(
        stream, idx, cents, books, corpus, dest, str(tmp_path / "ck"),
        k=5, nprobe=4,
    )
    assert q.awaitTermination(180)

    out = spark.read.parquet(dest)
    got = sorted(
        tuple(r) for r in out.select("q_id", "vec_id", "score").collect()
    )
    assert got == want
    # two triggers -> two _batch_id partitions (the replay unit)
    assert out.select("_batch_id").distinct().count() == 2

    # filtered ANN through the stream (r14): the eligibility set
    # passes into every trigger's probe plan, so the streamed result
    # equals the filtered batch probe and never leaks an ineligible id
    from pyspark.sql import functions as F

    even = corpus.filter(F.col("vec_id") % 2 == 0)
    want_f = sorted(
        tuple(r)
        for r in ivf_pq_knn_join(
            spark, idx, cents, books, corpus, qrows, k=5, nprobe=4,
            eligible=even,
        ).collect()
    )
    dest_f = str(tmp_path / "res_f")
    stream_f = (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    qf = streaming_knn_probe(
        stream_f, idx, cents, books, corpus, dest_f, str(tmp_path / "ck_f"),
        k=5, nprobe=4, eligible=even,
    )
    assert qf.awaitTermination(180)
    got_f = sorted(
        tuple(r)
        for r in spark.read.parquet(dest_f)
        .select("q_id", "vec_id", "score")
        .collect()
    )
    assert got_f == want_f
    assert all(vid % 2 == 0 for _q, vid, _s in got_f)


@pytest.mark.slow
def test_streaming_incremental_dedup_flags_idempotent_per_batch(spark, sf_dir, tmp_path):
    """The flags sink partitions by _batch_id with dynamic overwrite:
    re-running a batch (fresh checkpoint, same files) rewrites its
    partitions instead of double-appending."""
    import json as _json
    import os as _os
    import time as _time

    from parquet_pipeline_spark.operators.dedup import banded_minhash
    from parquet_pipeline_spark.streaming.events import (
        streaming_incremental_dedup,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    corpus = docs.filter("doc_id % 3 != 0").select("doc_id", "text")
    idx = str(tmp_path / "idx")
    banded_minhash(corpus, num_hashes=16, bands=4).write.partitionBy("band_id").parquet(idx)

    texts = [r["text"] for r in docs.orderBy("doc_id").limit(2).collect()]
    src = tmp_path / "stream"
    src.mkdir()
    now = _time.time()
    for i, t in enumerate(texts):
        p = src / f"b{i}.jsonl"
        p.write_text(_json.dumps({"doc_id": 700000 + i, "text": t}))
        _os.utime(p, (now + i, now + i))

    dest = str(tmp_path / "flags")

    def run(ck):
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .json(str(src))
        )
        q = streaming_incremental_dedup(
            stream, idx, dest, str(tmp_path / ck),
            num_hashes=16, bands=4, update_index=False,
        )
        q.awaitTermination(120)

    run("ck1")
    first = spark.read.parquet(dest).select("doc_id", "dup_of", "is_dup").collect()
    assert len(first) == 2
    run("ck2")  # full replay: same batch ids -> partitions rewritten
    second = spark.read.parquet(dest).select("doc_id", "dup_of", "is_dup").collect()
    assert sorted(map(tuple, second)) == sorted(map(tuple, first))


def test_streaming_knn_probe_splits_oversized_trigger(spark, sf_dir, tmp_path):
    """VERDICT r12 item 7: one trigger carrying more queries than
    max_queries_per_trigger is SPLIT into chunked probe plans — and
    because the probe is per-query masked, the chunked union is
    byte-identical to the one-batch answer (one _batch_id partition:
    splitting is an internal memory bound, not a replay unit)."""
    import json as _json

    from parquet_pipeline_spark.operators.vectors import (
        ivf_centroids,
        ivf_pq_index,
        ivf_pq_knn_join,
        pq_train,
    )
    from parquet_pipeline_spark.streaming.events import streaming_knn_probe

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    corpus = emb.filter("vec_id >= 4")
    cents = ivf_centroids(corpus, k=8)
    books = pq_train(corpus, m=8, k_codes=16, sample=256)
    idx = str(tmp_path / "idx")
    ivf_pq_index(corpus, cents, books, idx)

    qrows = [
        (r["vec_id"], [float(x) for x in r["embedding"]])
        for r in emb.filter("vec_id < 4").collect()
    ]
    want = sorted(
        tuple(r)
        for r in ivf_pq_knn_join(
            spark, idx, cents, books, corpus, qrows, k=5, nprobe=4
        ).collect()
    )

    src = tmp_path / "q_stream"
    src.mkdir()
    (src / "all.jsonl").write_text(
        "\n".join(_json.dumps({"vec_id": q, "embedding": v}) for q, v in qrows)
    )
    stream = spark.readStream.schema(
        "vec_id long, embedding array<double>"
    ).json(str(src))
    dest = str(tmp_path / "res")
    q = streaming_knn_probe(
        stream, idx, cents, books, corpus, dest, str(tmp_path / "ck"),
        k=5, nprobe=4, max_queries_per_trigger=2,
    )
    assert q.awaitTermination(180)

    out = spark.read.parquet(dest)
    got = sorted(
        tuple(r) for r in out.select("q_id", "vec_id", "score").collect()
    )
    assert got == want
    assert out.select("_batch_id").distinct().count() == 1


def test_streaming_knn_probe_refuses_backlog_drain(spark, sf_dir, tmp_path):
    """A first trigger draining a backlog past max_trigger_backlog
    must FAIL the stream loudly before collecting it driver-side."""
    import json as _json

    import pytest as _pytest

    from parquet_pipeline_spark.operators.vectors import (
        ivf_centroids,
        ivf_pq_index,
        pq_train,
    )
    from parquet_pipeline_spark.streaming.events import streaming_knn_probe

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    corpus = emb.filter("vec_id >= 4")
    cents = ivf_centroids(corpus, k=8)
    books = pq_train(corpus, m=8, k_codes=16, sample=256)
    idx = str(tmp_path / "idx")
    ivf_pq_index(corpus, cents, books, idx)

    qrows = [
        (r["vec_id"], [float(x) for x in r["embedding"]])
        for r in emb.filter("vec_id < 4").collect()
    ]
    src = tmp_path / "q_stream"
    src.mkdir()
    (src / "all.jsonl").write_text(
        "\n".join(_json.dumps({"vec_id": q, "embedding": v}) for q, v in qrows)
    )
    stream = spark.readStream.schema(
        "vec_id long, embedding array<double>"
    ).json(str(src))
    q = streaming_knn_probe(
        stream, idx, cents, books, corpus,
        str(tmp_path / "res"), str(tmp_path / "ck"),
        k=5, nprobe=4, max_trigger_backlog=2,
    )
    with _pytest.raises(Exception, match="max_trigger_backlog"):
        q.awaitTermination(180)
        raise AssertionError("stream should have failed")


def test_streaming_ivf_pq_append_auto_compaction(spark, sf_dir, tmp_path):
    """compact_every=N bounds the streamed index's small-file litter
    at N batches' worth WITHOUT changing what the index holds: after
    4 single-file triggers with compact_every=2, the sidecar shows
    two compactions and zero pending appends, every cell directory is
    back to one file, and the index is row-for-row the batch-appended
    index (compaction moves bytes and drops replay litter only — and
    there is none here)."""
    import json as _json
    import os as _os
    import time as _time

    from parquet_pipeline_spark.operators.vectors import (
        ivf_centroids,
        ivf_pq_append,
        ivf_pq_index,
        pq_train,
        read_ivfpq_meta,
    )
    from parquet_pipeline_spark.streaming.events import streaming_ivf_pq_append

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    snap = emb.filter("vec_id >= 100 AND vec_id < 300")
    new = [
        (r["vec_id"], [float(x) for x in r["embedding"]])
        for r in emb.filter("vec_id < 100").collect()
        if r["embedding"] is not None
    ]
    cents = ivf_centroids(snap, k=4)
    books = pq_train(snap, m=8, k_codes=16, sample=256)

    stream_idx = str(tmp_path / "s_idx")
    batch_idx = str(tmp_path / "b_idx")
    ivf_pq_index(snap, cents, books, stream_idx)
    ivf_pq_index(snap, cents, books, batch_idx)

    q = len(new) // 4 or 1
    chunks = [new[i * q : (i + 1) * q] for i in range(3)] + [new[3 * q :]]
    src = tmp_path / "src"
    src.mkdir()
    now = _time.time()
    for i, chunk in enumerate(c for c in chunks if c):
        p = src / f"b{i}.jsonl"
        p.write_text(
            "\n".join(
                _json.dumps({"vec_id": v, "embedding": e}) for v, e in chunk
            )
        )
        _os.utime(p, (now + i, now + i))
        ivf_pq_append(
            spark,
            batch_idx,
            spark.createDataFrame(chunk, "vec_id long, embedding array<double>"),
            cents,
            books,
        )

    stream = (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    sq = streaming_ivf_pq_append(
        stream, stream_idx, cents, books, str(tmp_path / "ck"),
        compact_every=2,
    )
    assert sq.awaitTermination(300)

    meta = read_ivfpq_meta(stream_idx)
    assert meta["compactions"] == 2 and meta["appends"] == 0
    per_dir = {}
    for root, _dirs, files in _os.walk(stream_idx):
        n = sum(f.endswith(".parquet") for f in files)
        if n:
            per_dir[root] = n
    assert all(n == 1 for n in per_dir.values())  # litter bounded

    s_df = spark.read.parquet(stream_idx)
    b_df = spark.read.parquet(batch_idx).select(*s_df.columns)
    assert s_df.exceptAll(b_df).count() == 0
    assert b_df.exceptAll(s_df).count() == 0


def test_streaming_ivf_pq_append_stats_driven_compaction(spark, sf_dir, tmp_path):
    """compact_on_files_per_cell=K (r15): compaction fires on OBSERVED
    fragmentation — the p95 per-cell file count from the ivf_pq_stats
    scan — not on a blind append counter. Lifecycle: 4 single-file
    triggers with threshold 2 and NO compact_every; the appends litter
    the touched cells past 2 files, the policy fires mid-stream
    (sidecar shows compactions > 0, appends reset), the final index is
    row-for-row the batch-appended twin, and every cell directory ends
    within the fragmentation bound."""
    import json as _json
    import os as _os
    import time as _time

    from parquet_pipeline_spark.operators.vectors import (
        ivf_centroids,
        ivf_pq_append,
        ivf_pq_index,
        pq_train,
        read_ivfpq_meta,
    )
    from parquet_pipeline_spark.streaming.events import streaming_ivf_pq_append

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    snap = emb.filter("vec_id >= 100 AND vec_id < 300")
    new = [
        (r["vec_id"], [float(x) for x in r["embedding"]])
        for r in emb.filter("vec_id < 100").collect()
        if r["embedding"] is not None
    ]
    cents = ivf_centroids(snap, k=4)
    books = pq_train(snap, m=8, k_codes=16, sample=256)

    stream_idx = str(tmp_path / "s_idx")
    batch_idx = str(tmp_path / "b_idx")
    ivf_pq_index(snap, cents, books, stream_idx)
    ivf_pq_index(snap, cents, books, batch_idx)

    q = len(new) // 4 or 1
    chunks = [new[i * q : (i + 1) * q] for i in range(3)] + [new[3 * q :]]
    src = tmp_path / "src"
    src.mkdir()
    now = _time.time()
    for i, chunk in enumerate(c for c in chunks if c):
        p = src / f"b{i}.jsonl"
        p.write_text(
            "\n".join(
                _json.dumps({"vec_id": v, "embedding": e}) for v, e in chunk
            )
        )
        _os.utime(p, (now + i, now + i))
        ivf_pq_append(
            spark,
            batch_idx,
            spark.createDataFrame(chunk, "vec_id long, embedding array<double>"),
            cents,
            books,
        )

    stream = (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    sq = streaming_ivf_pq_append(
        stream, stream_idx, cents, books, str(tmp_path / "ck"),
        compact_on_files_per_cell=2,
    )
    assert sq.awaitTermination(300)

    meta = read_ivfpq_meta(stream_idx)
    # the policy FIRED from observed fragmentation alone (no counter)
    assert meta["compactions"] >= 1
    # fragmentation bounded: p95 of per-cell file counts ≤ threshold+1
    # (the last trigger may have appended after the final compaction)
    per_dir = []
    for root, _dirs, files in _os.walk(stream_idx):
        n = sum(f.endswith(".parquet") for f in files)
        if n:
            per_dir.append(n)
    per_dir.sort()
    p95 = per_dir[int(0.95 * (len(per_dir) - 1))]
    assert p95 <= 3, per_dir

    # maintenance moved bytes only: content equals the batch twin
    s_df = spark.read.parquet(stream_idx)
    b_df = spark.read.parquet(batch_idx).select(*s_df.columns)
    assert s_df.exceptAll(b_df).count() == 0
    assert b_df.exceptAll(s_df).count() == 0


def test_streaming_sq8_probe_matches_batch(spark, sf_dir, tmp_path):
    """VERDICT r15 item 2: the SQ8 int8 tier served through
    streaming_knn_probe(tier='sq8') — query vectors streamed in two
    micro-batches against the persisted codes produce exactly the
    rows one batched sq8_knn_join of all queries produces, written
    partitioned by _batch_id for exactly-once replay. The IVF-only
    knobs refuse loudly on this tier."""
    import json as _json
    import os
    import time as _time

    import pytest as _pytest

    from pyspark.sql import functions as F

    from parquet_pipeline_spark.operators.vectors import (
        sq8_encode,
        sq8_knn_join,
        sq8_train,
    )
    from parquet_pipeline_spark.streaming.events import streaming_knn_probe

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", "embedding"
    )
    corpus = emb.filter("vec_id >= 4")
    bounds = sq8_train(corpus)
    codes_path = str(tmp_path / "codes")
    sq8_encode(corpus, bounds).write.parquet(codes_path)

    qrows = [
        (r["vec_id"], [float(x) for x in r["embedding"]])
        for r in emb.filter("vec_id < 4").collect()
    ]
    want = sorted(
        tuple(r)
        for r in sq8_knn_join(
            spark.read.parquet(codes_path), bounds, corpus, qrows,
            k=5, shortlist=50,
        ).collect()
    )

    src = tmp_path / "q_stream"
    src.mkdir()
    now = _time.time()
    for i, chunk in enumerate((qrows[:2], qrows[2:])):
        p = src / f"b{i}.jsonl"
        p.write_text(
            "\n".join(
                _json.dumps({"vec_id": q, "embedding": v}) for q, v in chunk
            )
        )
        os.utime(p, (now + i, now + i))
    stream = (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    dest = str(tmp_path / "res")
    q = streaming_knn_probe(
        stream, codes_path, None, None, corpus, dest, str(tmp_path / "ck"),
        k=5, shortlist=50, tier="sq8", sq8_bounds=bounds,
    )
    assert q.awaitTermination(180)

    out = spark.read.parquet(dest)
    got = sorted(
        tuple(r) for r in out.select("q_id", "vec_id", "score").collect()
    )
    assert got == want
    # two triggers -> two _batch_id partitions (the replay unit)
    assert out.select("_batch_id").distinct().count() == 2

    # honest refusals: missing model, IVF-only knobs, unknown tier
    stream2 = (
        spark.readStream.schema("vec_id long, embedding array<double>")
        .json(str(src))
    )
    with _pytest.raises(ValueError, match="sq8_bounds"):
        streaming_knn_probe(
            stream2, codes_path, None, None, corpus,
            str(tmp_path / "r2"), str(tmp_path / "ck2"), tier="sq8",
        )
    with _pytest.raises(ValueError, match="IVF-cell"):
        streaming_knn_probe(
            stream2, codes_path, None, None, corpus,
            str(tmp_path / "r3"), str(tmp_path / "ck3"), tier="sq8",
            sq8_bounds=bounds, eligible=corpus.filter(F.col("vec_id") % 2 == 0),
        )
    with _pytest.raises(ValueError, match="unknown tier"):
        streaming_knn_probe(
            stream2, codes_path, None, None, corpus,
            str(tmp_path / "r4"), str(tmp_path / "ck4"), tier="pq",
        )
