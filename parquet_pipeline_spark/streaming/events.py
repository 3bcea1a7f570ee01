"""Streaming operators over the ``events`` table shape.

The batch twin of ``windowed_event_counts`` is the driver query
``q25_events_hourly`` (operators/relational.py) — identical
window/agg semantics, so the streaming path is verified against the
batch result on the same data in tests/test_streaming.py.

Scale notes: watermark + tumbling window is the canonical bounded-
state pattern; state size is O(windows × event_types), not O(rows).
``stream_to_parquet`` is the incremental-append analog of the
reference's chunked CSV ingest, with checkpointing for exactly-once
file-sink semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_event_stream(
    spark: SparkSession, path: str, fmt: str = "json", max_files: int = 10
) -> DataFrame:
    """File-source stream over a directory of event files (new files
    = new micro-batches — the streaming analog of 'append chunks')."""
    reader = (
        spark.readStream.format(fmt)
        .schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
    )
    return reader.load(path)


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Tumbling-window counts + value sums with late-data handling.
    Works on both batch and streaming DataFrames (same plan shape as
    q25_events_hourly)."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 3).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def stream_to_parquet(
    df: DataFrame, dest: str, checkpoint: str, trigger_once: bool = True
):
    """Incremental parquet sink with checkpointing (exactly-once file
    semantics). ``trigger_once`` processes available data then stops —
    the batch-backfill mode; continuous mode just drops the flag."""
    writer = (
        df.writeStream.format("parquet")
        .option("path", dest)
        .option("checkpointLocation", checkpoint)
        .outputMode("append")
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_sessionize(
    events: DataFrame,
    gap_seconds: int = 1800,
    watermark: str = "2 hours",
) -> DataFrame:
    """Custom stateful streaming operator: per-user session
    aggregation via ``applyInPandasWithState`` (the Spark construct
    for operators the built-in windowed aggs can't express).

    State per user = (open-session start, last-seen ts, event count).
    Each micro-batch folds its events into the state; sessions whose
    gap has been exceeded are EMITTED and removed, the still-open
    session stays in state. Emits (user_id, session_start,
    session_end, n_events) for CLOSED sessions only — bounded state,
    exactly the per-key-state pattern a 100 TB event stream needs
    (state scales with active users, not history).

    The batch twin is ``operators/temporal.sessionize``; equivalence
    on closed sessions is asserted in tests/test_streaming.py.
    """
    from typing import Iterator, Tuple

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("session_start", T.TimestampType()),
            T.StructField("session_end", T.TimestampType()),
            T.StructField("n_events", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("start_us", T.LongType()),
            T.StructField("last_us", T.LongType()),
            T.StructField("count", T.LongType()),
        ]
    )

    def fold(
        key: Tuple[int], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (user_id,) = key
        rows = []
        if state.exists:
            start_us, last_us, count = state.get
        else:
            start_us = last_us = count = None
        ts_us = []
        for pdf in pdfs:
            ts_us.extend(int(t.value // 1000) for t in pd.to_datetime(pdf["ts"]))
        for t in sorted(ts_us):
            if last_us is None:
                start_us, last_us, count = t, t, 1
            elif (t - last_us) > gap_seconds * 1_000_000:
                rows.append((user_id, start_us, last_us, count))
                start_us, last_us, count = t, t, 1
            else:
                last_us, count = t, count + 1
        state.update((start_us, last_us, count))
        if rows:
            out = pd.DataFrame(
                rows, columns=["user_id", "start_us", "end_us", "n_events"]
            )
            yield pd.DataFrame(
                {
                    "user_id": out["user_id"],
                    "session_start": pd.to_datetime(out["start_us"], unit="us"),
                    "session_end": pd.to_datetime(out["end_us"], unit="us"),
                    "n_events": out["n_events"],
                }
            )

    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return src.groupBy("user_id").applyInPandasWithState(
        fold,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_dedup(
    stream: DataFrame, key_cols: list[str], watermark: str = "1 day"
) -> DataFrame:
    """Streaming exact dedup: keep the first arrival per key across
    micro-batches — the streaming twin of the batch exact dedup
    (operators/dedup.dedup_exact).

    State bound: plain ``dropDuplicates(subset)`` only evicts state
    when the event-time column is IN the subset; with keys like
    (user_id, event_type) the watermark would be ignored and state
    grows forever. ``dropDuplicatesWithinWatermark`` evicts by
    watermark regardless of subset, so state = keys seen within the
    watermark horizon. (Duplicates farther apart than the watermark
    are re-emitted — the documented trade for bounded state.)"""
    if stream.isStreaming and "ts" in stream.columns:
        return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
            key_cols
        )
    return stream.dropDuplicates(key_cols)


def stream_stream_click_purchase_join(
    clicks: DataFrame,
    purchases: DataFrame,
    within: str = "30 minutes",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream inner join: purchases attributed to a prior
    click by the same user within ``within``. Watermarks on BOTH
    sides bound the join state (each side buffers only rows younger
    than watermark + join range — the canonical attribution join at
    scale)."""
    c = clicks.select(
        F.col("user_id").alias("c_user"),
        F.col("event_id").alias("click_id"),
        F.col("ts").alias("click_ts"),
    )
    p = purchases.select(
        F.col("user_id").alias("p_user"),
        F.col("event_id").alias("purchase_id"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    if clicks.isStreaming:
        c = c.withWatermark("click_ts", watermark)
    if purchases.isStreaming:
        p = p.withWatermark("purchase_ts", watermark)
    return c.join(
        p,
        F.expr(
            f"""
            c_user = p_user AND
            purchase_ts > click_ts AND
            purchase_ts <= click_ts + INTERVAL {within}
            """
        ),
        "inner",
    ).select("c_user", "click_id", "purchase_id", "purchase_value")


def streaming_asof_join(
    probes: DataFrame,
    quotes: DataFrame,
    by: str = "sym",
    ts_col: str = "ts",
    probe_id_col: str = "id",
    value_col: str = "rate",
    watermark: str = "2 hours",
) -> DataFrame:
    """Stream-stream AS-OF join (backward): each probe row gets the
    value of the latest quote with ``quote.ts <= probe.ts`` for the
    same key — the streaming twin of ``operators/temporal.asof_join``
    (same semantics the batch x01 driver query verifies).

    Structured Streaming's built-in stream-stream join can express
    range bounds but not "latest prior row", so this is a custom
    stateful operator: the two streams are tagged and UNIONED into
    one keyed stream (``applyInPandasWithState`` folds one input),
    and per-key state buffers (a) quotes still within the watermark
    horizon and (b) probes not yet safe to emit.

    Correctness under out-of-order arrival: a probe is emitted only
    once the event-time watermark passes its timestamp — beyond that
    point any still-unseen quote with ``qts <= pts`` would be late
    beyond the watermark and dropped by Spark anyway, so the match
    is final (exactly the argument append-mode windowed aggs make).
    ``EventTimeTimeout`` re-invokes the fold when the watermark
    advances past the earliest pending probe even if the key gets no
    new rows.

    State bound (the 100-TB property): per key, quotes older than
    the newest quote at-or-below the watermark are evicted (that
    newest one dominates them for every future probe), and emitted
    probes leave state immediately — so state is O(quotes within
    horizon + in-flight probes) per key, never history.

    Types: the output key column carries ``probes.schema[by]``'s
    exact type and ``probe_id_col`` its exact type (ids ride through
    state as strings and are converted back on emit); ``value_col``
    is coerced to double. Timestamps delivered to the fold are
    session-timezone-naive; they are tz-localized to
    ``spark.sql.session.timeZone`` and converted to UTC epoch before
    comparison against ``getCurrentWatermarkMs()`` (UTC), so any
    session timezone is safe, not just UTC.
    """
    from typing import Iterator, Tuple

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    if not probes.isStreaming:
        from parquet_pipeline_spark.operators.temporal import asof_join

        out = asof_join(probes, quotes, ts_col, value_col, by=[by])
        return out.select(by, probe_id_col, ts_col, value_col)

    key_type = probes.schema[by].dataType
    id_type = probes.schema[probe_id_col].dataType
    sess_tz = probes.sparkSession.conf.get("spark.sql.session.timeZone") or "UTC"
    if isinstance(id_type, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        conv_id = int
    elif isinstance(id_type, (T.FloatType, T.DoubleType)):
        conv_id = float
    else:
        conv_id = str

    p = probes.select(
        F.col(by).alias("k"),
        F.col(ts_col).alias("ts"),
        F.lit("p").alias("kind"),
        F.col(probe_id_col).cast("string").alias("probe_id"),
        F.lit(None).cast("double").alias("val"),
    )
    q = quotes.select(
        F.col(by).alias("k"),
        F.col(ts_col).alias("ts"),
        F.lit("q").alias("kind"),
        F.lit(None).cast("string").alias("probe_id"),
        F.col(value_col).cast("double").alias("val"),
    )
    unioned = p.unionByName(q).withWatermark("ts", watermark)

    out_schema = T.StructType(
        [
            T.StructField(by, key_type),
            T.StructField(probe_id_col, id_type),
            T.StructField(ts_col, T.TimestampType()),
            T.StructField(value_col, T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("q_ts", T.ArrayType(T.LongType())),
            T.StructField("q_val", T.ArrayType(T.DoubleType())),
            T.StructField("p_ts", T.ArrayType(T.LongType())),
            T.StructField("p_id", T.ArrayType(T.StringType())),
        ]
    )

    def fold(
        key: Tuple[str], pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (k,) = key
        if state.exists:
            q_ts, q_val, p_ts, p_id = (list(x) for x in state.get)
        else:
            q_ts, q_val, p_ts, p_id = [], [], [], []
        for pdf in pdfs:
            ts = pd.to_datetime(pdf["ts"])
            if ts.dt.tz is None:
                # fold inputs arrive session-timezone-naive; anchor
                # them so the epoch compares against the UTC watermark
                ts = ts.dt.tz_localize(sess_tz)
            ts_us = (ts.dt.tz_convert("UTC").astype("int64") // 1000).tolist()
            for t_us, kind, pid, val in zip(
                ts_us, pdf["kind"], pdf["probe_id"], pdf["val"]
            ):
                if kind == "q":
                    q_ts.append(t_us)
                    q_val.append(float(val))
                else:
                    p_ts.append(t_us)
                    p_id.append(str(pid))

        wm_ms = state.getCurrentWatermarkMs()
        wm_us = wm_ms * 1000
        quotes_sorted = sorted(zip(q_ts, q_val))
        emit, pending_ts, pending_id = [], [], []
        for t_us, pid in sorted(zip(p_ts, p_id)):
            # strict <: Spark admits late rows with ts == watermark,
            # so a quote at exactly the probe's ts could still arrive
            # while wm == ts — only strictly-past probes are final
            if t_us < wm_us:
                # latest quote at-or-before the probe (binary scan is
                # fine: buffers are horizon-bounded)
                match = None
                for qt, qv in quotes_sorted:
                    if qt <= t_us:
                        match = qv
                    else:
                        break
                emit.append((k, pid, t_us, match))
            else:
                pending_ts.append(t_us)
                pending_id.append(pid)

        # evict dominated quotes: everything strictly older than the
        # newest quote at-or-below the watermark
        newest_covered = None
        for qt, _ in quotes_sorted:
            if qt <= wm_us:
                newest_covered = qt
            else:
                break
        if newest_covered is not None:
            quotes_sorted = [x for x in quotes_sorted if x[0] >= newest_covered]

        if not quotes_sorted and not pending_ts:
            state.remove()
        else:
            state.update(
                (
                    [x[0] for x in quotes_sorted],
                    [x[1] for x in quotes_sorted],
                    pending_ts,
                    pending_id,
                )
            )
            if pending_ts:
                # fire again once the watermark passes the earliest
                # pending probe (min pending >= wm by construction;
                # timeout timestamps must exceed the current watermark)
                state.setTimeoutTimestamp(max(min(pending_ts) // 1000, wm_ms + 1))

        if emit:
            out = pd.DataFrame(
                {
                    by: [e[0] for e in emit],
                    probe_id_col: [conv_id(e[1]) for e in emit],
                    "ts_us": [e[2] for e in emit],
                    # object dtype so unmatched probes stay None →
                    # Arrow null, matching the batch twin's left-join
                    # null (a float column would smuggle NaN instead)
                    value_col: pd.Series([e[3] for e in emit], dtype=object),
                }
            )
            out[ts_col] = (
                pd.to_datetime(out.pop("ts_us"), unit="us", utc=True)
                .dt.tz_convert(sess_tz)
                .dt.tz_localize(None)
            )
            yield out[[by, probe_id_col, ts_col, value_col]]

    return unioned.groupBy("k").applyInPandasWithState(
        fold,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def streaming_funnel(
    events: DataFrame,
    stages: tuple[str, ...] = ("view", "click", "purchase"),
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming twin of the batch ``q77_funnel``: per user, emit a
    row the first time the ordered funnel reaches stage k — stage 1
    at the user's first ``stages[0]`` event, stage k at the first
    ``stages[k-1]`` event STRICTLY AFTER the stage-(k-1) timestamp.
    Output: (user, stage, ts) transitions in append mode; counting
    rows per stage reproduces q77's per-stage user counts.

    Stage decisions depend on event ORDER, and a late earlier-ts
    stage-1 event can legitimize a previously-ignored stage-2 event
    — so in-horizon events are BUFFERED per user and folded into the
    finalized state machine in timestamp order only once the
    watermark passes them (same finality argument as
    ``streaming_asof_join``). State per key: the k-1 reached-stage
    timestamps plus the events still inside the watermark horizon —
    O(horizon), never history.

    Requires batch ``events``? Use ``q77_funnel`` — this operator is
    streaming-only by design (the batch twin IS the oracle)."""
    from typing import Iterator, Tuple

    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    sess_tz = events.sparkSession.conf.get("spark.sql.session.timeZone") or "UTC"
    stage_of = {s: i + 1 for i, s in enumerate(stages)}
    n_stages = len(stages)

    src = (
        events.filter(F.col(type_col).isin(*stages))
        .select(
            F.col(user_col).alias("k"),
            F.col(ts_col).alias("ts"),
            F.col(type_col).alias("etype"),
        )
        .withWatermark("ts", watermark)
    )

    out_schema = T.StructType(
        [
            T.StructField(user_col, events.schema[user_col].dataType),
            T.StructField("stage", T.IntegerType()),
            T.StructField(ts_col, T.TimestampType()),
        ]
    )
    # reached[i] = epoch-us when stage i+1 was reached (-1 = not yet);
    # buf_ts/buf_stage = in-horizon events not yet final
    state_schema = T.StructType(
        [
            T.StructField("reached", T.ArrayType(T.LongType())),
            T.StructField("buf_ts", T.ArrayType(T.LongType())),
            T.StructField("buf_stage", T.ArrayType(T.IntegerType())),
        ]
    )

    def fold(
        key: Tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (k,) = key
        if state.exists:
            reached, buf_ts, buf_stage = (list(x) for x in state.get)
        else:
            reached, buf_ts, buf_stage = [-1] * n_stages, [], []
        for pdf in pdfs:
            ts = pd.to_datetime(pdf["ts"])
            if ts.dt.tz is None:
                ts = ts.dt.tz_localize(sess_tz)
            ts_us = (ts.dt.tz_convert("UTC").astype("int64") // 1000).tolist()
            for t_us, et in zip(ts_us, pdf["etype"]):
                buf_ts.append(t_us)
                buf_stage.append(stage_of[et])

        wm_ms = state.getCurrentWatermarkMs()
        wm_us = wm_ms * 1000
        final = sorted(
            (t, s) for t, s in zip(buf_ts, buf_stage) if t < wm_us
        )
        pend_ts = [t for t in buf_ts if t >= wm_us]
        pend_stage = [s for t, s in zip(buf_ts, buf_stage) if t >= wm_us]

        emit = []
        for t_us, s in final:
            if reached[s - 1] != -1:
                continue  # stage already reached earlier
            if s == 1 or (reached[s - 2] != -1 and t_us > reached[s - 2]):
                reached[s - 1] = t_us
                emit.append((k, s, t_us))

        if all(r != -1 for r in reached):
            # funnel complete: no future or buffered event matters
            state.remove()
        elif pend_ts:
            state.update((reached, pend_ts, pend_stage))
            # fire again once the watermark passes the earliest
            # buffered event (timeouts must exceed the watermark)
            state.setTimeoutTimestamp(max(min(pend_ts) // 1000, wm_ms + 1))
        elif any(r != -1 for r in reached):
            state.update((reached, [], []))
        else:
            state.remove()

        if emit:
            out = pd.DataFrame(
                {
                    user_col: [e[0] for e in emit],
                    "stage": pd.Series([e[1] for e in emit], dtype="int32"),
                    "ts_us": [e[2] for e in emit],
                }
            )
            out[ts_col] = (
                pd.to_datetime(out.pop("ts_us"), unit="us", utc=True)
                .dt.tz_convert(sess_tz)
                .dt.tz_localize(None)
            )
            yield out[[user_col, "stage", ts_col]]

    return src.groupBy("k").applyInPandasWithState(
        fold,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def stream_upsert_to_parquet(
    stream: DataFrame,
    dest: str,
    checkpoint: str,
    key_cols: list[str],
    trigger_once: bool = True,
):
    """CDC-style streaming sink: each micro-batch UPSERTs into the
    target on ``key_cols`` (latest batch wins per key) via
    foreachBatch — the idempotent-merge pattern for change streams,
    vs. the blind-append of ``stream_to_parquet``. foreachBatch runs
    the batch upsert transactionally per micro-batch; replays after
    failure re-apply the same keys, so the sink is effectively
    idempotent."""
    import os as _os

    from parquet_pipeline_spark.sources.writers import upsert_parquet, write_parquet

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        # dedup within the batch first: one row per key (latest ts)
        if "ts" in batch_df.columns:
            from pyspark.sql import Window as W

            w = W.partitionBy(*key_cols).orderBy(F.col("ts").desc())
            batch_df = (
                batch_df.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
            )
        else:
            batch_df = batch_df.dropDuplicates(key_cols)
        if _os.path.exists(dest):
            upsert_parquet(batch_df.sparkSession, dest, batch_df, key_cols)
        else:
            write_parquet(batch_df, dest)

    writer = stream.writeStream.foreachBatch(apply_batch).option(
        "checkpointLocation", checkpoint
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_incremental_dedup(
    doc_stream: DataFrame,
    index_path: str,
    dest: str,
    checkpoint: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    ngram: int = 3,
    hash_fn: str = "xxhash64",
    update_index: bool = True,
    index_partitioned: bool = True,
    trigger_once: bool = True,
):
    """Continuous cross-snapshot dedup: each micro-batch of NEW
    documents is flagged against the PERSISTED corpus fingerprint
    index (``banded_minhash`` parquet — d10's batch operator applied
    per micro-batch via foreachBatch), then (``update_index``) the
    batch's own fingerprints are APPENDED to the index so later
    batches dedup against earlier ones — the index stays current
    with zero corpus rescans, which is the whole point at 100 TB.

    foreachBatch is the right construct here: the flag is a
    per-batch groupBy against a static side, not cross-batch
    operator state — the durable state IS the index parquet, shared
    with the batch pipeline. Within one micro-batch, documents are
    not checked against each other (fingerprints append after the
    check); in-batch self-dedup remains ``lsh_candidate_pairs``'s
    job.

    Writes (id, dup_of, is_dup) rows to ``dest``, partitioned by
    ``_batch_id`` with DYNAMIC partition overwrite — the standard
    foreachBatch idempotency pattern: a replayed batch rewrites its
    own partition instead of double-appending, so the flags sink is
    effectively exactly-once. The index append stays at-least-once
    (duplicate (id, band_id, band_hash) fingerprint rows cannot
    change any min-id hit, so replays are harmless there).

    Replay determinism: before the flag join, the index is
    anti-joined against the batch's own ids. A crash between the
    index append and the checkpoint commit would otherwise leave the
    replayed batch's fingerprints visible to its own re-run, letting
    doc Y match same-batch doc X and produce different flags than
    the first attempt — violating the no-in-batch-matching contract
    above. The anti-join makes the replayed run see exactly the
    index the first run saw. (Corner: a batch that re-ingests an id
    already in the corpus excludes that id's OLD fingerprints for
    the whole batch too — deterministic replay is worth that edge.)
    """
    from parquet_pipeline_spark.operators.dedup import (
        banded_minhash,
        incremental_near_dups,
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.head(1):
            return
        batch_df = batch_df.localCheckpoint()  # read source bytes once
        spark = batch_df.sparkSession
        kw = dict(
            id_col=id_col,
            text_col=text_col,
            num_hashes=num_hashes,
            bands=bands,
            ngram=ngram,
            hash_fn=hash_fn,
        )
        try:
            index = spark.read.parquet(index_path)
        except Exception as e:
            if "UNABLE_TO_INFER_SCHEMA" not in str(e):
                raise
            # DAY-ZERO index: built from an empty corpus, the dir has
            # no parquet files to infer from — semantically an index
            # of zero fingerprints (the first batch's appends make it
            # readable for every later batch)
            index = banded_minhash(batch_df.limit(0), **kw)
        # replay safety: drop any fingerprints the index already holds
        # for THIS batch's ids (a crashed attempt may have appended
        # them before the checkpoint committed)
        batch_ids = batch_df.select(id_col).distinct()
        index = index.join(F.broadcast(batch_ids), id_col, "left_anti")
        # one fingerprint computation per trigger (r17): the flag join
        # and the index append consume the SAME banded_minhash
        # projection — persisted (bands×20 B/doc, batch-bounded) so
        # the second action reuses instead of re-deriving it
        fp = banded_minhash(batch_df, **kw)
        if update_index:
            fp = fp.persist()
        flags = incremental_near_dups(batch_df, index, new_banded=fp, **kw)
        (
            flags.withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(dest)
        )
        if update_index:
            # the append must MATCH the index's on-disk layout: mixing
            # root files into a band_id-partitioned tree makes parquet
            # partition discovery drop one side silently
            w = fp.write.mode("append")
            if index_partitioned:
                w = w.partitionBy("band_id")
            w.parquet(index_path)
            fp.unpersist()

    writer = doc_stream.writeStream.foreachBatch(apply_batch).option(
        "checkpointLocation", checkpoint
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_vector_index_append(
    emb_stream: DataFrame,
    centroids: list,
    index_path: str,
    checkpoint: str,
    trigger_once: bool = True,
):
    """Continuous ANN-index maintenance: each micro-batch of new
    embedding rows is assigned to its (frozen) IVF centroid cell and
    appended to the partitioned on-disk index
    (``vectors.write_ivf_index`` layout) — the vector twin of
    ``streaming_incremental_dedup``'s fingerprint appends. Queries
    via ``ivf_knn_join`` see new vectors as soon as their batch
    commits; centroids stay fixed until an offline rebuild, so the
    per-batch cost is batch-sized (one broadcast argmax, no corpus
    rescan). Compact with ``compact_partitioned(..., ['cell'])``
    after many small batches."""
    from parquet_pipeline_spark.operators.vectors import write_ivf_index

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.head(1):
            return
        write_ivf_index(batch_df, centroids, index_path, mode="append")

    writer = emb_stream.writeStream.foreachBatch(apply_batch).option(
        "checkpointLocation", checkpoint
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_ivf_pq_append(
    emb_stream: DataFrame,
    index_path: str,
    centroids,
    codebooks,
    checkpoint: str,
    trigger_once: bool = True,
    compact_every: int | None = None,
    compact_on_files_per_cell: int | None = None,
):
    """Continuous IVF-ADC index maintenance: each micro-batch of new
    embeddings is PQ-encoded and appended into its cell partitions
    via ``ivf_pq_append`` — which means every trigger inherits the
    append's staleness contract for free: if the centroids/codebooks
    this stream was started with stop matching the index metadata
    (an offline retrain replaced the model), the NEXT trigger
    REFUSES and fails the stream loudly instead of mixing codes from
    incompatible codebooks. That is the behavior you want at 100 TB:
    a retrain is a deliberate rebuild + stream restart, never a
    silent drift.

    Replay caveat (same as the batch operator): the code append is
    at-least-once — a trigger replayed after a crash between the
    append and the checkpoint commit duplicates its batch's code
    rows. Duplicate ids waste index bytes and shortlist depth but
    cannot corrupt probe results: ``ivf_pq_knn_join`` collapses
    duplicate (q_id, id) pairs (groupBy-max) before its shortlist
    window, pinned
    by the crash-replay tests in tests/test_vectors.py. The next
    ``ivf_pq_compact`` rewrite reclaims the bytes — it drops exact
    duplicate rows during its shuffle. Compact when
    ``read_ivfpq_meta(path)['appends']`` crosses a threshold,
    exactly as in the batch lifecycle — or let the STREAM do it:
    ``compact_every=N`` runs ``ivf_pq_compact`` inside the trigger
    whenever the sidecar's append counter reaches N, so the index's
    small-file litter is bounded at N batches' worth without an
    external maintenance scheduler. The compaction rides the same
    foreachBatch transaction boundary as the append (its own
    tmp+rename swap crash story applies, vectors.ivf_pq_compact);
    because the counter is read from the sidecar — not trigger
    arithmetic — a restart from a checkpoint neither skips nor
    double-runs maintenance.

    ``compact_on_files_per_cell=K`` (r15, VERDICT r14 item 5) is the
    OBSERVED-fragmentation policy: after each append it reads the
    per-cell file counts (the ``ivf_pq_stats`` scan — column-pruned,
    no code bytes touched) and compacts when the p95 files-per-cell
    exceeds K. The blind counter charges every append the same,
    but fragmentation is what a probe actually pays (task count
    schedules against FILES in the probed cells): a stream of
    narrow batches that each touch one cell litters that cell K×
    faster than `compact_every=K` would notice, while wide batches
    that spread one file across every cell would trigger counter
    compactions that rewrite an index that isn't fragmented. p95,
    not max: one straggler cell shouldn't force a full rewrite the
    other 95% don't need (the same skew reasoning as
    compact_partitioned's split controls). Both policies compose
    (either may fire); both read durable state (sidecar / the index
    directory itself), so checkpoint restarts neither skip nor
    double-run maintenance."""
    from parquet_pipeline_spark.operators.vectors import (
        ivf_pq_append,
        ivf_pq_compact,
        ivf_pq_stats,
        read_ivfpq_meta,
    )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.head(1):
            return
        spark = batch_df.sparkSession
        ivf_pq_append(spark, index_path, batch_df, centroids, codebooks)
        need = bool(
            compact_every
            and int(read_ivfpq_meta(index_path).get("appends", 0))
            >= compact_every
        )
        if not need and compact_on_files_per_cell:
            # bounded collect: one row per cell (n_cells is model-sized)
            counts = sorted(
                r["n_files"]
                for r in ivf_pq_stats(spark, index_path)
                .select("n_files")
                .collect()
            )
            if counts:
                # index int(0.95·(n−1)): the LOWER 95th-rank position,
                # so for any n ≥ 2 at least the single largest count is
                # excluded — nearest-rank p95 degenerates to the MAX
                # for n ≤ 20 cells (int(ceil(.95n))−1 = n−1), which
                # would let one straggler cell force the full rewrite
                # this policy exists to avoid (code review r15)
                p95 = counts[int(0.95 * (len(counts) - 1))]
                need = p95 > compact_on_files_per_cell
        if need:
            ivf_pq_compact(spark, index_path)

    writer = emb_stream.writeStream.foreachBatch(apply_batch).option(
        "checkpointLocation", checkpoint
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_knn_probe(
    query_stream: DataFrame,
    index_path: str,
    centroids,
    codebooks,
    emb: DataFrame,
    dest: str,
    checkpoint: str,
    k: int = 10,
    nprobe: int = 8,
    shortlist: int = 200,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    trigger_once: bool = True,
    max_queries_per_trigger: int = 1024,
    max_trigger_backlog: int = 100_000,
    eligible: DataFrame | None = None,
    extra_cells: list | None = None,
    tier: str = "ivf_pq",
    sq8_bounds: list | None = None,
):
    """Continuous retrieval — the QUERY-side twin of
    ``streaming_vector_index_append``: each micro-batch of query
    vectors runs as ONE ``ivf_pq_knn_join`` plan (a17's batched
    probe) against the persisted IVF-ADC index, so a query stream
    pays one pruned-scan job chain per TRIGGER instead of per query
    (measured 38–43× at 20 queries/batch, BENCH_NOTES §Batched
    IVF-ADC probe).

    Results (q_id, id, score) land in ``dest`` partitioned by
    ``_batch_id`` with dynamic partition overwrite — the same
    exactly-once replay contract as streaming_incremental_dedup: a
    replayed trigger rewrites its own partition. Because the batched
    probe is per-query masked (a query's answer never depends on its
    co-batch), the UNION of all triggers' outputs is identical to
    one big batch probe of every query — micro-batch boundaries
    cannot change any result, which is what makes the streaming form
    safe to roll out over an existing batch consumer (pinned by
    s03's equivalence row).

    The micro-batch is collected to the driver: the probe builds its
    (nq, m, k_codes) LUT table driver-side. Source trigger options
    (maxFilesPerTrigger / maxOffsetsPerTrigger) bound steady state,
    but nothing in the SOURCE guards the FIRST trigger draining an
    unbounded backlog (VERDICT r12 item 7) — so the sink bounds
    itself: a micro-batch above ``max_trigger_backlog`` queries
    REFUSES loudly (fail the stream, fix the source options — a
    silent 10M-row collect would OOM the driver mid-trigger instead),
    and anything under it is SPLIT into ``max_queries_per_trigger``
    chunks, each its own probe plan. Splitting cannot change any
    result: the probe is per-query masked (a query's answer never
    depends on its co-batch — the s03 equivalence row pins exactly
    this), so the union of chunk outputs equals the one-batch probe,
    while the driver-side LUT stays ≤ chunk × m × k_codes doubles.

    Quantization tiers (VERDICT r15 item 2): ``tier='ivf_pq'``
    (default) probes the persisted IVF-ADC index exactly as above.
    ``tier='sq8'`` serves the 4× int8 tier instead: ``index_path``
    is the persisted SQ8 codes parquet (sq8_encode), ``sq8_bounds``
    is its (lo, span) model, and
    each trigger chunk runs as ONE ``sq8_knn_join`` plan (Arrow
    matmul scoring + exact refine). sq8_knn_join is per-query masked
    the same way — scores are matmul ROWS, the shortlist window is
    per-q_id — so micro-batch boundaries still cannot change any
    result (pinned stream≡batch by the s05 gate row). The SQ8 tier
    has no cells, so ``nprobe`` is ignored and the IVF-only
    ``eligible``/``extra_cells`` knobs refuse loudly rather than
    silently serving unfiltered results."""
    from parquet_pipeline_spark.operators.vectors import (
        ivf_pq_knn_join,
        sq8_knn_join,
    )

    if tier not in ("ivf_pq", "sq8"):
        raise ValueError(f"streaming_knn_probe: unknown tier {tier!r}")
    if tier == "sq8":
        if sq8_bounds is None:
            raise ValueError(
                "streaming_knn_probe: tier='sq8' needs sq8_bounds "
                "(the (lo, span) model from sq8_train)"
            )
        if eligible is not None or extra_cells is not None:
            raise ValueError(
                "streaming_knn_probe: eligible/extra_cells are IVF-cell "
                "knobs — the SQ8 tier has no cells; filter upstream or "
                "use tier='ivf_pq'"
            )

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        # persist the projected batch: micro-batch sources re-evaluate
        # per action, so an unpersisted count-then-collect pays the
        # source scan twice every trigger (ADVICE r13). The count still
        # runs BEFORE collect — the refusal must fire without ever
        # materializing the oversized backlog on the driver (the cache
        # holds the 2-column projection executor-side, not driver-side).
        picked = batch_df.select(id_col, vec_col).persist()
        try:
            nq = picked.count()
            if nq == 0:
                return
            if nq > max_trigger_backlog:
                raise ValueError(
                    f"streaming_knn_probe: trigger {batch_id} carries {nq} "
                    f"queries (> max_trigger_backlog={max_trigger_backlog}) "
                    "— an unbounded backlog drain. Bound the source "
                    "(maxFilesPerTrigger / maxOffsetsPerTrigger) or raise "
                    "max_trigger_backlog explicitly; refusing to collect "
                    "it driver-side."
                )
            rows = picked.collect()
        finally:
            picked.unpersist()
        qrows = [(r[id_col], r[vec_col]) for r in rows]
        res = None
        for i in range(0, len(qrows), max_queries_per_trigger):
            chunk = qrows[i : i + max_queries_per_trigger]
            if tier == "sq8":
                part = sq8_knn_join(
                    batch_df.sparkSession.read.parquet(index_path),
                    sq8_bounds,
                    emb,
                    chunk,
                    k=k,
                    shortlist=shortlist,
                    id_col=id_col,
                    vec_col=vec_col,
                )
            else:
                part = ivf_pq_knn_join(
                    batch_df.sparkSession,
                    index_path,
                    centroids,
                    codebooks,
                    emb,
                    chunk,
                    k=k,
                    nprobe=nprobe,
                    shortlist=shortlist,
                    id_col=id_col,
                    vec_col=vec_col,
                    # filtered ANN passes straight through (r14): the
                    # eligibility semi-join rides each trigger's probe
                    # plan; per-query masking is untouched, so the
                    # stream≡batch equivalence (s03) holds filtered too.
                    # nprobe steering (r15) passes through the same way —
                    # the extra cells are constant across queries AND
                    # triggers, so boundaries still cannot change results
                    eligible=eligible,
                    extra_cells=extra_cells,
                )
            res = part if res is None else res.unionByName(part)
        (
            res.withColumn("_batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("_batch_id")
            .parquet(dest)
        )

    writer = query_stream.writeStream.foreachBatch(apply_batch).option(
        "checkpointLocation", checkpoint
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def streaming_span_filter(
    doc_stream: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span_words: int = 15,
) -> DataFrame:
    """Streaming twin of corpus.span_dedup's DECISION step: explode
    incoming documents into word spans (stateless expressions) and
    keep the first arrival of each distinct span corpus-wide via
    dropDuplicates on the span's md5.

    Contract vs the batch operator: the KEPT-SPAN SET is identical
    (each distinct span survives exactly once); which occurrence
    carries it follows arrival order, where batch span_dedup uses
    the deterministic (doc_id, span_idx) order — re-assembly
    therefore stays a batch concern. State = one md5 per distinct
    span ever seen (no event-time column on documents, so no
    watermark eviction — the documented cost of EXACT streaming
    dedup over an unbounded corpus; at 100 TB you shard this state
    by running per-partition/daily compactions with the batch op).
    """
    from parquet_pipeline_spark.operators.corpus import explode_spans

    spans = explode_spans(doc_stream, text_col, id_col, span_words)
    return spans.withColumn("span_key", F.md5("span")).dropDuplicates(["span_key"])
