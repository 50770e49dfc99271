"""Structured Streaming operators.

The reference is batch + incremental refresh with streaming *shapes*
(SURVEY.md §2.9): a resumable offset-tracking source
(/root/reference/src/reddit_dump.rs:269-301), a count-bounded dedup
window (src/dump_processor.rs:332-391), and an online reindex loop with
atomic swap (src/main.rs:1005-1035).  Spark-first equivalents:

- event-time tumbling windows with watermarks (late data excluded, the
  high-water-mark pattern);
- ``dropDuplicatesWithinWatermark`` for the dedup ring buffer —
  time-bounded instead of count-bounded, and exact within the window;
- ``foreachBatch`` incremental tf/stats maintenance — the micro-batch
  version of the reference's ingest→rebuild→swap loop, with the
  checkpointLocation playing the role of the seqnum/timestamp readback.

Streaming/batch equivalence is pytest-verified: the streamed result of
each op equals the batch DataFrame result on the same input.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..index.build import term_doc_tf, docs_from_pages


def tumbling_counts_batch(events: DataFrame, width: str = "1 hour") -> DataFrame:
    """Batch semantics twin of the streaming window agg."""
    return (
        events.groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total")
    )


def tumbling_counts_stream(
    stream: DataFrame, width: str = "1 hour", watermark: str = "2 hours"
) -> DataFrame:
    """Watermarked tumbling-window counts over an event stream."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 4).alias("total"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "total")
    )


def dedup_within_watermark_stream(
    stream: DataFrame, key_cols: list[str], watermark: str = "2 hours"
) -> DataFrame:
    """The reference's 2^20-entry dedup ring (count-bounded sliding
    window) as a time-bounded exact streaming dedup."""
    return stream.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        key_cols
    )


SESSION_OUT_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, "
    "n_events int"
)
SESSION_STATE_SCHEMA = "start_us long, last_us long, n int"


def sessionize_stateful_stream(
    stream: DataFrame,
    gap_sec: int = 1800,
    watermark: str = "2 hours",
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: per-user
    sessionization that emits CLOSED sessions (gap > gap_sec) as they
    become known and keeps the open session in state until the event-
    time watermark times it out (the adaptive-poll-interval shape of
    /root/reference/crawler.py:23-57 as a streaming operator).

    State per user: (session_start_us, last_event_us, n_events).
    Semantics pytest-verified against the batch sessionizer: streamed
    closed sessions == batch sessions minus each user's final (still
    open or timeout-flushed) session when the input arrives in one
    micro-batch.  Cross-batch LATE events (ts <= last seen) never move
    last_us backwards: inside the open session's span they are counted
    into it; older than the session start they are dropped — the
    explicit reorder tolerance of this operator."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    gap_us = int(gap_sec) * 1_000_000

    def fn(key, pdfs, state: GroupState):
        user_id = int(key[0])
        if state.hasTimedOut:
            start_us, last_us, n = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "session_start": [pd.Timestamp(start_us, unit="us")],
                    "session_end": [pd.Timestamp(last_us, unit="us")],
                    "n_events": [n],
                }
            )
            return
        ts = pd.concat([p["ts"] for p in pdfs]).sort_values()
        us = (ts.astype("int64") // 1000).to_numpy()
        if state.exists:
            start_us, last_us, n = state.get
        else:
            start_us = last_us = int(us[0])
            n = 0  # events are counted in the loop below
        out = []
        for u in us:
            u = int(u)
            if n and u <= last_us:
                # cross-micro-batch late event (legal under the
                # watermark): never move last_us BACKWARDS — a negative
                # gap would silently merge sessions and diverge from
                # the batch sessionizer (ADVICE r02).  An event inside
                # the open session's span is counted into it; one older
                # than the session start belongs to an already-emitted
                # session and is dropped (the explicit reorder bound).
                if u >= start_us:
                    n += 1
                continue
            if n and u - last_us > gap_us:
                out.append((start_us, last_us, n))
                start_us, n = u, 0
            n += 1
            last_us = u
        state.update((start_us, last_us, n))
        # Spark requires the timeout to sit ABOVE the current watermark
        # (a user idle longer than the watermark delay flushes on the
        # very next batch)
        timeout_ms = max(
            last_us // 1000 + gap_us // 1000,
            state.getCurrentWatermarkMs() + 1,
        )
        state.setTimeoutTimestamp(timeout_ms)
        if out:
            yield pd.DataFrame(
                {
                    "user_id": [user_id] * len(out),
                    "session_start": [
                        pd.Timestamp(s, unit="us") for s, _, _ in out
                    ],
                    "session_end": [
                        pd.Timestamp(e, unit="us") for _, e, _ in out
                    ],
                    "n_events": [c for _, _, c in out],
                }
            )

    return (
        stream.withWatermark("ts", watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            SESSION_OUT_SCHEMA,
            SESSION_STATE_SCHEMA,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


def sessionize_batch(events: DataFrame, gap_sec: int = 1800) -> DataFrame:
    """Batch twin of sessionize_stateful_stream: every session
    (including each user's final one)."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev = events.withColumn("_prev", F.lag("ts").over(w))
    gap = F.expr("timestampdiff(MICROSECOND, _prev, ts)")
    sess = F.sum(
        F.when(gap.isNull() | (gap > gap_sec * 1_000_000), 1).otherwise(0)
    ).over(w.rowsBetween(Window.unboundedPreceding, 0))
    return (
        ev.withColumn("_sess", sess)
        .groupBy("user_id", "_sess")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").cast("int").alias("n_events"),
        )
        .drop("_sess")
    )


def incremental_tf_update(
    spark: SparkSession,
    pages_stream: DataFrame,
    state_dir: str,
    checkpoint_dir: str,
):
    """Micro-batch incremental index maintenance: each batch of new
    pages appends its (term_hash, doc_id, doc_len, tf) rows to the tf
    state table — the ingest half of the reference's online reindex
    loop (main.rs:1005-1035); a periodic finalize compacts tf deltas
    into posting segments (builder.build_index over the union).

    Returns the StreamingQuery (caller stops it / processAllAvailable).
    """

    def upsert(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        tf = term_doc_tf(docs_from_pages(batch_df))
        tf.write.mode("append").parquet(state_dir)

    return (
        pages_stream.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def streaming_index_pipeline(
    spark: SparkSession,
    pages_stream: DataFrame,
    workdir: str,
    checkpoint_dir: str,
    min_tokens: int = 0,
    lang: str | None = None,
    auto_compact_epochs: int | None = None,
):
    """Continuous-ingest version of jobs/pipeline_job: per micro-batch
    quality/language gates, exact dedup WITHIN the batch and against
    everything already indexed (a fingerprint state table — the
    streaming analogue of the reference's dedup ring,
    dump_processor.rs:332-391), then text-index build (first batch) or
    delta-cost epoch append (every later batch).  The streamed index
    equals a cold batch pipeline over the union (pytest).

    Contract inherited from append_to_index: doc_ids rise
    monotonically across batches (warc_ts-ordered crawls).
    auto_compact_epochs bounds the epoch count (and so the multi-epoch
    WAND df-fixup penalty) over an unbounded stream — every append
    passes the policy through, so the index never exceeds E epochs
    between batches.  Returns the StreamingQuery."""
    import os

    import pyspark.sql.functions as F

    from ..index.build import docs_from_pages
    from ..index.builder import append_to_index, build_index
    from ..ops import textstats
    from ..ops.dedup import drop_exact_duplicates

    if "doc_id" not in pages_stream.columns:
        # xxhash64(url)-derived ids are NOT monotonic, so a second
        # batch would violate append_to_index's rising-doc_id
        # contract; continuous ingest needs the source to carry its
        # own monotone ids (warc_ts-ordered crawls do)
        raise ValueError(
            "streaming_index_pipeline requires a doc_id column with "
            "monotonically increasing ids across batches"
        )
    idx_dir = os.path.join(workdir, "index")
    fp_dir = os.path.join(workdir, "fingerprints")

    def upsert(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        docs = docs_from_pages(batch_df)
        keep = docs
        if lang is not None:
            pred = textstats.lang_id(keep).filter(
                F.col("pred_lang") == lang
            ).select("doc_id")
            keep = keep.join(pred, "doc_id")
        if min_tokens > 0:
            q = textstats.quality_scores(keep).filter(
                F.col("n_tokens") >= min_tokens
            ).select("doc_id")
            keep = keep.join(q, "doc_id")
        keep = drop_exact_duplicates(keep)
        keep = keep.withColumn(
            "_fp", F.md5(F.col("text").cast("binary"))
        )
        if os.path.isdir(fp_dir) and any(
            f.endswith(".parquet") for f in os.listdir(fp_dir)
        ):
            seen = spark.read.parquet(fp_dir)
            keep = keep.join(
                seen, keep["_fp"] == seen["fingerprint"], "left_anti"
            )
        # the gates + dedup lineage (UDF extraction, window, anti-
        # join) is consumed three times below — materialize it once
        keep = keep.select("doc_id", "_fp").persist()
        try:
            if keep.isEmpty():
                return
            pages_kept = batch_df.join(
                keep.select("doc_id"), "doc_id", "semi"
            )
            if os.path.exists(os.path.join(idx_dir, "manifest.json")):
                append_to_index(
                    spark, pages_kept, idx_dir,
                    auto_compact_epochs=auto_compact_epochs,
                )
            else:
                build_index(spark, pages_kept, idx_dir)
            # commit fingerprints AFTER the index commit marker: a
            # crash in between re-ingests the batch (append epoch
            # reuse makes that idempotent) rather than silently
            # dropping it
            keep.select(F.col("_fp").alias("fingerprint")).write.mode(
                "append"
            ).parquet(fp_dir)
        finally:
            keep.unpersist()

    return (
        pages_stream.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
