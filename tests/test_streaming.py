"""Structured Streaming: streamed results must equal batch semantics on
the same input (SURVEY.md §2.9)."""

import os
import shutil

import pytest

import pyspark.sql.functions as F

from meme_search_engine_spark.streaming import (
    dedup_within_watermark_stream,
    incremental_tf_update,
    tumbling_counts_batch,
    tumbling_counts_stream,
)


@pytest.fixture()
def events_dir(spark, sf001_dir, tmp_path):
    # re-materialize events as a directory source for readStream
    out = str(tmp_path / "events")
    spark.read.parquet(f"{sf001_dir}/events.parquet").repartition(4).write.parquet(out)
    return out


def _read_stream(spark, path):
    schema = spark.read.parquet(path).schema
    df = spark.readStream.schema(schema).parquet(path)
    # watermarks need TIMESTAMP (ltz); parquet testdata stores NTZ
    if "ts" in df.columns:
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def test_windowed_agg_stream_equals_batch(spark, events_dir, tmp_path):
    stream = tumbling_counts_stream(_read_stream(spark, events_dir))
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("win_out")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(
        map(tuple, spark.sql("SELECT * FROM win_out").collect())
    )
    expected = sorted(
        map(tuple, tumbling_counts_batch(spark.read.parquet(events_dir)).collect())
    )
    # append mode emits only watermark-closed windows; with availableNow
    # the final watermark closes all but the latest window(s)
    assert len(got) > 0 and set(got) <= set(expected)
    # ... and a second pass with the stream fully drained must match the
    # closed-window subset deterministically
    missing = set(expected) - set(got)
    max_closed = max(t[0] for t in got)
    assert all(t[0] >= max_closed for t in missing)


def test_dedup_within_watermark(spark, tmp_path):
    import pandas as pd
    from datetime import datetime

    rows = [
        (1, datetime(2024, 1, 1, 10, 0, 0), "a"),
        (1, datetime(2024, 1, 1, 10, 5, 0), "a-dup"),
        (2, datetime(2024, 1, 1, 10, 10, 0), "b"),
        (1, datetime(2024, 1, 1, 11, 0, 0), "a-dup2"),
    ]
    src = str(tmp_path / "dups")
    spark.createDataFrame(rows, "key int, ts timestamp, tag string").write.parquet(src)
    stream = dedup_within_watermark_stream(
        _read_stream(spark, src), ["key"], watermark="2 hours"
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_out")
        .option("checkpointLocation", str(tmp_path / "ckpt2"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("SELECT key FROM dedup_out").collect()
    assert sorted(r["key"] for r in got) == [1, 2]


def test_stateful_sessionization_stream_vs_batch(spark, events_dir, tmp_path):
    """applyInPandasWithState sessionizer: every emitted session is a
    true batch session, and every definitely-closed session (all but
    each user's final one) is emitted."""
    from meme_search_engine_spark.streaming import (
        sessionize_batch,
        sessionize_stateful_stream,
    )

    stream = sessionize_stateful_stream(
        _read_stream(spark, events_dir), gap_sec=1800, watermark="1 hour"
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName("sess_out")
        .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in spark.sql("SELECT * FROM sess_out").collect()
    }
    batch = sessionize_batch(
        spark.read.parquet(events_dir).withColumn(
            "ts", F.col("ts").cast("timestamp")
        ).withColumn("event_id", F.col("event_id")),
        gap_sec=1800,
    )
    all_sessions = {
        (r["user_id"], r["session_start"], r["session_end"], r["n_events"])
        for r in batch.collect()
    }
    # each user's final session may legitimately still be open in state
    finals = {}
    for s in all_sessions:
        if s[0] not in finals or s[2] > finals[s[0]][2]:
            finals[s[0]] = s
    definitely_closed = all_sessions - set(finals.values())
    assert got <= all_sessions, (got - all_sessions)
    assert definitely_closed <= got, (definitely_closed - got)
    assert len(got) > 0


def test_incremental_tf_update_equals_batch(spark, tmp_path):
    """foreachBatch incremental tf maintenance: streamed state equals
    the batch tf of the same pages."""
    from meme_search_engine_spark.datagen import ensure_corpus
    from meme_search_engine_spark.index.build import docs_from_pages, term_doc_tf

    pages_dir, _ = ensure_corpus(str(tmp_path), 100)
    state = str(tmp_path / "tf_state")
    q = incremental_tf_update(
        spark,
        _read_stream(spark, pages_dir),
        state,
        str(tmp_path / "ckpt3"),
    )
    q.awaitTermination(180)
    got = sorted(
        map(
            tuple,
            spark.read.parquet(state)
            .select("term_hash", "doc_id", "doc_len", "tf")
            .collect(),
        )
    )
    expected = sorted(
        map(
            tuple,
            term_doc_tf(docs_from_pages(spark.read.parquet(pages_dir)))
            .select("term_hash", "doc_id", "doc_len", "tf")
            .collect(),
        )
    )
    assert got == expected
