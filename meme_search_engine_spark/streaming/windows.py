"""Structured Streaming index ingest.

The reference is batch + incremental refresh with streaming *shapes*
(SURVEY.md §2.9): a resumable offset-tracking source
(/root/reference/src/reddit_dump.rs:269-301), a count-bounded dedup
window (src/dump_processor.rs:332-391), and an online reindex loop with
atomic swap (src/main.rs:1005-1035).  The Spark-first equivalent is
``streaming_index_pipeline``: a ``foreachBatch`` micro-batch version of
the reference's ingest→rebuild→swap loop, with an exact-dedup
fingerprint table in place of the dedup ring and the
checkpointLocation playing the role of the seqnum/timestamp readback.

Streaming/batch equivalence is pytest-verified: the streamed index
serves the same answers as a batch-built one on the same input.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


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
