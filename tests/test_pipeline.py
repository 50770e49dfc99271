"""End-to-end training-data pipeline (jobs/pipeline_job.run_pipeline):
filter -> dedup -> index build, stage counts monotone, the built index
queryable and duplicate-free."""

import os

import pandas as pd
import pytest


@pytest.fixture(scope="module")
def dirty_pages(spark, sf001_dir):
    """documents plus planted exact duplicates and junk rows."""
    base = spark.read.parquet(f"{sf001_dir}/documents.parquet").toPandas()
    dups = base.head(5).copy()
    dups["doc_id"] = [900001 + i for i in range(5)]  # same text, new ids
    junk = pd.DataFrame(
        {
            "doc_id": [910001, 910002],
            "text": ["zz", "yy qq"],
            "lang": ["en", "en"],
            "source": ["junk", "junk"],
            "n_chars": [2, 5],
        }
    )
    pdf = pd.concat(
        [base, dups[base.columns], junk[base.columns]], ignore_index=True
    )
    return spark.createDataFrame(pdf)


def test_pipeline_end_to_end(spark, dirty_pages, tmp_path):
    from jobs.pipeline_job import run_pipeline
    from meme_search_engine_spark.index.postings import IndexConfig
    from meme_search_engine_spark.query.serve import LocalSearcher

    n_in = dirty_pages.count()
    summary = run_pipeline(
        spark,
        dirty_pages,
        str(tmp_path / "work"),
        min_tokens=5,
        lang="en",
        dedup="exact",
        index_cfg=IndexConfig(salt_shift=10, n_buckets=8, n_parts=2),
    )
    assert summary["rows_in"] == n_in
    # junk filtered, duplicates removed, counts monotone
    assert summary["rows_after_quality"] <= n_in - 2
    assert summary["rows_after_dedup"] == summary["rows_after_quality"] - 5
    assert summary["index_docs"] == summary["rows_after_dedup"]

    s = LocalSearcher(summary["index_dir"])
    res = s.search("key value table", k=5)
    assert len(res) == 5
    # none of the planted duplicate doc_ids survived (min-doc_id wins)
    all_ids = {r["doc_id"] for r in res}
    assert not any(i >= 900001 for i in all_ids)


def test_streaming_pipeline_equals_batch(spark, sf001_dir, tmp_path):
    """Two ingest waves through streaming_index_pipeline (gates +
    cross-batch exact dedup + build-then-append) must serve queries
    rank-identically to the batch run_pipeline over the union."""
    import pyspark.sql.functions as F

    from jobs.pipeline_job import run_pipeline
    from meme_search_engine_spark.gate import GATE_QUERIES
    from meme_search_engine_spark.index.postings import IndexConfig
    from meme_search_engine_spark.query.serve import LocalSearcher
    from meme_search_engine_spark.streaming.windows import (
        streaming_index_pipeline,
    )

    base = spark.read.parquet(f"{sf001_dir}/documents.parquet")
    wave1 = base.filter(F.col("doc_id") < 300)
    # wave 2: new docs plus exact duplicates of wave-1 texts under
    # HIGHER doc_ids (cross-batch dedup must drop them)
    dups = (
        base.filter(F.col("doc_id") < 5)
        .withColumn("doc_id", F.col("doc_id") + F.lit(800000))
    )
    wave2 = base.filter(F.col("doc_id") >= 300).unionByName(dups)

    stream_src = str(tmp_path / "ingest")
    work = str(tmp_path / "stream_work")
    ckpt = str(tmp_path / "ckpt_pipe")

    wave1.write.mode("append").parquet(stream_src)
    schema = spark.read.parquet(stream_src).schema

    def run_wave():
        q = streaming_index_pipeline(
            spark,
            spark.readStream.schema(schema).parquet(stream_src),
            work,
            ckpt,
            min_tokens=5,
        )
        q.awaitTermination(300)

    run_wave()
    wave2.write.mode("append").parquet(stream_src)
    run_wave()

    batch_work = str(tmp_path / "batch_work")
    run_pipeline(
        spark,
        wave1.unionByName(wave2),
        batch_work,
        min_tokens=5,
        dedup="exact",
    )

    s_stream = LocalSearcher(os.path.join(work, "index"))
    s_batch = LocalSearcher(os.path.join(batch_work, "index"))
    assert s_stream.stats["N"] == s_batch.stats["N"]
    for qid, text, k in GATE_QUERIES:
        a = [
            (r["rank"], r["doc_id"], r["score_fixed"])
            for r in s_stream.search(text, k)
        ]
        b = [
            (r["rank"], r["doc_id"], r["score_fixed"])
            for r in s_batch.search(text, k)
        ]
        assert a == b, text


def test_streaming_pipeline_rejects_url_only_stream(spark, sf001_dir, tmp_path):
    """url-derived doc_ids are not monotonic, so the streaming pipeline
    must refuse streams without a doc_id column up front (batch 2 would
    otherwise die on the append contract)."""
    import pytest as _pytest

    from meme_search_engine_spark.streaming.windows import (
        streaming_index_pipeline,
    )

    src = str(tmp_path / "u_src")
    (
        spark.read.parquet(f"{sf001_dir}/documents.parquet")
        .selectExpr("cast(doc_id as string) as url", "text", "lang")
        .write.parquet(src)
    )
    schema = spark.read.parquet(src).schema
    with _pytest.raises(ValueError, match="doc_id"):
        streaming_index_pipeline(
            spark,
            spark.readStream.schema(schema).parquet(src),
            str(tmp_path / "u_work"),
            str(tmp_path / "u_ckpt"),
        )
