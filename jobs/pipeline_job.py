"""spark-submit entry point: the end-to-end training-data pipeline —
filter -> dedup -> quality gate -> index build, chained as ONE
DataFrame lineage so Catalyst fuses the predicate stages into the
scan (the reference runs the same shape as a streaming ingest chain:
reddit_dump.rs fetch/filter -> dump_processor.rs dedup ring ->
shard/index build).

    spark-submit --py-files mse_spark.zip jobs/pipeline_job.py \
        --input s3://bucket/pages --workdir s3://bucket/out \
        --min-tokens 10 --lang en --min-distinct-ratio 0.2 \
        --dedup exact

Prints one JSON summary line with per-stage row counts and the built
index's doc count and directory.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def run_pipeline(
    spark,
    pages,
    workdir: str,
    min_tokens: int = 0,
    lang: str | None = None,
    min_distinct_ratio: float = 0.0,
    max_stopword_ratio: float = 1.0,
    dedup: str = "exact",
    index_cfg=None,
) -> dict:
    """The library form (jobs call this; tests call it directly).
    Returns the stage-count summary."""
    import pyspark.sql.functions as F

    from meme_search_engine_spark.index.build import docs_from_pages
    from meme_search_engine_spark.index.builder import build_index
    from meme_search_engine_spark.index.postings import IndexConfig
    from meme_search_engine_spark.ops import textstats
    from meme_search_engine_spark.ops.dedup import drop_exact_duplicates

    summary: dict = {"rows_in": pages.count()}

    docs = docs_from_pages(pages)

    # ---- quality + language gates (pure column predicates: Catalyst
    # pushes them into one pass over the extracted docs) -------------
    keep = docs
    if lang is not None:
        lang_pred = textstats.lang_id(keep).filter(
            F.col("pred_lang") == lang
        ).select("doc_id")
        keep = keep.join(lang_pred, "doc_id")
    if min_tokens > 0 or min_distinct_ratio > 0.0 or max_stopword_ratio < 1.0:
        q = textstats.quality_scores(keep).filter(
            (F.col("n_tokens") >= min_tokens)
            & (F.col("distinct_ratio") >= min_distinct_ratio)
            & (F.col("stopword_ratio") <= max_stopword_ratio)
        ).select("doc_id")
        keep = keep.join(q, "doc_id")
    summary["rows_after_quality"] = keep.count()

    # ---- dedup ------------------------------------------------------
    if dedup == "exact":
        keep = drop_exact_duplicates(keep)
    elif dedup != "none":
        raise ValueError(f"unknown dedup mode {dedup!r}")
    summary["rows_after_dedup"] = keep.count()

    # ---- text index over the surviving PAGES (build_index owns the
    # extraction; the survivor set is a doc_id semi-join that Catalyst
    # plans as one lineage over the source scan) ----------------------
    if "doc_id" in pages.columns:
        pages_kept = pages.join(keep.select("doc_id"), "doc_id", "semi")
    else:
        # doc_id is derived (xxhash64(url)) — url is the stable key
        pages_kept = pages.join(keep.select("url"), "url", "semi")
    idx_dir = os.path.join(workdir, "index")
    manifest = build_index(
        spark, pages_kept, idx_dir, index_cfg or IndexConfig()
    )
    summary["index_docs"] = manifest["stats"]["N"]
    summary["index_dir"] = idx_dir

    return summary


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--workdir", required=True)
    ap.add_argument("--min-tokens", type=int, default=0)
    ap.add_argument("--lang", default=None)
    ap.add_argument("--min-distinct-ratio", type=float, default=0.0)
    ap.add_argument("--max-stopword-ratio", type=float, default=1.0)
    ap.add_argument("--dedup", choices=("exact", "none"), default="exact")
    ap.add_argument("--cores", type=int, default=None)
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    active = SparkSession.getActiveSession()
    if active is not None:
        spark = active
        from meme_search_engine_spark.shipping import ensure_shipped

        ensure_shipped(spark)
    else:
        from meme_search_engine_spark.session import get_spark

        spark = get_spark(app_name="pipeline", cores=args.cores)

    from meme_search_engine_spark.lake import load_pages

    pages = load_pages(spark, args.input)
    summary = run_pipeline(
        spark,
        pages,
        args.workdir,
        min_tokens=args.min_tokens,
        lang=args.lang,
        min_distinct_ratio=args.min_distinct_ratio,
        max_stopword_ratio=args.max_stopword_ratio,
        dedup=args.dedup,
    )
    print(json.dumps(summary))


if __name__ == "__main__":
    main()
