"""Physical-plan audit: dump .explain("formatted") for the engine's
load-bearing plans and grep for the properties that matter at 100 TB:

- parquet scans carry PushedFilters / PartitionFilters (term pruning);
- the query-terms join is a BroadcastHashJoin (no tf-side shuffle);
- tf aggregation shows partial_count before the exchange (map-side
  combine);
- exactly the intended exchanges exist (one by (term_hash,salt) in the
  build, one by term_hash in the merge).

Writes PLANS.md.  Usage: python tools/explain_plans.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import sys
import tempfile
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def fmt(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    from meme_search_engine_spark.session import get_spark
    from meme_search_engine_spark.index.build import (
        corpus_stats, docs_from_pages, term_df, term_doc_tf,
    )
    from meme_search_engine_spark.index.builder import build_index, load_index
    from meme_search_engine_spark.index.postings import IndexConfig, build_partials
    from meme_search_engine_spark.query.dataframe_engine import bm25_topk, query_terms
    from meme_search_engine_spark import gate

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(app_name="explain", cores=8, shuffle_partitions=8)
    sections: list[tuple[str, str, str]] = []

    pages = spark.read.parquet(f"{sf_dir}/documents.parquet")
    docs = docs_from_pages(pages)
    tf = term_doc_tf(docs)

    sections.append((
        "tf build (tokenize -> doc-local HOF combine -> explode)",
        "want: NO exchange at all — tf is counted per doc inside the map "
        "stage (array_sort + run-length HOFs on the doc's own token "
        "array, r5), so the plan is scan -> project/generate only; the "
        "old explode+groupBy shape cost every tf consumer a full "
        "exchange; scan reads only doc_id+text (pruning)",
        fmt(tf),
    ))

    cfg = IndexConfig(salt_shift=10, n_buckets=16, n_parts=4)
    partials = build_partials(tf, 50.0, cfg)
    sections.append((
        "stage-1 salted partial posting build",
        "want: ONE exchange keyed (term_hash, salt) feeding FlatMapGroupsInPandas",
        fmt(partials),
    ))

    from meme_search_engine_spark.index.postings import finalize_segments
    fin = finalize_segments(partials, cfg)
    sections.append((
        "finalize segments (partial blocks -> bucketed final segments)",
        "want: ONE exchange total — the explicit repartition on bucket; the "
        "(bucket, term_hash) windows reuse it (HashPartitioning(bucket) "
        "satisfies ClusteredDistribution since bucket = pmod(term_hash)), so "
        "no second full-index shuffle and the window sort leaves rows "
        "term_hash-ordered for tight parquet row-group stats",
        fmt(fin),
    ))

    qdf = gate._gate_query_df(spark)
    out = bm25_topk(tf, term_df(tf), {"N": 500, "avgdl": 50.0}, qdf)
    sections.append((
        "exhaustive BM25 top-k",
        "want: BroadcastHashJoin on term_hash (tf side never shuffles for the "
        "join); partial_sum before the (query_id,doc_id) exchange; window top-k",
        fmt(out),
    ))

    # WAND path: pruned segment scan + distributed partial/merge shape
    idx_dir = tempfile.mkdtemp(prefix="plans_idx_")
    build_index(spark, pages, idx_dir, cfg)
    segments, term_stats, manifest = load_index(spark, idx_dir)
    from meme_search_engine_spark.query.wand import wand_topk
    wq = wand_topk(
        spark, segments, term_stats, manifest, qdf, n_ranges=8, pre_prune=True
    )
    sections.append((
        "WAND top-k over posting segments (distributed partial/merge)",
        "want: scan shows PartitionFilters on bucket (partition pruning) and "
        "PushedFilters on term_hash; broadcast of query terms, per-term "
        "max-ub bounds and θ seeds; range-id explode feeding a "
        "FlatMapGroupsInPandas keyed (query_id, range_id) — per-task input "
        "bounded by range width, NOT one task per query; then a tiny "
        "per-query window merge over ≤ k·n_ranges partial rows",
        fmt(wq),
    ))

    # quality-prior ranking: prior joins AFTER the candidate aggregate
    from meme_search_engine_spark.gate import quality_prior_fixed
    from meme_search_engine_spark.query.dataframe_engine import (
        bm25_topk_with_prior,
    )
    pq = bm25_topk_with_prior(
        tf, term_df(tf), {"N": 500, "avgdl": 50.0}, qdf,
        quality_prior_fixed(pages),
    )
    sections.append((
        "BM25 + quality-prior ranking",
        "want: the prior join sits ABOVE the (query_id,doc_id) aggregate — "
        "only the candidate set shuffles against the per-doc priors, the "
        "full postings never join the prior table",
        fmt(pq),
    ))

    with open("PLANS.md", "w") as fh:
        fh.write(
            "# PLANS — physical-plan audit (auto-generated by "
            "tools/explain_plans.py)\n\nRe-run after any plan-shaping "
            "change.  Each section lists the property the plan must "
            "exhibit at scale, then the formatted plan.\n"
        )
        for title, want, plan in sections:
            fh.write(f"\n## {title}\n\n_{want}_\n\n```\n{plan}\n```\n")
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
