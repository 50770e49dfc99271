"""Driver-local serving path: identical results to the oracle, at
interactive latency (SURVEY.md §3.2 analogue)."""

import time

import pytest

from meme_search_engine_spark.datagen import ensure_corpus, generate_queries
from meme_search_engine_spark.index.builder import build_index
from meme_search_engine_spark.index.postings import IndexConfig
from meme_search_engine_spark.oracle import OracleIndex
from meme_search_engine_spark.query.serve import LocalSearcher

N_DOCS = 500


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("serve")
    pages_dir, _ = ensure_corpus(str(base), N_DOCS)
    out = str(base / "idx")
    build_index(
        spark,
        spark.read.parquet(pages_dir),
        out,
        IndexConfig(salt_shift=7, n_buckets=8, n_parts=2, block_size=32),
    )
    import duckdb

    rows = duckdb.sql(
        f"SELECT doc_id, text FROM '{pages_dir}/*.parquet' ORDER BY doc_id"
    ).fetchall()
    return out, OracleIndex.build(rows)


def test_local_searcher_rank_identity(built):
    index_dir, oracle = built
    searcher = LocalSearcher(index_dir)
    for q in generate_queries(N_DOCS):
        got = [
            (r["rank"], r["doc_id"], r["score_fixed"])
            for r in searcher.search(q["text"], q["k"])
        ]
        expected = [
            (rank, doc_id, sf)
            for rank, doc_id, sf, _ in oracle.topk(q["text"], q["k"])
        ]
        assert got == expected, q["text"]


def test_local_searcher_urls(built, spark):
    index_dir, _ = built
    searcher = LocalSearcher(index_dir)
    results = searcher.search("term0001 term0100", 5, with_urls=True)
    assert results and all(
        r["url"] and r["url"].startswith("https://example") for r in results
    )
    # urls must belong to the right docs
    meta = {
        r["doc_id"]: r["url"]
        for r in spark.read.parquet(
            f"{index_dir}/docmeta"
        ).collect()
    }
    for r in results:
        assert r["url"] == meta[r["doc_id"]]


def test_local_searcher_quality_prior_matches_spark_engine(built, spark):
    """search_quality == bm25_topk_with_prior (same fixed-point prior
    from the same channels), rank- and score-identical."""
    import pyspark.sql.functions as F

    from meme_search_engine_spark.gate import quality_prior_fixed
    from meme_search_engine_spark.index.build import (
        corpus_stats,
        docs_from_pages,
        term_df,
        term_doc_tf,
    )
    from meme_search_engine_spark.query.dataframe_engine import (
        bm25_topk_with_prior,
    )

    import os

    index_dir, _ = built
    searcher = LocalSearcher(index_dir)
    pages_dir = os.path.join(os.path.dirname(index_dir), f"pages_{N_DOCS}")
    pages = spark.read.parquet(pages_dir)
    docs = docs_from_pages(pages)
    tf = term_doc_tf(docs)
    stats = corpus_stats(docs)
    priors = quality_prior_fixed(pages)
    for qid, text in enumerate(["term0001 term0100", "term0007", "the term0042"]):
        qdf = spark.createDataFrame(
            [(qid, text, 10)], "query_id int, text string, k int"
        )
        expected = [
            (r["rank"], r["doc_id"], r["score_fixed"])
            for r in bm25_topk_with_prior(
                tf, term_df(tf), stats, qdf, priors
            ).collect()
        ]
        got = [
            (r["rank"], r["doc_id"], r["score_fixed"])
            for r in searcher.search_quality(text, 10)
        ]
        assert got == sorted(expected), text


def test_over_cap_docmeta_fallback_matches_resident(built, monkeypatch):
    """Above the resident row cap, the per-query filtered docmeta read
    gives the same URLs, URL-carrying results and quality ranking as
    the resident arrays; a doc_id absent from docmeta maps to no URL
    on both paths."""
    index_dir, _ = built
    absent = N_DOCS + 3
    ids = list(range(0, N_DOCS, 7)) + [absent]
    texts = ["term0001 term0100", "term0007", "the term0042"]

    def answers(s):
        return (
            s.urls_for(ids),
            [s.search(t, 10, with_urls=True) for t in texts],
            [s.search_quality(t, 10, with_urls=True) for t in texts],
        )

    resident = LocalSearcher(index_dir)
    want = answers(resident)
    assert resident._docmeta_channels() is not None
    monkeypatch.setattr(LocalSearcher, "_DOCMETA_RESIDENT_MAX_ROWS", 0)
    fallback = LocalSearcher(index_dir)
    assert fallback._docmeta_channels() is None
    got = answers(fallback)
    assert got == want
    urls = got[0]
    assert absent not in urls and len(urls) == len(ids) - 1
    assert all(u.startswith("https://example") for u in urls.values())


def test_local_searcher_latency(built):
    index_dir, _ = built
    searcher = LocalSearcher(index_dir)
    searcher.search("term0001 term0100")  # warm
    lat = []
    for i in range(20):
        t0 = time.time()
        searcher.search(f"term{i:04d} term{(i * 37) % 3000:04d}", 10)
        lat.append(time.time() - t0)
    lat.sort()
    # interactive: p50 well under the Spark job-launch floor
    assert lat[10] < 0.5, lat


def test_serve_survives_compaction_swap(spark, tmp_path):
    """A searcher opened before a compact_index swap must serve
    THROUGH the swap from the serving images it mapped at open: the
    mappings stay readable after the swap unlinks their files, so
    there is no FileNotFoundError, results equal a fresh post-compact
    searcher's, and already-decoded terms stay correct."""
    import pyspark.sql.functions as F

    from meme_search_engine_spark.datagen import rare_term
    from meme_search_engine_spark.index.builder import (
        append_to_index,
        compact_index,
    )

    base = tmp_path
    pages_dir, _ = ensure_corpus(str(base), N_DOCS)
    pages = spark.read.parquet(pages_dir)
    out = str(base / "swap_idx")
    cfg = IndexConfig(salt_shift=7, n_buckets=8, n_parts=2, block_size=32)
    split = N_DOCS * 7 // 10
    build_index(spark, pages.filter(F.col("doc_id") < split), out, cfg)
    append_to_index(spark, pages.filter(F.col("doc_id") >= split), out)

    s = LocalSearcher(out)
    head_before = s.search("term0001", 10)  # warms + decodes this term
    compact_index(spark, out)  # old segment files are GONE now

    # uncached terms are read from the pre-compaction images
    fresh = LocalSearcher(out)
    for text in (rare_term(5), "term0002 term0150", "term0100"):
        assert s.search(text, 10) == fresh.search(text, 10), text
    # decoded-cache entries from before the swap stay correct
    # (compaction preserves logical content)
    assert s.search("term0001", 10) == head_before
    assert fresh.search("term0001", 10) == head_before

