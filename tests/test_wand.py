"""WAND engine: rank-identity vs the oracle AND vs the exhaustive
DataFrame engine on the full reference query set; pruning must never
change results (SURVEY.md §5.3/5.4)."""

import warnings

import pytest

import pyspark.sql.functions as F

from meme_search_engine_spark.datagen import ensure_corpus, generate_queries
from meme_search_engine_spark.index.builder import build_index, load_index
from meme_search_engine_spark.index.postings import IndexConfig
from meme_search_engine_spark.oracle import OracleIndex
from meme_search_engine_spark.query.wand import wand_topk

N_DOCS = 500
# small blocks + small salt ranges so pruning paths actually exercise
CFG = IndexConfig(salt_shift=7, n_buckets=8, n_parts=2, block_size=32)


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("wand")
    pages_dir, _ = ensure_corpus(str(base), N_DOCS)
    out = str(base / "idx")
    pages = spark.read.parquet(pages_dir)
    build_index(spark, pages, out, CFG)
    import duckdb

    rows = duckdb.sql(
        f"SELECT doc_id, text FROM '{pages_dir}/*.parquet' ORDER BY doc_id"
    ).fetchall()
    return out, OracleIndex.build(rows)


def test_wand_rank_identity_vs_oracle(spark, built):
    index_dir, oracle = built
    segments, term_stats, manifest = load_index(spark, index_dir)
    queries = generate_queries(N_DOCS)
    qdf = spark.createDataFrame(
        [(q["query_id"], q["text"], q["k"]) for q in queries],
        "query_id int, text string, k int",
    )
    # the grouped-map kernel's eval type is fixed by applyInPandas; a
    # partial type hint on it makes PySpark warn on every call
    with warnings.catch_warnings():
        warnings.simplefilter("error", UserWarning)
        res = wand_topk(spark, segments, term_stats, manifest, qdf)
    got: dict[int, list] = {}
    for r in res.collect():
        got.setdefault(r["query_id"], []).append(
            (r["rank"], r["doc_id"], r["score_fixed"])
        )
    n_nonempty = 0
    for q in queries:
        expected = [
            (rank, doc_id, sf)
            for rank, doc_id, sf, _ in oracle.topk(q["text"], q["k"])
        ]
        actual = sorted(got.get(q["query_id"], []))
        assert actual == expected, f"query {q['query_id']}: {q['text']!r}"
        n_nonempty += bool(expected)
    assert n_nonempty > 80  # sanity: the set mostly has results


def test_wand_empty_query_and_absent_terms(spark, built):
    index_dir, _ = built
    segments, term_stats, manifest = load_index(spark, index_dir)
    qdf = spark.createDataFrame(
        [(0, "zzznope", 10), (1, "", 10), (2, "...", 5)],
        "query_id int, text string, k int",
    )
    assert wand_topk(spark, segments, term_stats, manifest, qdf).count() == 0


def test_wand_head_term_skew_bounded_groups(spark, tmp_path):
    """A 100%-df head term must NOT funnel into one scoring task: the
    (query, doc-range) grouping bounds per-task input by the range
    width regardless of term df (the r01 single-task-per-query fix),
    and results stay rank-identical to the brute-force oracle."""
    from meme_search_engine_spark.query.wand import plan_candidate_blocks

    n_docs = 2048
    rows = [
        (
            i,
            "headterm " * (1 + i % 3)
            + f"u{i} v{i % 17} w{i % 5} filler{i % 101} "
            + "pad " * (i % 7),
        )
        for i in range(n_docs)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string").withColumn(
        "url", F.concat(F.lit("doc://"), F.col("doc_id"))
    )
    out = str(tmp_path / "skew_idx")
    cfg = IndexConfig(salt_shift=7, n_buckets=8, n_parts=2, block_size=32)
    build_index(spark, docs, out, cfg)
    segments, term_stats, manifest = load_index(spark, out)
    qdf = spark.createDataFrame(
        [(0, "headterm filler3", 10)], "query_id int, text string, k int"
    )

    # pre_prune=True forces the θ-seed + DataFrame pre-prune path even
    # on this small corpus (the "auto" planner would skip it)
    exploded, doc_shift, _ = plan_candidate_blocks(
        spark, segments, manifest, qdf, n_ranges=16, pre_prune=True
    )
    sizes = [
        r["n"]
        for r in exploded.groupBy("query_id", "range_id")
        .agg(F.count("*").alias("n"))
        .collect()
    ]
    total = sum(sizes)
    # the head term alone has n_docs/block_size = 64 blocks; a single
    # task would take ALL of them — the range grouping must spread them
    assert len(sizes) >= 8, sizes
    assert max(sizes) <= max(4, total // 4), (max(sizes), total)

    # distribution must not change results: rank-identical to the oracle
    oracle = OracleIndex.build(rows)
    got = sorted(
        (r["rank"], r["doc_id"], r["score_fixed"])
        for r in wand_topk(
            spark, segments, term_stats, manifest, qdf, pre_prune=True
        ).collect()
    )
    expected = [
        (rank, doc_id, sf)
        for rank, doc_id, sf, _ in oracle.topk("headterm filler3", 10)
    ]
    assert got == expected


def test_wand_k_larger_than_matches(spark, built):
    index_dir, oracle = built
    segments, term_stats, manifest = load_index(spark, index_dir)
    from meme_search_engine_spark.datagen import rare_term

    qdf = spark.createDataFrame(
        [(0, rare_term(42), 50)], "query_id int, text string, k int"
    )
    rows = wand_topk(spark, segments, term_stats, manifest, qdf).collect()
    assert len(rows) == 1 and rows[0]["doc_id"] == 42


def test_seed_thetas_local_equals_per_query_seed(spark, tmp_path):
    """_seed_thetas_local (per-TERM cached decode, driver-side) must
    produce IDENTICAL thetas to the original per-(query, term)
    _seed_thetas over the same blocks — including shared terms across
    queries and duplicated (term set, k) queries (the hot-query /
    tiled-batch shapes the cache exists for)."""
    from meme_search_engine_spark.query.dataframe_engine import query_terms
    from meme_search_engine_spark.query.wand import (
        _block_ub_col,
        _seed_thetas,
        _seed_thetas_local,
    )

    rows = [
        (
            i,
            "headterm " * (1 + i % 3)
            + f"u{i} v{i % 17} w{i % 5} filler{i % 101} ",
        )
        for i in range(400)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string"
    ).withColumn("url", F.concat(F.lit("doc://"), F.col("doc_id")))
    out = str(tmp_path / "seed_idx")
    cfg = IndexConfig(salt_shift=7, n_buckets=8, n_parts=2, block_size=32)
    build_index(spark, docs, out, cfg)
    segments, _ts, manifest = load_index(spark, out)
    st = manifest["stats"]
    k1, b = manifest["config"]["k1"], manifest["config"]["b"]

    qrows = [
        (0, "headterm filler3", 10),
        (1, "headterm v3 w2", 5),
        (2, "headterm filler3", 10),  # duplicate (terms, k) of q0
        (3, "v3", 3),
        (4, "zzzabsent", 10),  # no postings at all
    ]
    qdf = spark.createDataFrame(qrows, "query_id int, text string, k int")
    qt = query_terms(qdf, 10)
    qt_pd = qt.toPandas()
    q_hashes = [int(h) for h in qt_pd["term_hash"].unique()]
    pruned = segments.filter(F.col("term_hash").isin(q_hashes))
    blocks = pruned.join(
        F.broadcast(spark.createDataFrame(qt_pd, schema=qt.schema)),
        "term_hash",
    ).select(
        "query_id", "k", "term_hash", "df", "block_id", "n_docs",
        "min_doc_id", "max_doc_id", "doc_ids", "tfs", "dls",
        "block_max_tfnorm", "max_tf", "min_dl",
    ).withColumn("ub", _block_ub_col(st["N"], st["avgdl"], k1, b))

    old = _seed_thetas(spark, blocks, st["N"], st["avgdl"], k1, b)
    seed_rows = (
        pruned.filter(F.col("block_id") == 0)
        .select("term_hash", "df", "doc_ids", "tfs", "dls")
        .collect()
    )
    new = _seed_thetas_local(
        seed_rows, qt_pd, st["N"], st["avgdl"], k1, b
    )
    assert new == old
    assert new[0] == new[2]  # shared (terms, k) -> shared theta
    assert 4 not in new  # absent-terms query stays unseeded (-> 0)


def test_query_terms_local_skips_null_text(spark, monkeypatch):
    """A null `text` row yields no terms on the driver-local path, the
    same as on the distributed path (explode of a null token array)."""
    from meme_search_engine_spark.query import dataframe_engine as de

    qdf = spark.createDataFrame(
        [(0, "alpha beta", 5), (1, None, 10), (2, "beta", 10)],
        "query_id int, text string, k int",
    )
    local = de.query_terms_local(qdf)
    assert local is not None
    monkeypatch.setattr(de, "query_terms_local", lambda *a, **kw: None)
    distributed = sorted(tuple(r) for r in de.query_terms(qdf).collect())
    assert sorted(local) == distributed
    assert {qid for qid, *_ in local} == {0, 2}


def test_query_terms_local_failure_is_logged(caplog):
    """A failure of the driver-local tokenization falls back to the
    distributed plan (None) and leaves a warning with the traceback."""
    import logging

    from meme_search_engine_spark.query import dataframe_engine as de

    class BrokenQueries:
        columns = ["query_id", "text"]

        def isLocal(self):
            raise RuntimeError("plan failed")

    with caplog.at_level(logging.WARNING, logger=de.__name__):
        assert de.query_terms_local(BrokenQueries()) is None
    (rec,) = [r for r in caplog.records if r.name == de.__name__]
    assert rec.levelno == logging.WARNING
    assert rec.exc_info and "plan failed" in str(rec.exc_info[1])
