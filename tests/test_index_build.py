"""Posting-segment build: golden structure vs oracle, partitioning
invariance, block invariants, salted-merge under the head-term hot key,
and kill/resume equivalence (SURVEY.md §5.2/5.4/5.5, FIXTURES.md §4/5)."""

import numpy as np
import pytest

import pyspark.sql.functions as F

from meme_search_engine_spark.common.bm25 import bm25_tf_norm
from meme_search_engine_spark.common.hashing import term_hash
from meme_search_engine_spark.datagen import ensure_corpus, rare_term
from meme_search_engine_spark.index.builder import (
    InjectedFailure,
    build_index,
    load_index,
)
from meme_search_engine_spark.index.postings import (
    IndexConfig,
    decode_segments_to_postings,
)
from meme_search_engine_spark.oracle import OracleIndex

N_DOCS = 500
CFG = IndexConfig(salt_shift=7, n_buckets=8, n_parts=3, block_size=128)


@pytest.fixture(scope="module")
def pages_path(tmp_path_factory):
    base = tmp_path_factory.mktemp("corpus")
    pages_dir, _ = ensure_corpus(str(base), N_DOCS)
    return pages_dir


@pytest.fixture(scope="module")
def oracle(pages_path):
    import duckdb

    rows = duckdb.sql(
        f"SELECT doc_id, text FROM '{pages_path}/*.parquet' ORDER BY doc_id"
    ).fetchall()
    return OracleIndex.build(rows)


@pytest.fixture(scope="module")
def index_dir(spark, pages_path, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("index") / "idx")
    pages = spark.read.parquet(pages_path)
    build_index(spark, pages, out, CFG)
    return out


def _decoded_by_term(spark, index_dir):
    segments, _, _ = load_index(spark, index_dir)
    rows = decode_segments_to_postings(segments).collect()
    by_term: dict[int, list] = {}
    for r in rows:
        by_term.setdefault(r["term_hash"], []).append(
            (r["doc_id"], r["tf"], r["doc_len"], r["df"])
        )
    for v in by_term.values():
        v.sort()
    return by_term


def test_segments_match_oracle_goldens(spark, index_dir, oracle):
    by_term = _decoded_by_term(spark, index_dir)
    # every oracle term, including the head term and a rare term
    assert len(by_term) == len(oracle.postings)
    for term in ["term0000", "term0001", "term0500", rare_term(123)]:
        g = oracle.postings_golden(term)
        got = by_term[g["term_hash"]]
        assert [d for d, _, _, _ in got] == g["doc_ids"], term
        assert [t for _, t, _, _ in got] == g["tfs"], term
        assert all(df == g["df"] for _, _, _, df in got), term
        # doc lens stored in blocks must match the oracle's
        assert [l for _, _, l, _ in got] == [
            oracle.doc_len[d] for d in g["doc_ids"]
        ], term


def test_all_terms_df_and_postings(spark, index_dir, oracle):
    by_term = _decoded_by_term(spark, index_dir)
    expected = {
        term_hash(t): sorted(pl.items()) for t, pl in oracle.postings.items()
    }
    got = {
        th: [(d, tf) for d, tf, _, _ in rows] for th, rows in by_term.items()
    }
    assert got == expected


def test_block_invariants(spark, index_dir, oracle):
    """Block size bound, range disjointness per term, block-max
    correctness, df consistency — decoded from the segments."""
    from meme_search_engine_spark.common.codecs import decode_postings_block

    segments, term_stats, manifest = load_index(spark, index_dir)
    avgdl = manifest["stats"]["avgdl"]
    rows = segments.collect()
    by_term: dict[int, list] = {}
    for r in rows:
        by_term.setdefault(r["term_hash"], []).append(r)
    for th, blocks in by_term.items():
        blocks.sort(key=lambda r: r["block_id"])
        assert [b["block_id"] for b in blocks] == list(range(len(blocks)))
        assert all(b["n_blocks"] == len(blocks) for b in blocks)
        total = 0
        prev_max = None
        for b in blocks:
            d, t, l = decode_postings_block(b["doc_ids"], b["tfs"], b["dls"])
            assert len(d) == b["n_docs"] <= CFG.block_size
            assert d.min() == b["min_doc_id"] and d.max() == b["max_doc_id"]
            assert np.all(np.diff(d.astype(np.uint64)).astype(np.int64) > 0)
            if prev_max is not None:
                assert int(d.min()) > prev_max  # disjoint ordered ranges
            prev_max = int(d.max())
            tf_norm = np.array(
                [bm25_tf_norm(tf, dl, avgdl) for tf, dl in zip(t, l)]
            )
            assert b["block_max_tfnorm"] == pytest.approx(tf_norm.max(), rel=1e-12)
            total += b["n_docs"]
        assert all(b["df"] == total for b in blocks)
        assert b["bucket"] == th % CFG.n_buckets


def test_head_term_salted_into_bounded_groups(spark, index_dir, oracle):
    """The 30%-df head term must span multiple salts (the skew fixture:
    no single build group sees the whole hot key)."""
    segments, _, _ = load_index(spark, index_dir)
    th = term_hash("term0000")
    g = oracle.postings_golden("term0000")
    blocks = segments.filter(F.col("term_hash") == th).collect()
    assert sum(b["n_docs"] for b in blocks) == g["df"]
    # salt ranges: 500 docs / 2^7 -> 4 salt buckets
    n_ranges = len({b["min_doc_id"] >> CFG.salt_shift for b in blocks})
    assert n_ranges >= 3


def test_skew_bounded_groups(spark, index_dir):
    """SURVEY §5.5 skew bound: no (term, salt) build group can exceed
    the salt range, REGARDLESS of a term's df — the head term's 30%-df
    hot key is split across bounded groups by construction."""
    segments, _, _ = load_index(spark, index_dir)
    per_group = (
        segments.withColumn(
            "salt", F.shiftrightunsigned(F.col("min_doc_id"), CFG.salt_shift)
        )
        .groupBy("term_hash", "salt")
        .agg(F.sum("n_docs").alias("n"))
    )
    max_group = per_group.agg(F.max("n")).collect()[0][0]
    assert max_group <= 2**CFG.salt_shift


def test_build_invariant_to_input_partitioning(spark, pages_path, tmp_path):
    pages = spark.read.parquet(pages_path)

    def build(n_parts_in, name):
        out = str(tmp_path / name)
        build_index(spark, pages.repartition(n_parts_in), out, CFG)
        segments, _, _ = load_index(spark, out)
        return sorted(
            (
                r["term_hash"], r["block_id"], r["n_docs"], r["df"],
                bytes(r["doc_ids"]), bytes(r["tfs"]), bytes(r["dls"]),
                r["block_max_tfnorm"],
            )
            for r in segments.collect()
        )

    assert build(4, "a") == build(17, "b")


def test_kill_and_resume_equals_cold_build(spark, pages_path, tmp_path, index_dir):
    """FIXTURES.md §5 resume test: inject a failure after 1 of 3
    checkpoint batches, re-run, final segments identical to cold."""
    pages = spark.read.parquet(pages_path)
    out = str(tmp_path / "resumed")
    with pytest.raises(InjectedFailure):
        build_index(spark, pages, out, CFG, parts_per_batch=1, fail_after_batches=1)
    # resume: must skip the completed part and finish
    from meme_search_engine_spark.index.builder import completed_parts, input_snapshot

    snap = input_snapshot(pages)
    assert len(completed_parts(spark, out, snap)) == 1
    build_index(spark, pages, out, CFG, parts_per_batch=1)

    def content(d):
        segments, _, _ = load_index(spark, d)
        return sorted(
            (
                r["term_hash"], r["block_id"], bytes(r["doc_ids"]),
                bytes(r["tfs"]), bytes(r["dls"]), r["df"],
            )
            for r in segments.collect()
        )

    assert content(out) == content(index_dir)


def test_ledger_lineage_and_metrics(spark, index_dir):
    from meme_search_engine_spark.index.builder import read_ledger

    led = read_ledger(spark, index_dir).collect()
    assert {r["part_id"] for r in led} == set(range(CFG.n_parts))
    assert all(r["status"] == "done" for r in led)
    assert sum(r["rows_in"] for r in led) == N_DOCS
    assert all(r["bytes_out"] > 0 for r in led)
    assert all(r["input_snapshot"] == led[0]["input_snapshot"] for r in led)


def test_combine_pre_count_identical_to_raw_explode(spark, pages_path):
    """The doc-local JVM tf pre-combine (doc_term_tf_exploded) must
    produce bit-identical partial blocks to exploding raw token
    occurrences — the encode kernel's run-length collapse is an
    identity over pre-counted rows.  Covers empty-token and null-text
    docs (the size<=0 guard: size(null) = -1 and sequence(1, size)
    would otherwise generate a descending sequence)."""
    from meme_search_engine_spark.index.build import docs_from_pages
    from meme_search_engine_spark.index.postings import (
        build_partials_from_docs,
        doc_term_tf_exploded,
    )

    pages = spark.read.parquet(pages_path)
    docs = docs_from_pages(pages)
    # append edge-case docs: empty tokens, null tokens, single token
    edge = spark.createDataFrame(
        [
            (10_000_001, "u1", "", [], 0),
            (10_000_002, "u2", None, None, 0),
            (10_000_003, "u3", "one", ["one"], 1),
        ],
        "doc_id long, url string, text string, tokens array<string>, doc_len int",
    )
    docs = docs.unionByName(edge).persist()
    try:
        a = build_partials_from_docs(docs, 210.0, CFG, combine=False)
        b = build_partials_from_docs(docs, 210.0, CFG, combine=True)
        assert a.exceptAll(b).count() == 0
        assert b.exceptAll(a).count() == 0
        # the combine really does shrink the exchange: fewer rows than
        # raw token occurrences, one row per distinct (doc, term)
        n_occ = docs.select(F.explode("tokens")).count()
        n_combined = doc_term_tf_exploded(docs).count()
        n_distinct = (
            docs.select("doc_id", F.explode("tokens").alias("t"))
            .distinct()
            .count()
        )
        assert n_combined == n_distinct < n_occ
    finally:
        docs.unpersist()
