"""Incremental append: build(400) + append(100) must equal a cold
build(500) — segments content, stats, and query results (the online
reindex loop parity, SURVEY.md §2.9)."""

import glob
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pytest

import pyspark.sql.functions as F

from meme_search_engine_spark.datagen import ensure_corpus, generate_queries
from meme_search_engine_spark.index.builder import (
    append_to_index,
    build_index,
    index_epochs,
    load_index,
    read_ledger,
)
from meme_search_engine_spark.index.postings import IndexConfig
from meme_search_engine_spark.query.serve import (
    SERVING_IMAGE,
    LocalSearcher,
    write_serving_image,
)

N_DOCS = 500
SPLIT = 400
CFG = IndexConfig(salt_shift=7, n_buckets=8, n_parts=3, block_size=32)


@pytest.fixture(scope="module")
def dirs(spark, tmp_path_factory):
    base = tmp_path_factory.mktemp("append")
    pages_dir, _ = ensure_corpus(str(base), N_DOCS)
    pages = spark.read.parquet(pages_dir)

    cold = str(base / "cold")
    build_index(spark, pages, cold, CFG)

    incr = str(base / "incr")
    build_index(spark, pages.filter(F.col("doc_id") < SPLIT), incr, CFG)
    append_to_index(spark, pages.filter(F.col("doc_id") >= SPLIT), incr)
    return cold, incr


def _decoded_content(spark, d):
    """Logical index content: per-term decoded postings + df.  Block
    PACKING may differ between cold and appended builds (the epoch
    boundary salt ends up with two partial blocks instead of one —
    concat-merge never repacks); the decoded postings must not."""
    from meme_search_engine_spark.index.postings import (
        decode_segments_to_postings,
    )

    segments, _, _ = load_index(spark, d)
    return sorted(
        map(
            tuple,
            decode_segments_to_postings(segments)
            .select("term_hash", "df", "doc_id", "tf", "doc_len")
            .collect(),
        )
    )


def _ids_scores(results):
    return [(r["doc_id"], r["score_fixed"]) for r in results]


def _assert_images_rebuild_identically(d):
    """Every epoch's committed serving image equals, byte for byte, the
    image rebuilt from that epoch's parquet segments."""
    for e in index_epochs(d):
        seg_dir = os.path.join(d, "segments", f"epoch={e}")
        sink = pa.BufferOutputStream()
        write_serving_image(seg_dir, CFG.n_buckets, sink)
        with open(os.path.join(seg_dir, SERVING_IMAGE), "rb") as fh:
            assert fh.read() == sink.getvalue().to_pybytes(), seg_dir


def test_serving_images_rebuild_identically(dirs):
    cold, incr = dirs
    assert index_epochs(cold) == [0] and index_epochs(incr) == [0, 1]
    for d in dirs:
        _assert_images_rebuild_identically(d)


def test_index_without_images_answers_identically(dirs, tmp_path):
    """An index written before serving images existed (here: a copy of
    the appended index with every image deleted) gets its images built
    in memory and answers every query path exactly as the mapped
    images do, without writing into the index."""
    _, incr = dirs
    bare = str(tmp_path / "bare")
    shutil.copytree(incr, bare)
    images = glob.glob(os.path.join(bare, "segments", "*", SERVING_IMAGE))
    assert len(images) == 2
    for p in images:
        os.remove(p)
    mapped, built = LocalSearcher(incr), LocalSearcher(bare)
    texts = [q["text"] for q in generate_queries(N_DOCS)[:30]]
    assert any(mapped.search(t) for t in texts)
    for text in texts:
        weighted = list(zip(text.split(), (1.0, -0.5, 2.0)))
        assert built.search(text, 10, with_urls=True) == mapped.search(
            text, 10, with_urls=True
        ), text
        assert built.search_weighted(weighted, 10) == mapped.search_weighted(
            weighted, 10
        ), text
        assert built.search_quality(text, 10) == mapped.search_quality(
            text, 10
        ), text
    assert not glob.glob(os.path.join(bare, "segments", "*", SERVING_IMAGE))


def test_appended_content_equals_cold_build(spark, dirs):
    cold, incr = dirs
    assert _decoded_content(spark, cold) == _decoded_content(spark, incr)


def test_appended_block_invariants(spark, dirs):
    """Blocks within a term must stay doc-range-disjoint and ordered
    across the epoch seam.  block_id is epoch-local since the
    delta-cost finalize, so the merge order (what the WAND kernel
    actually sorts by) is unsigned min_doc_id."""
    _, incr = dirs
    segments, _, _ = load_index(spark, incr)
    rows = segments.collect()
    by_term = {}
    for r in rows:
        by_term.setdefault(r["term_hash"], []).append(r)
    for th, blocks in by_term.items():
        blocks.sort(key=lambda r: r["min_doc_id"] % (1 << 64))
        prev_max = None
        for b in blocks:
            if prev_max is not None:
                assert b["min_doc_id"] > prev_max, th
            prev_max = b["max_doc_id"]
            assert b["n_docs"] <= CFG.block_size


def test_appended_stats_exactly_merge(spark, dirs):
    cold, incr = dirs
    with open(os.path.join(cold, "stats.json")) as fh:
        cs = json.load(fh)
    with open(os.path.join(incr, "stats.json")) as fh:
        is_ = json.load(fh)
    assert (cs["N"], cs["total_tokens"]) == (is_["N"], is_["total_tokens"])
    assert cs["avgdl"] == is_["avgdl"]  # bit-identical double


def test_appended_query_results_identical(spark, dirs):
    cold, incr = dirs
    s_cold, s_incr = LocalSearcher(cold), LocalSearcher(incr)
    for q in generate_queries(N_DOCS)[:40]:
        a = [(r["rank"], r["doc_id"], r["score_fixed"]) for r in s_cold.search(q["text"], q["k"])]
        b = [(r["rank"], r["doc_id"], r["score_fixed"]) for r in s_incr.search(q["text"], q["k"])]
        assert a == b, q["text"]


def test_append_contract_enforced(spark, dirs, tmp_path):
    _, incr = dirs
    # re-appending the same (lower) doc ids must be rejected
    base = os.path.dirname(incr)
    pages = spark.read.parquet(os.path.join(base, f"pages_{N_DOCS}"))
    with pytest.raises(ValueError, match="append contract"):
        append_to_index(spark, pages.filter(F.col("doc_id") < 10), incr)


def test_append_touches_only_new_epoch_files(spark, dirs, tmp_path):
    """Delta-cost finalize: appending 100 docs to a 400-doc index must
    not rewrite epoch 0's segment/term_stats files (VERDICT r02 #4 —
    at 100 TB an append that rewrites the index is a blocker)."""
    base = os.path.dirname(dirs[1])
    pages = spark.read.parquet(os.path.join(base, f"pages_{N_DOCS}"))
    out = str(tmp_path / "delta_idx")
    build_index(spark, pages.filter(F.col("doc_id") < SPLIT), out, CFG)

    def snap(sub):
        state = {}
        for root, _, files in os.walk(os.path.join(out, sub)):
            for f in files:
                p = os.path.join(root, f)
                state[p] = (os.path.getmtime(p), os.path.getsize(p))
        return state

    seg0 = snap("segments/epoch=0")
    ts0 = snap("term_stats/epoch=0")
    append_to_index(spark, pages.filter(F.col("doc_id") >= SPLIT), out)
    assert snap("segments/epoch=0") == seg0
    assert snap("term_stats/epoch=0") == ts0
    assert os.path.isdir(os.path.join(out, "segments", "epoch=1"))
    # and the appended index still answers identically to the cold one
    s_cold, s_new = LocalSearcher(dirs[0]), LocalSearcher(out)
    for q in generate_queries(N_DOCS)[:10]:
        a = [(r["rank"], r["doc_id"], r["score_fixed"]) for r in s_cold.search(q["text"], q["k"])]
        b = [(r["rank"], r["doc_id"], r["score_fixed"]) for r in s_new.search(q["text"], q["k"])]
        assert a == b, q["text"]


def test_retry_of_succeeded_append_is_noop(spark, dirs, tmp_path):
    """An orchestrator retry of an append that already fully committed
    (snapshot in manifest.appended_snapshots) returns immediately
    instead of raising 'append contract violated' (ADVICE r02)."""
    base = os.path.dirname(dirs[1])
    pages = spark.read.parquet(os.path.join(base, f"pages_{N_DOCS}"))
    out = str(tmp_path / "retry_idx")
    build_index(spark, pages.filter(F.col("doc_id") < SPLIT), out, CFG)
    new = pages.filter(F.col("doc_id") >= SPLIT)
    m1 = append_to_index(spark, new, out)
    m2 = append_to_index(spark, new, out)  # retry: no-op, no ValueError
    assert m2["stats"]["N"] == m1["stats"]["N"]
    led = read_ledger(spark, out)
    assert {r["epoch"] for r in led.select("epoch").distinct().collect()} == {0, 1}


def test_compaction_preserves_results(spark, dirs, tmp_path):
    """compact_index merges all epochs into one; queries identical
    before and after; epoch dirs collapse to epoch=0."""
    from meme_search_engine_spark.index.builder import (
        compact_index,
        index_epochs,
    )

    base = os.path.dirname(dirs[1])
    pages = spark.read.parquet(os.path.join(base, f"pages_{N_DOCS}"))
    out = str(tmp_path / "compact_idx")
    build_index(spark, pages.filter(F.col("doc_id") < SPLIT), out, CFG)
    # a searcher opened before the append: its resident docmeta must
    # pick up the appended docs' URLs and priors, and keep them
    # through the compaction
    early = LocalSearcher(out)
    assert early.urls_for([0]) and not early.urls_for([SPLIT])
    # ...and it keeps serving the postings it opened with: record the
    # pre-append answers for terms `early` never queries until after
    # the append and the compaction
    pinned_terms = ["term0100"] + [f"term{i:04d}" for i in range(200, 224)]
    ref = LocalSearcher(out)
    pinned = {t: _ids_scores(ref.search(t, 10)) for t in pinned_terms}
    appended = pages.filter(F.col("doc_id") >= SPLIT)
    want_urls = {r["doc_id"]: r["url"] for r in appended.collect()}
    new_ids = np.array(sorted(want_urls), dtype=np.int64)

    def assert_docmeta_fresh():
        assert early.urls_for(new_ids.tolist()) == want_urls
        assert (early._priors_fixed_for(new_ids, 0.5, -0.25) != 0).all()

    append_to_index(spark, appended, out)
    assert index_epochs(out) == [0, 1]
    assert_docmeta_fresh()
    queries = generate_queries(N_DOCS)[:20]
    before = [LocalSearcher(out).search(q["text"], q["k"]) for q in queries]
    compact_index(spark, out)
    assert index_epochs(out) == [0]
    assert_docmeta_fresh()
    after_s = LocalSearcher(out)
    after = [after_s.search(q["text"], q["k"]) for q in queries]
    assert before == after
    assert {t: _ids_scores(early.search(t, 10)) for t in pinned_terms} == pinned
    # the appended docs do move these answers in the current index
    assert any(
        _ids_scores(after_s.search(t, 10)) != pinned[t] for t in pinned_terms
    )
    _assert_images_rebuild_identically(out)
    # compacted index == cold-build content (global df restored)
    assert _decoded_content(spark, out) == _decoded_content(spark, dirs[0])


def test_auto_compaction_policy(spark, dirs, tmp_path):
    """append_to_index(auto_compact_epochs=E): once the committed
    index exceeds E segment epochs the append folds them back to one
    (VERDICT r06 #3 — bounds the measured +18-27% multi-epoch WAND
    penalty in a streaming deployment).  The policy must actually
    fire, serving must stay identical, and the ledger must record the
    rewrite."""
    from meme_search_engine_spark.index.builder import index_epochs

    base = os.path.dirname(dirs[1])
    pages = spark.read.parquet(os.path.join(base, f"pages_{N_DOCS}"))
    out = str(tmp_path / "auto_idx")
    build_index(spark, pages.filter(F.col("doc_id") < 300), out, CFG)
    # first append stays under the threshold: no compaction
    append_to_index(
        spark,
        pages.filter((F.col("doc_id") >= 300) & (F.col("doc_id") < SPLIT)),
        out,
        auto_compact_epochs=2,
    )
    assert index_epochs(out) == [0, 1]
    led = read_ledger(spark, out)
    assert led.filter(F.col("status") == "compacted").count() == 0
    # second append crosses it: 3 epochs > 2 -> policy fires
    append_to_index(
        spark,
        pages.filter(F.col("doc_id") >= SPLIT),
        out,
        auto_compact_epochs=2,
    )
    assert index_epochs(out) == [0]
    led = read_ledger(spark, out)
    compacted = led.filter(F.col("status") == "compacted").collect()
    assert len(compacted) == 1
    assert compacted[0]["input_snapshot"] == "__compaction__"
    # the synthetic row must not disturb epoch allocation or resume
    # bookkeeping: real epochs still {0,1,2}, next allocation max+1
    real = led.filter(F.col("status") == "done")
    assert {r["epoch"] for r in real.select("epoch").distinct().collect()} == {
        0,
        1,
        2,
    }
    # serving identical to the cold build of the union
    s_cold, s_auto = LocalSearcher(dirs[0]), LocalSearcher(out)
    for q in generate_queries(N_DOCS)[:15]:
        a = [
            (r["rank"], r["doc_id"], r["score_fixed"])
            for r in s_cold.search(q["text"], q["k"])
        ]
        b = [
            (r["rank"], r["doc_id"], r["score_fixed"])
            for r in s_auto.search(q["text"], q["k"])
        ]
        assert a == b, q["text"]
    # compacted content == cold-build content (global df restored)
    assert _decoded_content(spark, out) == _decoded_content(spark, dirs[0])


def test_wand_identical_on_appended_index(spark, dirs):
    """The distributed WAND path over a MULTI-EPOCH index (epoch-local
    stored df, global df via the sum(n_docs) broadcast fixup) returns
    exactly the cold build's rankings."""
    from meme_search_engine_spark.query.wand import wand_topk

    cold, incr = dirs
    qdf = spark.createDataFrame(
        [(q["query_id"], q["text"], q["k"]) for q in generate_queries(N_DOCS)[:25]],
        "query_id int, text string, k int",
    )

    def run(d, **kw):
        segments, term_stats, manifest = load_index(spark, d)
        return sorted(
            map(
                tuple,
                wand_topk(
                    spark, segments, term_stats, manifest, qdf, **kw
                ).collect(),
            )
        )

    assert run(incr) == run(cold)
    # the theta-seeded pre-prune path must agree too (forces the
    # local per-term seed over the multi-epoch df-fixup segments)
    assert run(incr, pre_prune=True) == run(cold)


def test_append_ledger_has_epochs(spark, dirs):
    _, incr = dirs
    led = read_ledger(spark, incr)
    epochs = {r["epoch"] for r in led.select("epoch").distinct().collect()}
    assert epochs == {0, 1}


def test_append_crash_resume_reuses_epoch(spark, dirs, tmp_path):
    """An append that dies AFTER its ledger rows commit but BEFORE
    finalize must, on retry with the same input, REUSE its epoch (not
    allocate max+1 and double-count the crashed epoch's partials) and
    converge to the same index as a clean cold build."""
    from meme_search_engine_spark.index.builder import InjectedFailure

    base = os.path.dirname(dirs[1])
    pages = spark.read.parquet(os.path.join(base, f"pages_{N_DOCS}"))
    out = str(tmp_path / "crash_idx")
    build_index(spark, pages.filter(F.col("doc_id") < SPLIT), out, CFG)
    with pytest.raises(InjectedFailure):
        append_to_index(
            spark,
            pages.filter(F.col("doc_id") >= SPLIT),
            out,
            fail_before_finalize=True,
        )
    # retry the SAME append to completion
    append_to_index(spark, pages.filter(F.col("doc_id") >= SPLIT), out)
    led = read_ledger(spark, out)
    epochs = {r["epoch"] for r in led.select("epoch").distinct().collect()}
    assert epochs == {0, 1}, epochs  # no phantom epoch 2
    # content equals the module's clean cold build (no doubled tf/df)
    assert _decoded_content(spark, out) == _decoded_content(spark, dirs[0])


def test_compaction_crash_midswap_heals_forward(
    spark, dirs, tmp_path, monkeypatch
):
    """A crash AFTER the compact.commit marker, between the segments
    and term_stats swaps, rolls FORWARD at the next load_index
    (ADVICE r07 crash-window): single epoch, no debris, identical
    query results."""
    from meme_search_engine_spark.index import builder

    base = os.path.dirname(dirs[1])
    pages = spark.read.parquet(os.path.join(base, f"pages_{N_DOCS}"))
    out = str(tmp_path / "midswap_idx")
    build_index(spark, pages.filter(F.col("doc_id") < SPLIT), out, CFG)
    append_to_index(spark, pages.filter(F.col("doc_id") >= SPLIT), out)
    queries = generate_queries(N_DOCS)[:10]
    s = LocalSearcher(out)
    before = [s.search(q["text"], q["k"]) for q in queries]

    real_swap = builder._apply_compaction_swap

    def crash_after_segments(d):
        monkeypatch.setattr(builder, "_SWAP_NAMES", ("segments",))
        try:
            real_swap(d)
        finally:
            monkeypatch.setattr(
                builder, "_SWAP_NAMES", ("segments", "term_stats")
            )
        raise RuntimeError("injected crash mid-swap")

    monkeypatch.setattr(
        builder, "_apply_compaction_swap", crash_after_segments
    )
    with pytest.raises(RuntimeError, match="injected crash"):
        builder.compact_index(spark, out)
    monkeypatch.setattr(builder, "_apply_compaction_swap", real_swap)
    # the crash state the advice described: marker committed, segments
    # already swapped, term_stats still multi-epoch with its tmp
    assert os.path.exists(os.path.join(out, "compact.commit"))
    assert os.path.isdir(os.path.join(out, "term_stats.tmp"))
    load_index(spark, out)  # any reader heals forward
    assert not os.path.exists(os.path.join(out, "compact.commit"))
    assert not os.path.isdir(os.path.join(out, "term_stats.tmp"))
    assert not os.path.isdir(os.path.join(out, "term_stats.old"))
    from meme_search_engine_spark.index.builder import index_epochs

    assert index_epochs(out) == [0]
    s2 = LocalSearcher(out)
    after = [s2.search(q["text"], q["k"]) for q in queries]
    assert before == after
    # compacted content == the module's clean cold build
    assert _decoded_content(spark, out) == _decoded_content(spark, dirs[0])


def test_compaction_precommit_crash_rolls_back(spark, dirs, tmp_path):
    """Partial .tmp dirs WITHOUT the commit marker (crash during the
    rewrite itself) roll BACK: tmps deleted, multi-epoch index
    untouched, results unchanged."""
    from meme_search_engine_spark.index.builder import index_epochs

    base = os.path.dirname(dirs[1])
    pages = spark.read.parquet(os.path.join(base, f"pages_{N_DOCS}"))
    out = str(tmp_path / "precommit_idx")
    build_index(spark, pages.filter(F.col("doc_id") < SPLIT), out, CFG)
    append_to_index(spark, pages.filter(F.col("doc_id") >= SPLIT), out)
    queries = generate_queries(N_DOCS)[:10]
    s = LocalSearcher(out)
    before = [s.search(q["text"], q["k"]) for q in queries]
    # simulate a crash mid-rewrite: a half-written tmp, no marker
    os.makedirs(os.path.join(out, "segments.tmp", "epoch=0"))
    with open(
        os.path.join(out, "segments.tmp", "epoch=0", "junk.parquet"), "wb"
    ) as fh:
        fh.write(b"not a parquet file")
    load_index(spark, out)
    assert not os.path.isdir(os.path.join(out, "segments.tmp"))
    assert index_epochs(out) == [0, 1]  # multi-epoch intact
    s2 = LocalSearcher(out)
    after = [s2.search(q["text"], q["k"]) for q in queries]
    assert before == after


def test_manifest_commit_never_torn(tmp_path):
    """A reader polling manifest.json while the commit marker is
    rewritten in a loop never sees torn JSON: the write goes to a
    hidden tmp file and is swapped in with os.replace."""
    import threading
    import time

    from meme_search_engine_spark.index.builder import _write_manifest

    out = str(tmp_path)
    stats = {"N": 1000, "avgdl": 42.5, "total_len": 42500}
    _write_manifest(out, CFG, stats, "snap")
    stop = threading.Event()
    writes = []

    def writer():
        i = 0
        while not stop.is_set():
            _write_manifest(out, CFG, {**stats, "N": i}, f"snap-{i}")
            i += 1
        writes.append(i)

    t = threading.Thread(target=writer)
    t.start()
    reads = errors = 0
    deadline = time.time() + 1.5
    try:
        while time.time() < deadline:
            try:
                with open(os.path.join(out, "manifest.json")) as fh:
                    json.load(fh)
            except json.JSONDecodeError:
                errors += 1
            reads += 1
    finally:
        stop.set()
        t.join()
    assert writes[0] > 10 and reads > 10
    assert errors == 0
    assert [f for f in os.listdir(out) if f.endswith(".tmp")] == []
