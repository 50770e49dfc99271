"""Per-round benchmark harness (driver contract).

Runs the headline pipeline at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ..., ...extras}

Headline queries:
  index_build      full posting-segment build over `documents`
  bm25_exhaustive  DataFrame BM25 top-k, gate query set (in-flight stats;
                   best-of-2, so the reported number is the warm-corpus
                   path — the first pass pays tokenize+persist)
  wand_topk        block-max WAND over the built index, gate query set
  wand_p50_ms      per-query p50 latency (reported in extras)
  doc_stats / term_df_top  corpus analytics
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = sf_dir.rstrip("/").split("sf")[-1]

    from meme_search_engine_spark.session import get_spark
    from meme_search_engine_spark import gate
    from meme_search_engine_spark.index.builder import build_index, load_index
    from meme_search_engine_spark.index.postings import IndexConfig
    from meme_search_engine_spark.query.wand import wand_topk

    timings: dict[str, float] = {}
    extras: dict[str, float] = {}

    # same-window hypervisor controls (VERDICT r06 #2): this VM's
    # windows drift ±50%, so a per-round driver bench without an
    # embedded control reading is a single uncontrolled draw — every
    # cross-round comparison starts an argument.  The SAME probes the
    # scaling protocol embeds (bench_scaling._cpu_control /
    # _membw_control at the protocol's 8-stream level) run at bench
    # start AND end; a metric that moved with a moved control indicts
    # the window, an unchanged control indicts the code.
    from bench_scaling import _cpu_control, _membw_control

    extras["cpu_control_mops"] = _cpu_control(8)
    extras["membw_control_gbps"] = _membw_control(8)

    spark = get_spark(app_name="bench", cores=cpus, shuffle_partitions=cpus)

    def timed(name: str, fn, repeats: int = 1):
        # repeats>1 (query-side timings only): best-of, because single
        # draws on this VM swing ±50% with hypervisor noise — builds
        # stay single-shot (too expensive to repeat here; the 100k
        # build below does its own best-of-2)
        best_dt, out = None, None
        for _ in range(repeats):
            t0 = time.time()
            out = fn()
            dt = time.time() - t0
            best_dt = dt if best_dt is None else min(best_dt, dt)
        timings[name] = round(best_dt, 3)
        return out

    # warm the JVM/Arrow path once so timings measure work, not startup
    spark.read.parquet(f"{sf_dir}/documents.parquet").count()

    n_docs = spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    idx_dir = tempfile.mkdtemp(prefix="bench_idx_")
    cfg = IndexConfig(salt_shift=12, n_buckets=32, n_parts=8)
    try:
        pages = spark.read.parquet(f"{sf_dir}/documents.parquet")
        timed("index_build", lambda: build_index(spark, pages, idx_dir, cfg))
        extras["build_docs_per_sec"] = round(n_docs / timings["index_build"], 1)

        timed(
            "bm25_exhaustive",
            lambda: gate.q_bm25_topk(spark, sf_dir).collect(),
            repeats=2,
        )

        segments, term_stats, manifest = load_index(spark, idx_dir)
        segments = segments.cache()
        segments.count()
        qdf = spark.createDataFrame(
            gate.GATE_QUERIES, "query_id int, text string, k int"
        )
        timed(
            "wand_topk",
            lambda: wand_topk(spark, segments, term_stats, manifest, qdf).collect(),
            repeats=2,
        )
        # per-query serving latency (warm index): p50 over the gate set
        # through the driver-local path (the reference's online-server
        # analogue; a single-query Spark job would measure scheduler
        # launch, not the engine)
        from meme_search_engine_spark.query.serve import LocalSearcher

        # COLD pass: a FRESH searcher (empty term caches) whose only
        # prior work is the fragment-map warm-up on a term no gate
        # query uses — each query pays the pruned parquet read +
        # batched decode for terms not already pulled in by an
        # EARLIER gate query (the residual intra-pass overlap is the
        # workload's own term reuse, reported as-is)
        cold_searcher = LocalSearcher(idx_dir)
        cold_searcher.search("zzzwarmupterm")  # fragment map only
        cold: list[float] = []
        for qid, text, k in gate.GATE_QUERIES:
            t0 = time.time()
            cold_searcher.search(text, k)
            cold.append(time.time() - t0)
        cold.sort()
        extras["serve_cold_p50_ms"] = round(
            1000 * cold[len(cold) // 2], 2
        )
        # WARM path: per-query best-of-3 interleaved passes, then p50:
        # a single pass of ~8 queries is one hypervisor-noise draw per
        # query and swings 2-3x run to run; min-per-query measures the
        # decode-once postings cache, p50-over-queries the spread
        searcher = LocalSearcher(idx_dir)
        searcher.search("term0001")  # warm
        best: dict[int, float] = {}
        for _ in range(3):
            for qid, text, k in gate.GATE_QUERIES:
                t0 = time.time()
                searcher.search(text, k)
                dt = time.time() - t0
                if qid not in best or dt < best[qid]:
                    best[qid] = dt
        lat = sorted(best.values())
        extras["serve_p50_ms"] = round(1000 * lat[len(lat) // 2], 2)

        timed("doc_stats", lambda: gate.q_doc_stats(spark, sf_dir).collect(), repeats=2)
        timed("term_df_top", lambda: gate.q_term_df_top(spark, sf_dir).collect(), repeats=2)

        # extraction-heavy build: html->text Arrow UDF in the loop (the
        # input_hint path); synthetic pages corpus, scaled with sf
        from meme_search_engine_spark.datagen import ensure_corpus

        n_html = max(2000, min(int(20000 * float(sf or 0.1) * 10), 50000))
        pages_dir, _ = ensure_corpus(
            os.path.join(os.path.dirname(os.path.abspath(__file__)), "data"),
            n_html,
        )
        html_pages = spark.read.parquet(pages_dir).drop("text")
        idx2 = tempfile.mkdtemp(prefix="bench_idx_html_")
        try:
            timed(
                "index_build_from_html",
                lambda: build_index(spark, html_pages, idx2, cfg),
            )
            extras["html_build_docs_per_sec"] = round(
                n_html / timings["index_build_from_html"], 1
            )
        finally:
            shutil.rmtree(idx2, ignore_errors=True)

        # headline build throughput at >=100k docs: the sf0.1 documents
        # table (5k docs) is fixed-overhead-dominated (multiple jobs +
        # ledger commit per build), so docs/sec there under-sells the
        # engine; this row measures the steady-state regime.  Reported
        # in extras (not summed into `value`) so the e2e metric stays
        # comparable across rounds.
        n_big = int(os.environ.get("SPARK_GRAFT_BENCH_BIG_DOCS", "100000"))
        big_dir, _ = ensure_corpus(
            os.path.join(os.path.dirname(os.path.abspath(__file__)), "data"),
            n_big,
            n_files=32,
        )
        big_pages = spark.read.parquet(big_dir)
        # best-of-2: identical runs on this VM vary ±50% (hypervisor
        # steal, CLAUDE.md) — a single draw misreports the engine
        best = None
        last_idx = None
        try:
            for _ in range(2):
                idx3 = tempfile.mkdtemp(prefix="bench_idx_big_")
                if last_idx is not None:
                    shutil.rmtree(last_idx, ignore_errors=True)
                last_idx = idx3
                t0 = time.time()
                build_index(
                    spark, big_pages, idx3,
                    IndexConfig(salt_shift=14, n_buckets=64, n_parts=8),
                )
                big_sec = time.time() - t0
                best = big_sec if best is None else min(best, big_sec)
            extras["index_build_100k_sec"] = round(best, 3)
            extras["build_docs_per_sec_100k"] = round(n_big / best, 1)

            # serve latency AT INDEX SCALE: p50 over the synthetic-corpus
            # query set against the 100k-doc index just built (the r02
            # serve regression was precisely a grows-with-index-size
            # effect; the memoized fragment map + term cache should hold
            # this near the 5k-doc number)
            from meme_search_engine_spark.datagen import generate_queries

            big_queries = generate_queries(n_big)[:16]
            cold_big = LocalSearcher(last_idx)
            cold_big.search("zzzwarmupterm")  # fragment map only
            cold_q: list[float] = []
            for q in big_queries:
                t0 = time.time()
                cold_big.search(q["text"], q["k"])
                cold_q.append(time.time() - t0)
            cold_q.sort()
            extras["serve_cold_p50_ms_100k"] = round(
                1000 * cold_q[len(cold_q) // 2], 2
            )
            big_searcher = LocalSearcher(last_idx)
            big_searcher.search(big_queries[0]["text"])  # warm
            best_q: dict[int, float] = {}
            for _ in range(3):
                for q in big_queries:
                    t0 = time.time()
                    big_searcher.search(q["text"], q["k"])
                    dt = time.time() - t0
                    qid = q["query_id"]
                    if qid not in best_q or dt < best_q[qid]:
                        best_q[qid] = dt
            lat = sorted(best_q.values())
            extras["serve_p50_ms_100k"] = round(
                1000 * lat[len(lat) // 2], 2
            )
        finally:
            if last_idx is not None:
                shutil.rmtree(last_idx, ignore_errors=True)

        # ---- multi-epoch serving cost + compaction recovery (VERDICT
        # r05 #6): appends are correctness-tested but the df-fixup /
        # multi-epoch read cost needed a number.  Build 70k, append
        # 15k twice (3 epochs), measure warm serve p50 + the WAND
        # batch (its plan joins the broadcast df fixup when
        # n_epochs>1), then compact_index() and re-measure — the
        # delta IS the epoch penalty, the compacted row its recovery.
        from meme_search_engine_spark.index.builder import (
            append_to_index,
            compact_index,
        )

        def _serve_p50(idx_path: str) -> float:
            s = LocalSearcher(idx_path)
            s.search("zzzwarmupterm")  # fragment map only
            bq: dict[int, float] = {}
            for _ in range(3):
                for q in big_queries:
                    t0 = time.time()
                    s.search(q["text"], q["k"])
                    dt = time.time() - t0
                    qid = q["query_id"]
                    if qid not in bq or dt < bq[qid]:
                        bq[qid] = dt
            latq = sorted(bq.values())
            return round(1000 * latq[len(latq) // 2], 2)

        def _wand_sec(idx_path: str) -> float:
            seg, ts, man = load_index(spark, idx_path)
            seg = seg.cache()
            seg.count()
            qdf_big = spark.createDataFrame(
                [(q["query_id"], q["text"], q["k"]) for q in big_queries],
                "query_id int, text string, k int",
            )
            try:
                best_w = None
                for _ in range(2):
                    t0 = time.time()
                    wand_topk(spark, seg, ts, man, qdf_big).collect()
                    dt = time.time() - t0
                    best_w = dt if best_w is None else min(best_w, dt)
                return round(best_w, 3)
            finally:
                seg.unpersist()

        me_dir = tempfile.mkdtemp(prefix="bench_idx_me_")
        try:
            cut1, cut2 = int(n_big * 0.7), int(n_big * 0.85)
            build_index(
                spark, big_pages.filter(f"doc_id < {cut1}"), me_dir,
                IndexConfig(salt_shift=14, n_buckets=64, n_parts=8),
            )
            append_to_index(
                spark,
                big_pages.filter(
                    f"doc_id >= {cut1} and doc_id < {cut2}"
                ),
                me_dir,
            )
            append_to_index(
                spark, big_pages.filter(f"doc_id >= {cut2}"), me_dir
            )
            extras["serve_p50_ms_100k_multiepoch"] = _serve_p50(me_dir)
            extras["wand_100k_multiepoch_sec"] = _wand_sec(me_dir)
            t0 = time.time()
            compact_index(spark, me_dir)
            extras["compact_100k_sec"] = round(time.time() - t0, 3)
            extras["serve_p50_ms_100k_compacted"] = _serve_p50(me_dir)
            extras["wand_100k_compacted_sec"] = _wand_sec(me_dir)
        finally:
            shutil.rmtree(me_dir, ignore_errors=True)

    finally:
        shutil.rmtree(idx_dir, ignore_errors=True)
        spark.stop()

    # end-of-run controls: the bench runs for minutes and windows
    # drift minute-to-minute — a large start/end delta flags the run
    # itself as straddling a window change
    extras["cpu_control_mops_end"] = _cpu_control(8)
    extras["membw_control_gbps_end"] = _membw_control(8)

    print(
        json.dumps(
            {
                "metric": "bm25_index_build_and_query_e2e",
                "value": round(sum(timings.values()), 3),
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "cpus": cpus,
                "n_docs": n_docs,
                **extras,
            }
        )
    )


if __name__ == "__main__":
    main()
