"""Spark half of a run: session and a cold index build; in traced runs
also a batch WAND query over the built index.

Runs in its own process (`python perfbench/spark_phase.py <args.json>`)
so the driver JVM exits with it before the serving half starts.  Writes
its measurements and the WAND batch's rows to the JSON path named in
the arguments.

Counts come from outside the package: each call runs under its own
`setJobGroup`, tasks and failed tasks are read from `statusTracker()`,
and, in traced runs only (Spark UI on), shuffle bytes and records come
from the UI's REST API.
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request


def _dir_stats(path: str) -> tuple[int, int]:
    """(parquet files, bytes of all data files) under path."""
    n = size = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            if f.startswith((".", "_")):
                continue
            size += os.path.getsize(os.path.join(dirpath, f))
            n += f.endswith(".parquet")
    return n, size


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


class JobCounter:
    """Job ids, tasks and failed tasks of one call, via statusTracker."""

    def __init__(self, sc):
        self.sc = sc
        self.tracker = sc.statusTracker()

    def run(self, group: str, fn):
        before = set(self.tracker.getJobIdsForGroup(None))
        self.sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            self.sc.setJobGroup(None, None)
        # jobs submitted from the package's own worker threads carry no
        # group; they are the ungrouped jobs that appeared meanwhile
        jobs = set(self.tracker.getJobIdsForGroup(group)) | (
            set(self.tracker.getJobIdsForGroup(None)) - before
        )
        stages, tasks, failed = set(), 0, 0
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        for s in stages:
            st = self.tracker.getStageInfo(s)
            if st is not None:
                tasks += st.numTasks
                failed += st.numFailedTasks
        return out, {"jobs": len(jobs), "stages": sorted(stages),
                     "tasks": tasks, "failed_tasks": failed}


def _shuffle_written(spark, stage_ids: list[int]) -> tuple[int, int]:
    sc = spark.sparkContext
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/stages"
    with urllib.request.urlopen(url, timeout=30) as r:
        stages = json.load(r)
    wanted = set(stage_ids)
    b = n = 0
    for s in stages:
        if s["stageId"] in wanted:
            b += s.get("shuffleWriteBytes", 0)
            n += s.get("shuffleWriteRecords", 0)
    return b, n


def main(args: dict) -> None:
    root = args["root"]
    sys.path.insert(0, root)
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from spans import Tracer

    spec = args["spark"]
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = spec["driver_memory"]
    os.environ["SPARK_LOCAL_DIRS"] = args["local_dir"]
    trace = bool(args["trace"])
    tr = Tracer(trace)
    conf = dict(spec["extra_conf"])
    if trace:
        conf.update(spec["trace_conf"])
    out: dict = {}

    t0 = time.perf_counter()
    with tr.span("session.get_spark"):
        from meme_search_engine_spark.session import get_spark

        spark = get_spark(
            app_name="perfbench", cores=args["cores"], extra_conf=conf
        )
    out["session_s"] = time.perf_counter() - t0

    from meme_search_engine_spark.index.builder import build_index

    jc = JobCounter(spark.sparkContext)
    jvm_pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    idx = args["index_dir"]
    # dropping `text` makes the build extract it from `html`
    pages = spark.read.parquet(args["pages_dir"]).drop("text")

    tm: dict = {}
    t0 = time.perf_counter()
    with tr.span("index.builder.build_index"):
        _, out["build_jobs"] = jc.run(
            "bench.build", lambda: build_index(spark, pages, idx, timings=tm)
        )
    out["build_s"] = time.perf_counter() - t0
    out["build_timings"] = tm

    n_files, seg_bytes = _dir_stats(os.path.join(idx, "segments"))
    out["segment_files"] = n_files
    out["segment_bytes"] = seg_bytes
    out["index_bytes"] = seg_bytes + sum(
        _dir_stats(os.path.join(idx, d))[1] for d in ("term_stats", "docmeta")
    )

    if trace:
        _batch(spark, jc, tr, idx, args["batch"], out)
    out["jvm_rss_peak_mb"] = _vm_hwm_mb(jvm_pid)
    spark.stop()
    # the JVM exits once its stdin closes: wait for it, so the serving
    # half never shares the machine with a JVM still shutting down
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    out["spans"] = tr.spans
    out["trace_bookkeeping_s"] = tr.bookkeeping_s
    with open(args["out"], "w") as fh:
        json.dump(out, fh)


def _batch(spark, jc, tr, idx: str, batch: list[dict], out: dict) -> None:
    """Traced runs only: `load_index` + one `wand_topk(...).collect()`
    batch, its rows for the answer check, and its Spark-side counts."""
    from meme_search_engine_spark.index.builder import load_index
    from meme_search_engine_spark.query.wand import wand_topk

    qdf = spark.createDataFrame(
        [(q["query_id"], q["text"], q["k"]) for q in batch],
        "query_id int, text string, k int",
    )

    def run_batch():
        t0 = time.perf_counter()
        with tr.span("index.builder.load_index"):
            seg, ts, man = load_index(spark, idx)
        load_s = time.perf_counter() - t0
        with tr.span("query.wand.wand_topk"):
            df = wand_topk(spark, seg, ts, man, qdf)
            t1 = time.perf_counter()
            with tr.span("query.wand.collect"):
                rows = df.collect()
        return rows, load_s, time.perf_counter() - t1, (seg, ts, man)

    t0 = time.perf_counter()
    with tr.span("bench.batch"):
        (rows, load_s, topk_s, loaded), out["batch_jobs"] = jc.run(
            "bench.batch", run_batch
        )
    out["batch_s"] = time.perf_counter() - t0
    out["load_index_s"] = load_s
    out["topk_s"] = topk_s
    res: dict[int, list] = {}
    for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
        res.setdefault(int(r["query_id"]), []).append(
            [int(r["doc_id"]), int(r["score_fixed"])]
        )
    out["batch_rows"] = {str(k): v for k, v in res.items()}
    _traced_counts(spark, jc, tr, qdf, loaded, out)


def _traced_counts(spark, jc, tr, qdf, loaded, out: dict) -> None:
    """Per-layer counts that cost extra Spark work: only in traced runs."""
    import pyspark.sql.functions as F

    from meme_search_engine_spark.query.dataframe_engine import query_terms_local
    from meme_search_engine_spark.query.wand import plan_candidate_blocks

    out["build_shuffle"] = _shuffle_written(spark, out["build_jobs"]["stages"])
    seg, ts, man = loaded
    t0 = time.perf_counter()
    with tr.span("query.dataframe_engine.query_terms_local"):
        qt = query_terms_local(qdf, 10)
    out["query_terms_s"] = time.perf_counter() - t0
    with tr.span("query.wand.plan_candidate_blocks"):
        exploded, _, _ = plan_candidate_blocks(spark, seg, man, qdf)
        out["candidate_blocks"] = 0 if exploded is None else exploded.count()
    hashes = sorted({int(h) for _, _, _, h in qt})
    n_blocks = {
        int(r["term_hash"]): int(r["n_blocks"])
        for r in ts.filter(F.col("term_hash").isin(hashes))
        .select("term_hash", "n_blocks")
        .collect()
    }
    out["query_term_blocks"] = sum(n_blocks.get(int(h), 0) for _, _, _, h in qt)


if __name__ == "__main__":
    with open(sys.argv[1]) as fh:
        main(json.load(fh))
