"""Build orchestration: resumable, checkpointed index construction.

Mirrors the reference's resume-from-readback pattern
(/root/reference/src/reddit_dump.rs:269-301: scan previous output,
skip everything before the high-water mark) and its
idempotent-upsert sinks (src/main.rs:324-339), Spark-first:

- build partitions are a pure function of doc_id (``part_col``), so a
  resumed run re-selects exactly the missing input slice with a
  pushed-down filter — no re-tokenization of completed ranges;
- partial segments are written with DYNAMIC PARTITION OVERWRITE, so a
  partition that crashed mid-write is rewritten atomically on retry
  (idempotence per (input_snapshot, part_id));
- a ledger parquet records per-partition lineage + metrics
  (FIXTURES.md §5 schema): rows_in, terms_out, bytes_out, status.

Layout of an index directory:
    stats.json                 corpus stats {N, avgdl} + input snapshot
    partials/part_id=*/        stage-1 salted block rows
    ledger/                    checkpoint ledger (parquet, append)
    segments/epoch=*/bucket=*/ final block rows (term-hash bucketed)
    segments/epoch=*/_serving.arrow
                               per-epoch serving image (query.serve)
    term_stats/                per-term df / n_blocks / global bound
    manifest.json              config + stats + lineage
"""

from __future__ import annotations

import hashlib
import json
import os
import time
from dataclasses import asdict

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..query.serve import index_epochs, write_serving_image
from .build import corpus_stats_by_part, docs_from_pages
from .postings import (
    IndexConfig,
    build_partials_from_docs,
    finalize_segments,
    part_col,
    term_stats_from_partials,
)


def input_snapshot(df: DataFrame) -> str:
    """Lineage id: hash of (sorted input file list, expr-id-scrubbed
    logical plan).  The file list alone is the Iceberg-snapshot
    stand-in (files are immutable in the lake layout); the plan
    fingerprint distinguishes DIFFERENT logical inputs over the SAME
    files — e.g. a build over pages and an append over
    pages.filter(doc_id >= N) — so a resume can never silently skip
    work because an unrelated job already 'completed' those files.
    Expr ids (#123L) are session-assigned and scrubbed; the rest of an
    analyzed plan string is a pure function of the query."""
    import re

    files = sorted(df.inputFiles())
    h = hashlib.sha256()
    for f in files:
        h.update(f.encode())
    try:
        plan = df._jdf.queryExecution().analyzed().toString()
        h.update(re.sub(r"#\d+L?", "", plan).encode())
    except Exception:
        if not files:
            return "inmem"
    return h.hexdigest()[:16]


class InjectedFailure(RuntimeError):
    """Raised by the test-only failure hook mid-build."""


def _ledger_path(out_dir: str) -> str:
    return os.path.join(out_dir, "ledger")


def read_ledger(spark: SparkSession, out_dir: str) -> DataFrame | None:
    """None when no ledger exists yet.  Existence-checked (local-fs
    index layout) rather than caught — a caught AnalysisException
    prints a full Java stack trace into otherwise-clean driver logs."""
    path = _ledger_path(out_dir)
    if not os.path.isdir(path) or not any(
        f.endswith(".parquet") for f in os.listdir(path)
    ):
        return None
    return spark.read.parquet(path)


def completed_parts(
    spark: SparkSession, out_dir: str, snapshot: str, epoch: int = 0
) -> set[int]:
    led = read_ledger(spark, out_dir)
    if led is None:
        return set()
    rows = (
        led.filter(
            (F.col("status") == "done")
            & (F.col("input_snapshot") == snapshot)
            & (F.col("epoch") == epoch)
        )
        .select("part_id")
        .collect()
    )
    return {r["part_id"] for r in rows}


LEDGER_SCHEMA = (
    "epoch int, part_id int, input_snapshot string, rows_in long, "
    "terms_out long, bytes_out long, postings_out long, status string"
)


def _append_ledger_rows(out_dir: str, rows: list[tuple]) -> None:
    """Commit ledger rows DRIVER-SIDE with pyarrow (atomic tmp+rename)
    — the rows are a handful of scalars, and the former
    createDataFrame().write round-trip cost a whole Spark job on the
    build's serialized critical path (guide §5: the driver should do
    almost no data work — this is exactly the 'almost').  Schema is
    bit-compatible with the Spark-written files (read_ledger unions
    them transparently)."""
    import uuid

    import pyarrow as pa
    import pyarrow.parquet as pq

    path = _ledger_path(out_dir)
    os.makedirs(path, exist_ok=True)
    cols = list(zip(*rows))
    table = pa.table(
        {
            "epoch": pa.array(cols[0], pa.int32()),
            "part_id": pa.array(cols[1], pa.int32()),
            "input_snapshot": pa.array(cols[2], pa.string()),
            "rows_in": pa.array(cols[3], pa.int64()),
            "terms_out": pa.array(cols[4], pa.int64()),
            "bytes_out": pa.array(cols[5], pa.int64()),
            "postings_out": pa.array(cols[6], pa.int64()),
            "status": pa.array(cols[7], pa.string()),
        }
    )
    name = f"part-{uuid.uuid4().hex}"
    # dot-prefixed tmp: hidden from Spark's file index, so a crash
    # mid-write can never leave a half-written file a reader would open
    tmp = os.path.join(path, "." + name + ".tmp")
    pq.write_table(table, tmp)
    os.rename(tmp, os.path.join(path, name + ".parquet"))


def _write_partials(
    docs_b, out_dir: str, cfg: IndexConfig, avgdl: float, epoch: int
) -> None:
    """Stage-1 partials write for one checkpoint batch (dynamic
    partition overwrite -> idempotent per part)."""
    partials_dir = os.path.join(out_dir, "partials", f"epoch={epoch}")
    partials_b = build_partials_from_docs(docs_b, avgdl, cfg)
    (
        partials_b.write.partitionBy("part_id")
        .option("partitionOverwriteMode", "dynamic")
        .mode("overwrite")
        .parquet(partials_dir)
    )


def _ledger_commit(
    spark: SparkSession,
    docs_b,
    out_dir: str,
    cfg: IndexConfig,
    snapshot: str,
    batch: list[int],
    epoch: int,
    rows_in_all: dict[int, int] | None = None,
) -> None:
    """Commit the per-partition ledger rows with metrics aggregated
    from the just-written partials (column-pruned metadata scan)."""
    partials_dir = os.path.join(out_dir, "partials", f"epoch={epoch}")
    written = spark.read.parquet(partials_dir).filter(F.col("part_id").isin(batch))
    metrics = {
        r["part_id"]: r
        for r in written.groupBy("part_id")
        .agg(
            F.sum("n_docs").alias("postings_out"),
            F.count_distinct("term_hash").alias("terms_out"),
            F.sum("bytes").alias("bytes_out"),
        )
        .collect()
    }
    if rows_in_all is not None:
        # precomputed in the stats pass — no extra job on the critical path
        rows_in = {p: rows_in_all.get(p, 0) for p in batch}
    else:
        rows_in = {
            r["part_id"]: r["n"]
            for r in docs_b.groupBy(
                part_col(F.col("doc_id"), cfg).alias("part_id")
            )
            .agg(F.count("*").alias("n"))
            .collect()
        }
    ledger_rows = [
        (
            epoch,
            int(p),
            snapshot,
            int(rows_in.get(p, 0)),
            int(metrics[p]["terms_out"]) if p in metrics else 0,
            int(metrics[p]["bytes_out"]) if p in metrics else 0,
            int(metrics[p]["postings_out"]) if p in metrics else 0,
            "done",
        )
        for p in batch
    ]
    _append_ledger_rows(out_dir, ledger_rows)


def _write_partials_and_ledger(
    spark: SparkSession,
    docs_b,
    out_dir: str,
    cfg: IndexConfig,
    avgdl: float,
    snapshot: str,
    batch: list[int],
    epoch: int,
    rows_in_all: dict[int, int] | None = None,
) -> None:
    """One checkpoint batch: partials write + ledger commit, serial."""
    _write_partials(docs_b, out_dir, cfg, avgdl, epoch)
    _ledger_commit(
        spark, docs_b, out_dir, cfg, snapshot, batch, epoch, rows_in_all
    )


def _input_bytes(pages: DataFrame) -> int | None:
    total = 0
    files = pages.inputFiles()
    if not files:
        return None
    for f in files:
        p = f.removeprefix("file:")
        try:
            total += os.path.getsize(p)
        except OSError:
            return None
    return total


# cache tokenized docs when the input is small enough that one executor
# tier holds it; above this, accept re-tokenizing per pass (at 10^12
# docs caching the token arrays would be petabytes)
DOCS_CACHE_MAX_BYTES = 4 << 30


def _cache_budget_bytes(spark: SparkSession) -> int:
    """Cap the docs cache at ~1/6 of the executor heap: tokenized rows
    inflate several x over their parquet bytes, and a cache that starves
    the sort's execution memory turns into UNABLE_TO_ACQUIRE_MEMORY
    mid-build (seen at 1.2M docs on an 8g local heap) — strictly worse
    than re-tokenizing."""
    import re

    mem = spark.conf.get("spark.driver.memory", "8g")
    m = re.fullmatch(r"(\d+)([kmgt]?)b?", mem.strip().lower())
    if not m:
        return DOCS_CACHE_MAX_BYTES
    mult = {"": 1, "k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    heap = int(m.group(1)) * mult[m.group(2)]
    return min(DOCS_CACHE_MAX_BYTES, heap // 6)


def _tokenized_docs(spark: SparkSession, pages: DataFrame) -> DataFrame:
    """The docs every build pass reads, persisted when the input is
    small enough (see _cache_budget_bytes) so the corpus is tokenized
    once, not once per pass.  Callers unpersist when done; that is a
    no-op when nothing was cached.

    The build never reads `text` after tokenization (docmeta stores
    url/doc_len/ratios, postings only tokens) — project it out before
    the persist so the cache holds token arrays, not a second copy of
    every document body (guide §2.3: narrow what opaque stages carry).
    """
    docs = docs_from_pages(pages).select("doc_id", "url", "tokens", "doc_len")
    size = _input_bytes(pages)
    if size is not None and size <= _cache_budget_bytes(spark):
        docs = docs.persist()
    return docs


def build_index(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    cfg: IndexConfig = IndexConfig(),
    parts_per_batch: int | None = None,
    fail_after_batches: int | None = None,
    timings: dict | None = None,
) -> dict:
    """Resumable end-to-end index build.  Returns the manifest dict.

    timings: pass a dict to collect per-phase wall seconds
    (stats/partials/ledger/docmeta/finalize, and image: the serving
    image write, which is part of finalize) — scaling-protocol
    instrumentation.

    parts_per_batch: checkpoint granularity — how many build partitions
    one Spark job covers before the ledger commits (None = all pending
    in a single job; tests use 1 to exercise kill/resume).
    fail_after_batches: test hook — raise after N committed batches.
    """
    os.makedirs(out_dir, exist_ok=True)
    t = timings if timings is not None else {}
    t0 = time.time()
    snapshot = input_snapshot(pages)
    docs = _tokenized_docs(spark, pages)

    # ---- pass 0: corpus stats + per-part rows (skipped on resume) ----
    stats_path = os.path.join(out_dir, "stats.json")
    rows_in_all: dict[int, int] | None = None
    if os.path.exists(stats_path):
        with open(stats_path) as fh:
            stats = json.load(fh)
        if stats.get("input_snapshot") != snapshot:
            raise ValueError(
                f"index at {out_dir} was built from snapshot "
                f"{stats.get('input_snapshot')}, input is {snapshot}"
            )
    else:
        stats, rows_in_all = corpus_stats_by_part(docs, cfg)
        stats["input_snapshot"] = snapshot
        with open(stats_path, "w") as fh:
            json.dump(stats, fh)
    t["stats"] = round(time.time() - t0, 3)
    t0 = time.time()

    # ---- stage 1: salted partials, per checkpoint batch --------------
    done = completed_parts(spark, out_dir, snapshot)
    pending = [p for p in range(cfg.n_parts) if p not in done]
    if parts_per_batch is None:
        parts_per_batch = max(len(pending), 1)
    single_batch = (
        len(pending) > 0
        and parts_per_batch >= len(pending)
        and fail_after_batches is None
    )

    if single_batch:
        # Fast path (the common cold build): ONE checkpoint batch, so
        # nothing orders the ledger metrics, the docmeta sidecar and
        # the finalize among themselves — each is idempotent
        # (overwrite / append-once) and a crash anywhere retries
        # cleanly because the manifest commit marker is still written
        # last.  Overlap the three (guide §2.6: back-fill the tail of
        # each small job with the next one's tasks).  The big partials
        # SORT stays exclusive — the r6 A/B (600k docs, local[8])
        # showed overlapping THAT with docmeta halves build throughput;
        # these tail jobs are metadata-sized by comparison (re-measured
        # r8: 100k-doc build unchanged-to-better with the overlap).
        batch = pending
        docs_b = (
            docs
            if len(batch) == cfg.n_parts
            else docs.filter(part_col(F.col("doc_id"), cfg).isin(batch))
        )
        _write_partials(docs_b, out_dir, cfg, stats["avgdl"], epoch=0)
        t["partials"] = round(time.time() - t0, 3)
        from concurrent.futures import ThreadPoolExecutor

        tail_t: dict[str, float] = {}

        def _timed(name, fn):
            s = time.time()
            out = fn()
            tail_t[name] = round(time.time() - s, 3)
            return out

        with ThreadPoolExecutor(3) as ex:
            futs = [
                ex.submit(
                    _timed,
                    "ledger",
                    lambda: _ledger_commit(
                        spark, docs_b, out_dir, cfg, snapshot, batch,
                        epoch=0, rows_in_all=rows_in_all,
                    ),
                ),
                ex.submit(
                    _timed,
                    "docmeta",
                    lambda: _write_docmeta(docs, out_dir, epoch=0),
                ),
                ex.submit(
                    _timed,
                    "finalize",
                    lambda: _finalize_epoch(spark, out_dir, cfg, epoch=0),
                ),
            ]
            for f in futs:
                f.result()
        docs.unpersist()
        # per-phase walls are CONCURRENT here (their sum exceeds the
        # tail's wall) — keys kept for the scaling-protocol consumers
        t["docmeta"] = tail_t["docmeta"]
        t["finalize"] = tail_t["finalize"]
        t["image"] = futs[2].result()
        t["ledger"] = tail_t["ledger"]
        return _write_manifest(out_dir, cfg, stats, snapshot)

    batches_done = 0
    while pending:
        batch = pending[:parts_per_batch]
        pending = pending[parts_per_batch:]
        # doc_id predicate commutes below the tokenize projection, so on
        # the uncached path this prunes the SCAN to the batch's slice
        docs_b = docs.filter(part_col(F.col("doc_id"), cfg).isin(batch))
        _write_partials_and_ledger(
            spark, docs_b, out_dir, cfg, stats["avgdl"], snapshot, batch,
            epoch=0, rows_in_all=rows_in_all,
        )
        batches_done += 1
        if fail_after_batches is not None and batches_done >= fail_after_batches:
            raise InjectedFailure(f"injected failure after {batches_done} batches")

    # docmeta stays SERIAL, after the partials stage: an A/B at 600k
    # docs / local[8] showed a concurrent docmeta job competing with
    # the partials sort for execution memory and HALVING build
    # throughput (5,108 -> 2,321 docs/s) — the ~6% Amdahl tail it
    # would hide is not worth a 2x stage regression on a shared-memory
    # executor.  On a real cluster with separate executors the overlap
    # may pay; it must be re-measured there, not assumed.
    t["partials"] = round(time.time() - t0, 3)
    t0 = time.time()
    _write_docmeta(docs, out_dir, epoch=0)
    docs.unpersist()
    t["docmeta"] = round(time.time() - t0, 3)
    t0 = time.time()

    # ---- stage 2: concat-merge finalize ------------------------------
    t["image"] = _finalize_epoch(spark, out_dir, cfg, epoch=0)
    t["finalize"] = round(time.time() - t0, 3)
    return _write_manifest(out_dir, cfg, stats, snapshot)


def _write_docmeta(docs: DataFrame, out_dir: str, epoch: int) -> None:
    """Sidecar (doc_id, url, doc_len, quality channels) table — what
    lets query results surface URLs (the reference returns
    filenames/urls, not raw ids: query_disk_index.rs:531-541) and what
    feeds the quality-prior ranking channel at serve time (the
    reference's per-item score descriptors, query_disk_index.rs:
    135-142).  Channels are the ROUNDED ratios the gate oracle uses,
    computed from the already-materialized token arrays (cheap vs
    tokenize).  Epoch-append like the partials."""
    from ..ops.textstats import STOPWORDS

    stop = F.array(*[F.lit(w) for w in STOPWORDS["en"]])
    denom = F.greatest(F.col("doc_len"), F.lit(1))
    distinct_ratio = F.round(F.size(F.array_distinct("tokens")) / denom, 4)
    stopword_ratio = F.round(
        F.size(F.filter("tokens", lambda t: F.array_contains(stop, t))) / denom,
        4,
    )
    (
        docs.select(
            "doc_id",
            "url",
            "doc_len",
            distinct_ratio.alias("distinct_ratio"),
            stopword_ratio.alias("stopword_ratio"),
        )
        .write.mode("overwrite")
        .parquet(os.path.join(out_dir, "docmeta", f"epoch={epoch}"))
    )


def _write_segments_and_image(
    segments: DataFrame, seg_dir: str, cfg: IndexConfig
) -> float:
    """Write one epoch's segments, then derive its serving image from
    them; -> the image write's wall seconds."""
    # finalize_segments already bucket-partitioned AND left rows
    # term_hash-sorted (its window sort), so this write adds no
    # exchange and parquet row-group min/max stats on term_hash are
    # tight — the Spark scan's PushedFilters skip whole row groups
    segments.write.partitionBy("bucket").mode("overwrite").parquet(seg_dir)
    t0 = time.time()
    write_serving_image(seg_dir, cfg.n_buckets)
    return round(time.time() - t0, 3)


def _finalize_epoch(
    spark: SparkSession, out_dir: str, cfg: IndexConfig, epoch: int
) -> float:
    """Finalize ONE epoch: partials/epoch=E -> segments/epoch=E (with
    its serving image) + term_stats/epoch=E; -> the image write's wall
    seconds.  Append cost is therefore ∝ the DELTA, never
    the index (the r02 full-rewrite was the one genuine 100-TB
    blocker): previous epochs' files are untouched, and the read side
    merges epochs for free because blocks of a term are doc-range
    disjoint ACROSS epochs too (append contract: doc_ids strictly
    increase), so the WAND kernel's unsigned-min_doc sort consumes
    multi-epoch blocks as-is.  Within an epoch, block_id / df /
    n_blocks are epoch-local; global df = sum(n_docs) over a term's
    blocks (each doc appears in exactly one block of one epoch), fixed
    up by the readers.  Rerunnable (overwrite of this epoch's dirs
    only) — the reference swaps in only new state on reindex
    (main.rs:1005-1035)."""
    from concurrent.futures import ThreadPoolExecutor

    partials = spark.read.parquet(
        os.path.join(out_dir, "partials", f"epoch={epoch}")
    )
    segments = finalize_segments(partials, cfg)
    seg_dir = os.path.join(out_dir, "segments", f"epoch={epoch}")

    def write_term_stats():
        # aggregated from partials, NOT a re-read of the written
        # segments: identical values (same block rows), but the job is
        # independent of the segments write, so both run concurrently
        # and the finalize wall-clock is max(), not sum() — this
        # sequential write+re-read was the finalize phase's Amdahl
        # tail in the scaling protocol (1.28x at 2->8 cores)
        term_stats_from_partials(partials).write.mode("overwrite").parquet(
            os.path.join(out_dir, "term_stats", f"epoch={epoch}")
        )

    with ThreadPoolExecutor(2) as ex:
        futs = [
            ex.submit(_write_segments_and_image, segments, seg_dir, cfg),
            ex.submit(write_term_stats),
        ]
        for f in futs:
            f.result()
    return futs[0].result()


def _write_manifest(
    out_dir: str, cfg: IndexConfig, stats: dict, snapshot: str
) -> dict:
    """manifest.json is the COMMIT MARKER: written last, after every
    derived dir (segments/term_stats/stats.json) is consistent.  Written
    to a hidden tmp file and swapped in with os.replace, so a concurrent
    reader sees the old or the new manifest, never a torn one."""
    import uuid

    manifest = {
        "format_version": 2,
        "config": asdict(cfg),
        "stats": stats,
        "input_snapshot": snapshot,
        "n_parts": cfg.n_parts,
    }
    tmp = os.path.join(out_dir, f".manifest.json.{uuid.uuid4().hex}.tmp")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh, indent=1)
    os.replace(tmp, os.path.join(out_dir, "manifest.json"))
    return manifest


_COMPACT_MARKER = "compact.commit"
_SWAP_NAMES = ("segments", "term_stats")


def _apply_compaction_swap(out_dir: str) -> None:
    """Roll a COMMITTED compaction swap forward — idempotent, so the
    crash-recovery path (_heal_compaction) and the happy path share
    it.  Per dir the states a crash can leave are all distinguishable
    by existence of {final, final.old, final.tmp} and each resolves
    toward the new (tmp) contents, which are complete by the time the
    commit marker exists."""
    import shutil

    for name in _SWAP_NAMES:
        final = os.path.join(out_dir, name)
        old = final + ".old"
        tmp = final + ".tmp"
        if os.path.isdir(tmp):
            if os.path.isdir(final) and os.path.isdir(old):
                raise RuntimeError(
                    f"compaction swap: {final}, {old} and {tmp} all "
                    "exist — not a state this protocol produces; "
                    "refusing to guess"
                )
            if os.path.isdir(final):
                os.rename(final, old)
            os.rename(tmp, final)
        if os.path.isdir(old):
            shutil.rmtree(old)


def _heal_compaction(out_dir: str) -> None:
    """Repair any interrupted compact_index swap (ADVICE r07): with
    the commit marker present the tmp dirs are complete — roll the
    swap FORWARD; without it the tmps are a partial pre-commit write —
    roll BACK (delete tmps, restore any legacy .old).  Runs at
    load/append/compact entry; every step is existence-guarded, so a
    crash during healing heals again."""
    import shutil

    marker = os.path.join(out_dir, _COMPACT_MARKER)
    if os.path.exists(marker):
        _apply_compaction_swap(out_dir)
        os.remove(marker)
        return
    for name in _SWAP_NAMES:
        final = os.path.join(out_dir, name)
        old = final + ".old"
        tmp = final + ".tmp"
        if os.path.isdir(old):
            # legacy (pre-marker) crash window: old exists only after
            # final was moved aside — restore or drop it
            if not os.path.isdir(final):
                os.rename(old, final)
            else:
                shutil.rmtree(old)
        if os.path.isdir(tmp):
            shutil.rmtree(tmp)


def compact_index(spark: SparkSession, out_dir: str) -> dict:
    """Maintenance op: merge ALL epochs back into a single epoch 0
    (full rewrite — the cost appends no longer pay).  Restores
    globally-dense block_id / exact stored df; queries are identical
    before and after (pytest).  Crash-safe via a commit marker: the
    new dirs are fully written as .tmp, `compact.commit` is the
    atomic commit point, and the per-dir renames roll FORWARD from it
    (a crash anywhere is healed by _heal_compaction at the next
    load/append/compact — the rename window the r7 advice flagged is
    closed).  Runs either explicitly or via
    append_to_index(auto_compact_epochs=E) — the reference's
    rebuild->atomic-swap loop (main.rs:1005-1035) folds this rewrite
    into every cycle; here appends are delta-cost and the rewrite is
    amortized by policy instead."""
    import shutil

    _heal_compaction(out_dir)
    with open(os.path.join(out_dir, "manifest.json")) as fh:
        manifest = json.load(fh)
    cfg = IndexConfig(**manifest["config"])
    epochs = index_epochs(out_dir)
    if len(epochs) <= 1:
        return manifest
    partials = spark.read.parquet(os.path.join(out_dir, "partials"))
    segments = finalize_segments(partials.drop("epoch"), cfg)
    seg_tmp = os.path.join(out_dir, "segments.tmp")
    ts_tmp = os.path.join(out_dir, "term_stats.tmp")
    for p in (seg_tmp, ts_tmp):
        if os.path.isdir(p):
            shutil.rmtree(p)
    # same independence argument as _finalize_epoch: both rewrites
    # aggregate the partials directly, so they run CONCURRENTLY and the
    # compaction wall is max(), not sum()
    from concurrent.futures import ThreadPoolExecutor

    def _write_ts():
        term_stats_from_partials(
            partials.drop("epoch")
        ).write.mode("overwrite").parquet(os.path.join(ts_tmp, "epoch=0"))

    # the serving image lands in segments.tmp/epoch=0 before the commit
    # marker, so the swap carries it
    seg0 = os.path.join(seg_tmp, "epoch=0")
    with ThreadPoolExecutor(2) as ex:
        for f in [
            ex.submit(_write_segments_and_image, segments, seg0, cfg),
            ex.submit(_write_ts),
        ]:
            f.result()
    # commit point: both tmp dirs are complete; from here the swap only
    # rolls forward (see _apply_compaction_swap/_heal_compaction)
    marker = os.path.join(out_dir, _COMPACT_MARKER)
    with open(marker + ".tmp", "w") as fh:
        json.dump({"merged_epochs": epochs}, fh)
    os.replace(marker + ".tmp", marker)
    _apply_compaction_swap(out_dir)
    os.remove(marker)
    # partials stay as-is: the union of ALL partial epochs remains the
    # durable source for any future compaction (ledger keys unchanged).
    # Record the rewrite in the ledger: status='compacted' never
    # matches completed_parts (filters status=='done'), part_id=-1
    # never collides with a real part, and epoch=max merged epoch
    # leaves the next append's max+1 allocation unchanged.
    _append_ledger_rows(
        out_dir,
        [(int(epochs[-1]), -1, "__compaction__", 0, 0, 0, 0, "compacted")],
    )
    return manifest


def append_to_index(
    spark: SparkSession,
    new_pages: DataFrame,
    out_dir: str,
    fail_before_finalize: bool = False,
    auto_compact_epochs: int | None = None,
) -> dict:
    """Incremental index append — the reference's online reindex loop
    (ingest -> rebuild -> atomic swap, /root/reference/src/main.rs:
    1005-1035) as a batch epoch:

    - contract: new doc_ids are strictly greater than the indexed max
      (monotonic ingest — warc_ts-ordered crawls satisfy this), so new
      blocks extend each term's doc-range order and the finalize stays
      a pure concat-merge;
    - corpus stats merge EXACTLY via integer total_tokens, so an
      appended index scores bit-identically to a cold build of the
      union (pytest-verified);
    - WAND block bounds are avgdl-independent ((max_tf, min_dl) per
      block), so older epochs' pruning metadata stays valid under the
      shifted avgdl;
    - the new epoch gets its own partials dir + ledger rows: appends
      are themselves resumable and never touch previous epochs' files;
    - auto_compact_epochs=E bounds the multi-epoch WAND df-fixup
      penalty (+18-27% measured, BENCH/BASELINE.md §multi-epoch) in a
      long-running deployment: once the committed index exceeds E
      segment epochs, compact_index() folds them back to one.  The
      compaction runs AFTER the manifest commit; a crash BEFORE its
      commit marker leaves the multi-epoch index untouched (partial
      .tmp dirs are rolled back), a crash after it rolls forward — in
      both cases _heal_compaction at the next load/append restores a
      consistent index and the next append retries the fold.
    """
    _heal_compaction(out_dir)
    with open(os.path.join(out_dir, "manifest.json")) as fh:
        manifest = json.load(fh)
    cfg = IndexConfig(**manifest["config"])
    old = manifest["stats"]

    snapshot = input_snapshot(new_pages)
    if snapshot in old.get("appended_snapshots", []):
        # the manifest is written LAST: its appended_snapshots listing
        # this snapshot means the append fully committed — an
        # orchestrator retry of a succeeded append is a no-op, not an
        # "append contract violated" dead end (ADVICE r02).
        return manifest
    led = read_ledger(spark, out_dir)
    epoch = 0
    if led is not None:
        # crash-retry idempotence: if THIS snapshot already has ledger
        # rows (a previous append died between its ledger commit and
        # _finalize/stats update), REUSE that epoch — completed_parts +
        # dynamic partition overwrite then make the retry a no-op per
        # part.  Allocating max+1 here would leave the crashed epoch's
        # partials on disk and double-count the appended docs at merge.
        prev = (
            led.filter(F.col("input_snapshot") == snapshot)
            .agg(F.max("epoch"))
            .collect()[0][0]
        )
        if prev is not None:
            epoch = int(prev)
        else:
            epoch = int(led.agg(F.max("epoch")).collect()[0][0]) + 1

    docs = _tokenized_docs(spark, new_pages)
    new_stats, rows_in_all = corpus_stats_by_part(docs, cfg)
    if new_stats["N"] == 0:
        docs.unpersist()
        return manifest
    old_max = old.get("max_doc_id")
    if old_max is not None and new_stats["max_doc_id"] is not None:
        new_min = new_stats["min_doc_id"]  # from the same stats pass
        if new_min <= old_max:
            raise ValueError(
                f"append contract violated: new min doc_id {new_min} <= "
                f"indexed max {old_max}"
            )

    total = int(old.get("total_tokens", round(old["avgdl"] * old["N"]))) + int(
        new_stats["total_tokens"]
    )
    n = old["N"] + new_stats["N"]
    old_min = old.get("min_doc_id")
    new_min_id = new_stats.get("min_doc_id")
    merged_min = (
        min(x for x in (old_min, new_min_id) if x is not None)
        if (old_min is not None or new_min_id is not None)
        else None
    )
    stats = {
        "N": n,
        "avgdl": total / n,
        "total_tokens": total,
        "max_doc_id": new_stats["max_doc_id"],
        "min_doc_id": merged_min,
        "input_snapshot": old.get("input_snapshot"),
        "appended_snapshots": old.get("appended_snapshots", []) + [snapshot],
    }

    done = completed_parts(spark, out_dir, snapshot, epoch=epoch)
    pending = [p for p in range(cfg.n_parts) if p not in done]
    if pending:
        docs_b = docs.filter(part_col(F.col("doc_id"), cfg).isin(pending))
        _write_partials_and_ledger(
            spark, docs_b, out_dir, cfg, stats["avgdl"], snapshot, pending,
            epoch, rows_in_all=rows_in_all,
        )
    _write_docmeta(docs, out_dir, epoch)  # serial on purpose, see build_index
    docs.unpersist()
    if fail_before_finalize:
        raise InjectedFailure("injected append failure before finalize")

    # delta-cost finalize: ONLY the new epoch's dirs are written; then
    # stats.json, then the manifest commit marker (a crash anywhere in
    # this tail leaves every prior epoch intact and the retry path
    # above/idempotent overwrites converge)
    _finalize_epoch(spark, out_dir, cfg, epoch)
    with open(os.path.join(out_dir, "stats.json"), "w") as fh:
        json.dump(stats, fh)
    manifest = _write_manifest(out_dir, cfg, stats, old.get("input_snapshot"))
    if (
        auto_compact_epochs is not None
        and len(index_epochs(out_dir)) > auto_compact_epochs
    ):
        manifest = compact_index(spark, out_dir)
    return manifest


def load_index(spark: SparkSession, out_dir: str):
    """-> (segments_df, term_stats_df, manifest).

    segments span epoch=*/bucket=* hive partitions; manifest carries
    n_epochs so query planners know whether stored per-block df is
    already global (single epoch) or needs the sum(n_docs) fixup
    (multi-epoch — see _finalize_epoch).  term_stats is aggregated to
    global per-term stats across epochs (df/n_blocks/bytes additive,
    bound is a max) — lazily, only if the caller evaluates it."""
    _heal_compaction(out_dir)
    with open(os.path.join(out_dir, "manifest.json")) as fh:
        manifest = json.load(fh)
    manifest["n_epochs"] = max(1, len(index_epochs(out_dir)))
    segments = spark.read.parquet(os.path.join(out_dir, "segments"))
    term_stats = spark.read.parquet(os.path.join(out_dir, "term_stats"))
    if "epoch" in term_stats.columns:
        term_stats = term_stats.groupBy("term_hash").agg(
            F.sum("df").alias("df"),
            F.sum("n_blocks").alias("n_blocks"),
            F.max("max_block_max").alias("max_block_max"),
            F.sum("bytes").alias("bytes"),
        )
    return segments, term_stats, manifest
