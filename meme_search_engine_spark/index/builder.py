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
    ledger/                    checkpoint ledger (parquet, append)
    docmeta/epoch=*/           per-doc url / doc_len / quality channels
    segments/epoch=*/bucket=*/ final block rows (term-hash bucketed)
    segments/epoch=*/_serving.arrow
                               per-epoch serving image (query.serve)
    manifest.json              config + stats + lineage
    partials/epoch=E/part_id=*/
                               stage-1 salted block rows, kept only
                               until epoch E's manifest commit
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import shutil
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
    """Resumable end-to-end index build.  Returns the manifest dict;
    over the input of a committed build it returns that manifest and
    writes nothing.

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
    manifest_path = os.path.join(out_dir, "manifest.json")
    if os.path.exists(manifest_path):
        with open(manifest_path) as fh:
            manifest = json.load(fh)
        if manifest["input_snapshot"] == snapshot:
            return manifest  # committed: its partials are already gone
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
        return _commit(out_dir, cfg, stats, snapshot, epoch=0)

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
    return _commit(out_dir, cfg, stats, snapshot, epoch=0)


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
    its serving image); -> the image write's wall seconds.  Append
    cost is therefore ∝ the DELTA, never the index (the r02
    full-rewrite was the one genuine 100-TB blocker): previous
    epochs' files are untouched, and the read side merges epochs for
    free because blocks of a term are doc-range
    disjoint ACROSS epochs too (append contract: doc_ids strictly
    increase), so the WAND kernel's unsigned-min_doc sort consumes
    multi-epoch blocks as-is.  Within an epoch, block_id / df /
    n_blocks are epoch-local; global df = sum(n_docs) over a term's
    blocks (each doc appears in exactly one block of one epoch), fixed
    up by the readers.  Rerunnable (overwrite of this epoch's dirs
    only) — the reference swaps in only new state on reindex
    (main.rs:1005-1035)."""
    partials = spark.read.parquet(
        os.path.join(out_dir, "partials", f"epoch={epoch}")
    )
    return _write_segments_and_image(
        finalize_segments(partials, cfg),
        os.path.join(out_dir, "segments", f"epoch={epoch}"),
        cfg,
    )


def _write_manifest(
    out_dir: str, cfg: IndexConfig, stats: dict, snapshot: str
) -> dict:
    """manifest.json is the COMMIT MARKER: written last, after every
    derived file (segments with their images, docmeta, stats.json) is
    consistent.  Written to a hidden tmp file and swapped in with
    os.replace, so a concurrent reader sees the old or the new
    manifest, never a torn one."""
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


def _commit(
    out_dir: str, cfg: IndexConfig, stats: dict, snapshot: str, epoch: int
) -> dict:
    """Commit an epoch: write the manifest, then delete the epoch's
    partials.  Once committed, the epoch is served and compacted from
    its segments, and the ledger stays its resume record.  A crash
    before the manifest keeps the partials, so a retry finalizes from
    them again."""
    manifest = _write_manifest(out_dir, cfg, stats, snapshot)
    partials = os.path.join(out_dir, "partials")
    shutil.rmtree(os.path.join(partials, f"epoch={epoch}"), ignore_errors=True)
    with contextlib.suppress(OSError):
        os.rmdir(partials)  # kept while another epoch is uncommitted
    return manifest


_COMPACT_MARKER = "compact.commit"


def _swap_dirs(out_dir: str) -> tuple[str, str, str]:
    """(final, old, tmp) paths of the segments directory a compaction
    swaps."""
    final = os.path.join(out_dir, "segments")
    return final, final + ".old", final + ".tmp"


def _apply_compaction_swap(out_dir: str) -> None:
    """Roll a COMMITTED compaction swap forward — idempotent, so the
    crash-recovery path (_heal_compaction) and the happy path share
    it.  The states a crash can leave are all distinguishable by
    existence of {final, final.old, final.tmp} and each resolves
    toward the new (tmp) contents, which are complete by the time the
    commit marker exists."""
    final, old, tmp = _swap_dirs(out_dir)
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
    the commit marker present the tmp dir is complete — roll the
    swap FORWARD; without it the tmp is a partial pre-commit write —
    roll BACK (delete the tmp, restore any legacy .old).  Runs at
    load/append/compact entry; every step is existence-guarded, so a
    crash during healing heals again."""
    marker = os.path.join(out_dir, _COMPACT_MARKER)
    if os.path.exists(marker):
        _apply_compaction_swap(out_dir)
        os.remove(marker)
        return
    final, old, tmp = _swap_dirs(out_dir)
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
    (full rewrite — the cost appends no longer pay).  It re-finalizes
    the committed segments' block rows: blocks of a term are
    doc-range-disjoint across epochs, so finalize_segments renumbers
    them exactly as it does a cold build's partials.  Restores
    globally-dense block_id / exact stored df; queries are identical
    before and after (pytest).  Crash-safe via a commit marker: the
    new segments are fully written as segments.tmp, `compact.commit`
    is the atomic commit point, and the rename rolls FORWARD from it
    (a crash anywhere is healed by _heal_compaction at the next
    load/append/compact — the rename window the r7 advice flagged is
    closed).  Runs either explicitly or via
    append_to_index(auto_compact_epochs=E) — the reference's
    rebuild->atomic-swap loop (main.rs:1005-1035) folds this rewrite
    into every cycle; here appends are delta-cost and the rewrite is
    amortized by policy instead."""
    _heal_compaction(out_dir)
    with open(os.path.join(out_dir, "manifest.json")) as fh:
        manifest = json.load(fh)
    cfg = IndexConfig(**manifest["config"])
    epochs = index_epochs(out_dir)
    if len(epochs) <= 1:
        return manifest
    final, _, seg_tmp = _swap_dirs(out_dir)
    segments = finalize_segments(spark.read.parquet(final).drop("epoch"), cfg)
    # the serving image lands in segments.tmp/epoch=0 before the commit
    # marker, so the swap carries it
    _write_segments_and_image(segments, os.path.join(seg_tmp, "epoch=0"), cfg)
    # commit point: the tmp dir is complete; from here the swap only
    # rolls forward (see _apply_compaction_swap/_heal_compaction)
    marker = os.path.join(out_dir, _COMPACT_MARKER)
    with open(marker + ".tmp", "w") as fh:
        json.dump({"merged_epochs": epochs}, fh)
    os.replace(marker + ".tmp", marker)
    _apply_compaction_swap(out_dir)
    os.remove(marker)
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
    - the new epoch gets its own ledger rows and a partials dir that
      lives until its manifest commit: appends are themselves
      resumable (a retry before the commit finalizes from the kept
      partials) and never touch previous epochs' files;
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
    manifest = _commit(out_dir, cfg, stats, old.get("input_snapshot"), epoch)
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
    (multi-epoch — see _finalize_epoch).

    term_stats is a lazy per-term aggregate of the segments (df,
    n_blocks, max_block_max, bytes), global across epochs; nothing
    evaluates it unless the caller does.  No query needs it: wand_topk
    keeps an unused term_stats parameter, and both stay only because
    perfbench/spark_phase.py passes it to wand_topk and reads n_blocks
    from it.  They go with the benchmark's next revision."""
    _heal_compaction(out_dir)
    with open(os.path.join(out_dir, "manifest.json")) as fh:
        manifest = json.load(fh)
    manifest["n_epochs"] = max(1, len(index_epochs(out_dir)))
    segments = spark.read.parquet(os.path.join(out_dir, "segments"))
    term_stats = segments.groupBy("term_hash").agg(
        F.sum("n_docs").alias("df"),
        F.count("*").alias("n_blocks"),
        F.max("block_max_tfnorm").alias("max_block_max"),
        F.sum("bytes").alias("bytes"),
    )
    return segments, term_stats, manifest
