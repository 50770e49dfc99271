"""Block-max WAND top-k over posting segments — distributed by DATA,
not by query.

The reference's two-phase approximate-then-exact query engine
(PQ upper bounds for the frontier, exact fp16 dot for visited —
/root/reference/src/query_disk_index.rs:169-207) re-expressed for BM25:
per-block score upper bounds (idf·(k1+1)·bound_tfnorm) prune whole
blocks below the running top-k threshold θ; surviving blocks are
decoded and scored exactly in fixed-point.

Correctness argument (rank-identity with the exhaustive engine):
- θ is seeded from exact partial sums (any partial sum of a doc's
  contributions lower-bounds its total), so θ ≤ true kth score;
- a block is pruned only if ub(block) + Σ_{other terms} max-overlapping
  -block-ub < θ — an upper bound on ANY doc in the block, so pruned
  blocks contain no true top-k member;
- every block containing a true top-k doc d has bound ≥ total(d) ≥ θ
  and survives, so true top-k docs are scored EXACTLY; all other docs'
  partial sums stay < θ and cannot displace them.
Property-tested against the exhaustive engine in tests/test_wand.py.

Distribution shape (the r01 fix — the old plan shipped ALL blocks of a
query into ONE `groupBy(query_id)` task, a funnel at head-term scale):

1. segment scan pruned to the query terms' hash buckets (partition
   pruning) + term_hash pushdown — unchanged;
2. block upper bounds as JVM expressions; a driver-side θ seed from one
   block per (query, term) (tiny broadcast-pruned read) enables a SOUND
   DataFrame pre-prune: drop every block with
   ub(block) + Σ_{other terms} max-ub < θ - slack BEFORE the shuffle;
3. surviving blocks are salted into ~n_ranges CONTIGUOUS unsigned
   doc-id ranges (a block overlapping R ranges is sent to all R — block
   spans are bounded by the build's salt ranges, so duplication is
   ~1 at scale); the scoring group is (query_id, range_id), whose input
   is bounded by the range width regardless of term df — the same
   skew-bound argument as the build's salted posting shuffle;
4. each group runs the full block-max WAND kernel on its doc window
   (locally-seeded θ, floored by the driver seed) and emits a LOCAL
   exact top-k — sound because the kth-largest within a subset
   lower-bounds nothing it reports and every doc's contributions are
   wholly inside one range;
5. global merge = per-query window over ≤ k·n_ranges rows (tiny).

Reference analogue of the fan-out/merge: sharded query dispatch +
driver-side heap merge, query_disk_index.rs:447-450,486-511.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession, Window

from ..common.bm25 import FIXED_POINT_SCALE, contribs_fixed
from ..common.codecs import decode_blocks_batch, decode_postings_block
from .dataframe_engine import query_terms

RESULT_SCHEMA = (
    "query_id int, rank int, doc_id long, score_fixed long, score double"
)

_SIGN = -(2**63)
# fixed-point slack absorbing JVM-vs-numpy 1-ulp drift in the
# DataFrame-side bound (pruning stays sound: we only keep MORE blocks)
_UB_SLACK = 16


def bm25_idf_py(df_t: int, n_docs: int) -> float:
    return math.log((n_docs - df_t + 0.5) / (df_t + 0.5) + 1.0)


def score_query_blocks(
    pdf: pd.DataFrame,
    n_docs: int,
    avgdl: float,
    k1: float,
    b: float,
    doc_shift: int | None = None,
    range_id: int | None = None,
    theta0: int = 0,
) -> pd.DataFrame:
    """Block-max WAND scoring of ONE query's candidate blocks.

    pdf columns: query_id, k, term_hash, df, block_id, n_docs,
    min_doc_id, max_doc_id, doc_ids, tfs, dls, block_max_tfnorm.
    Called only by the distributed grouped-map path (wand_topk); the
    driver-local serving path (query.serve.LocalSearcher) does not
    prune blocks, it scores every posting of its query terms from its
    decoded term cache.

    doc_shift/range_id: when set, only postings whose unsigned doc_id
    satisfies (udoc >> doc_shift) == range_id are scored — the doc-range
    window of one distributed scoring group.  theta0: externally-seeded
    top-k threshold floor (a valid lower bound of the GLOBAL kth score,
    hence also of any subset's kth reported score's requirement)."""
    two32 = float(FIXED_POINT_SCALE)

    def decode_score_terms(block_sel: list[tuple[int, int]]):
        """[(t_i, b_i)] -> (doc_ids, fixed_contribs) concatenated, one
        batched decode per term (see decode_blocks_batch) with the
        doc-range mask applied post-decode."""
        by_term: dict[int, list[int]] = {}
        for t_i, b_i in block_sel:
            by_term.setdefault(t_i, []).append(b_i)
        ids_parts, c_parts = [], []
        for t_i, b_list in by_term.items():
            t = terms[t_i]
            d, tfs, dls = decode_blocks_batch(t, sorted(b_list))
            if doc_shift is not None:
                m = (d.astype(np.uint64) >> np.uint64(doc_shift)) == np.uint64(
                    range_id
                )
                if not m.all():
                    d, tfs, dls = d[m], tfs[m], dls[m]
            ids_parts.append(d)
            c_parts.append(contribs_fixed(t["idf"], tfs, dls, k1, b, avgdl))
        return np.concatenate(ids_parts), np.concatenate(c_parts)

    query_id = int(pdf["query_id"].iloc[0])
    k = int(pdf["k"].iloc[0])
    # per-term block tables, ordered by unsigned min_doc_id
    # (range-disjoint ascending — block_id would also work post-
    # finalize, but min_doc order is what the invariant actually is)
    pdf = pdf.assign(
        _umin=pdf["min_doc_id"].to_numpy(np.int64).astype(np.uint64)
    )
    terms = []
    for th, g in pdf.groupby("term_hash"):
        g = g.sort_values("_umin")
        df_t = int(g["df"].iloc[0])
        idf = bm25_idf_py(df_t, n_docs)
        # dynamic block bound from (max_tf, min_dl): valid for the
        # CURRENT avgdl even when blocks were encoded under an older
        # one (incremental appends shift avgdl); tf_norm is monotone
        # increasing in tf, decreasing in dl
        mtf = g["max_tf"].to_numpy(np.float64)
        mdl = g["min_dl"].to_numpy(np.float64)
        bound_tfnorm = mtf / (mtf + k1 * ((1.0 - b) + (b * mdl) / avgdl))
        ub = idf * (k1 + 1.0) * bound_tfnorm
        ub_fixed = np.floor(ub * two32 + 0.5).astype(np.int64)
        terms.append(
            {
                "idf": idf,
                "lo": g["min_doc_id"].to_numpy(np.int64).astype(np.uint64),
                "hi": g["max_doc_id"].to_numpy(np.int64).astype(np.uint64),
                "ub": ub_fixed,
                "n": g["n_docs"].to_numpy(np.int64),
                "doc_ids": g["doc_ids"].tolist(),
                "tfs": g["tfs"].tolist(),
                "dls": g["dls"].tolist(),
            }
        )

    # ---- phase 1: θ seed from the highest-ub blocks (exact partial
    # sums are valid lower bounds); floored by the external seed.
    # Vectorized: argsort over the concatenated per-term ub arrays
    # (stable, so identical seed membership to the old Python tuple
    # sort), cut where the cumulative doc count first covers 2k.
    ub_all = np.concatenate([t["ub"] for t in terms])
    n_all = np.concatenate([t["n"] for t in terms])
    t_all = np.repeat(
        np.arange(len(terms)), [len(t["ub"]) for t in terms]
    )
    b_all = np.concatenate(
        [np.arange(len(t["ub"]), dtype=np.int64) for t in terms]
    )
    order_ub = np.argsort(-ub_all, kind="stable")
    covered = np.cumsum(n_all[order_ub])
    m = min(int(np.searchsorted(covered, 2 * k, side="left")) + 1, len(order_ub))
    seed = list(zip(t_all[order_ub[:m]].tolist(), b_all[order_ub[:m]].tolist()))
    theta = int(theta0)
    if seed:
        ids, cs = decode_score_terms(seed)
        uniq, inv = np.unique(ids, return_inverse=True)
        sums = np.zeros(len(uniq), dtype=np.int64)
        np.add.at(sums, inv, cs)
        if len(sums) >= k:
            theta = max(theta, int(np.partition(sums, -k)[-k]))

    # ---- phase 2: block-max pruning with doc-range-aware bounds
    survivors: list[tuple[int, int]] = []
    for t_i, t in enumerate(terms):
        bound = t["ub"].astype(np.int64).copy()
        for o_i, o in enumerate(terms):
            if o_i == t_i:
                continue
            # o's blocks overlapping [lo, hi] of each block of t
            s = np.searchsorted(o["hi"], t["lo"], side="left")
            e = np.searchsorted(o["lo"], t["hi"], side="right")
            add = np.zeros(len(bound), dtype=np.int64)
            for j in range(len(bound)):
                if s[j] < e[j]:
                    add[j] = int(o["ub"][s[j] : e[j]].max())
            bound += add
        for b_i in np.flatnonzero(bound >= theta):
            survivors.append((t_i, int(b_i)))

    if not survivors:
        return pd.DataFrame(
            columns=["query_id", "rank", "doc_id", "score_fixed", "score"]
        ).astype(
            {
                "query_id": "int32", "rank": "int32", "doc_id": "int64",
                "score_fixed": "int64", "score": "float64",
            }
        )

    # ---- phase 3: exact scoring of surviving blocks (batched decode)
    ids, cs = decode_score_terms(survivors)
    uniq, inv = np.unique(ids, return_inverse=True)
    sums = np.zeros(len(uniq), dtype=np.int64)
    np.add.at(sums, inv, cs)
    # top-k by (-score, doc_id): lexsort is stable
    order = np.lexsort((uniq, -sums))[:k]
    return pd.DataFrame(
        {
            "query_id": np.full(len(order), query_id, np.int32),
            "rank": np.arange(1, len(order) + 1, dtype=np.int32),
            "doc_id": uniq[order],
            "score_fixed": sums[order],
            "score": sums[order] / two32,
        }
    )


def _block_ub_col(n_docs: int, avgdl: float, k1: float, b: float):
    """Fixed-point block score upper bound as JVM expressions — the
    same formula (and association order) as the kernel's numpy bound."""
    idf = F.log(
        (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    mtf = F.col("max_tf").cast("double")
    mdl = F.col("min_dl").cast("double")
    btf = mtf / (
        mtf + F.lit(k1) * (F.lit(1.0 - b) + (F.lit(b) * mdl) / F.lit(avgdl))
    )
    return F.floor(
        idf * F.lit(k1 + 1.0) * btf * F.lit(float(FIXED_POINT_SCALE)) + F.lit(0.5)
    ).cast("long")


def _seed_thetas(
    spark: SparkSession,
    blocks: DataFrame,
    n_docs: int,
    avgdl: float,
    k1: float,
    b: float,
) -> dict[int, int]:
    """Driver-side θ seed: decode ONE block per (query, term) — block 0,
    a broadcast-pruned tiny read — and take the kth-largest exact
    partial sum per query.  Partial sums lower-bound totals, so every
    θ_q ≤ the query's true kth score (sound for pruning)."""
    rows = blocks.filter(F.col("block_id") == 0).select(
        "query_id", "k", "term_hash", "df", "doc_ids", "tfs", "dls"
    ).collect()
    per_q: dict[int, dict] = {}
    for r in rows:
        q = per_q.setdefault(
            int(r["query_id"]), {"k": int(r["k"]), "ids": [], "cs": []}
        )
        d, tfs, dls = decode_postings_block(r["doc_ids"], r["tfs"], r["dls"])
        idf = bm25_idf_py(int(r["df"]), n_docs)
        q["ids"].append(d)
        q["cs"].append(contribs_fixed(idf, tfs, dls, k1, b, avgdl))
    thetas: dict[int, int] = {}
    for qid, q in per_q.items():
        ids = np.concatenate(q["ids"])
        cs = np.concatenate(q["cs"])
        uniq, inv = np.unique(ids, return_inverse=True)
        sums = np.zeros(len(uniq), dtype=np.int64)
        np.add.at(sums, inv, cs)
        k = q["k"]
        thetas[qid] = int(np.partition(sums, -k)[-k]) if len(sums) >= k else 0
    return thetas


def _seed_thetas_local(
    seed_rows,
    qt_pd,
    n_docs: int,
    avgdl: float,
    k1: float,
    b: float,
) -> dict[int, int]:
    """θ seed with per-TERM decode caching: block 0 of a term decodes
    ONCE no matter how many queries share the term.  Hot queries and
    tiled batches repeat terms heavily, and the seed runs DRIVER-SIDE
    — the old per-(query, term) loop made it a serial cost that grew
    with batch size (the non-parallel fraction of a query batch).
    Queries with identical (term set, k) also share one kth-partial
    computation.  Thetas are IDENTICAL to _seed_thetas: the per-query
    accumulation is an order-independent int64 unique+sum over the
    union of the same block-0 postings."""
    from collections import defaultdict

    per_term: dict[int, list] = defaultdict(list)
    for r in seed_rows:
        d, tfs, dls = decode_postings_block(r["doc_ids"], r["tfs"], r["dls"])
        idf = bm25_idf_py(int(r["df"]), n_docs)
        per_term[int(r["term_hash"])].append(
            (d, contribs_fixed(idf, tfs, dls, k1, b, avgdl))
        )
    terms_by_q: dict[int, list] = defaultdict(list)
    k_by_q: dict[int, int] = {}
    for qid, k, th in zip(
        qt_pd["query_id"], qt_pd["k"], qt_pd["term_hash"]
    ):
        k_by_q[int(qid)] = int(k)
        if int(th) in per_term:
            terms_by_q[int(qid)].append(int(th))
    thetas: dict[int, int] = {}
    shared: dict[tuple, int] = {}
    for qid, ths in terms_by_q.items():
        key = (tuple(sorted(ths)), k_by_q[qid])
        if key in shared:
            thetas[qid] = shared[key]
            continue
        parts = [p for t in ths for p in per_term[t]]
        ids = np.concatenate([p[0] for p in parts])
        cs = np.concatenate([p[1] for p in parts])
        uniq, inv = np.unique(ids, return_inverse=True)
        sums = np.zeros(len(uniq), dtype=np.int64)
        np.add.at(sums, inv, cs)
        k = k_by_q[qid]
        th = int(np.partition(sums, -k)[-k]) if len(sums) >= k else 0
        shared[key] = thetas[qid] = th
    return thetas


# below this corpus size the θ-seed read costs more than the shuffle it
# saves — the in-kernel pruning alone is plenty (planner heuristic)
PRE_PRUNE_MIN_DOCS = 200_000

# query-term batches up to this size are planned driver-side (one tiny
# job) instead of re-evaluating the tokenizer UDF per downstream use
_QT_LOCAL_MAX = 200_000


def plan_candidate_blocks(
    spark: SparkSession,
    segments: DataFrame,
    manifest: dict,
    queries: DataFrame,
    default_k: int = 10,
    n_ranges: int | str = "auto",
    pre_prune: bool | str = "auto",
):
    """Build the (pre-pruned, range-salted) candidate-block DataFrame.

    Returns (exploded_blocks_df, doc_shift, k_df) — exposed separately
    so tests can assert the per-(query, range) input bound under skew.

    pre_prune: True | False | "auto" (seed only when the index is big
    enough that a tiny extra read pays for the shuffle volume it cuts).
    """
    cfg = manifest["config"]
    stats = manifest["stats"]
    n_docs, avgdl = stats["N"], stats["avgdl"]
    k1, b = cfg["k1"], cfg["b"]
    if pre_prune == "auto":
        pre_prune = n_docs >= PRE_PRUNE_MIN_DOCS
    if n_ranges == "auto":
        # one scoring task per ~16k docs, capped: small corpora don't
        # pay fan-out/merge overhead, web-scale corpora get the full
        # spread (the cap is per QUERY — a 64-query batch at 256 ranges
        # is already 16k-way parallel)
        n_ranges = int(min(256, max(1, n_docs // 16_384)))

    # qt embeds the tokenizer into EVERY downstream reference (hash
    # collect, broadcast join, k_df).  Driver-local query batches (all
    # serving/bench paths) tokenize+hash driver-side with the shared
    # bit-identical functions — zero Spark jobs (query_terms_local);
    # distributed batches materialize once via toPandas, and a giant
    # batch (>200k query terms) falls back to the fully distributed
    # plan.
    from .dataframe_engine import query_terms_local

    local_rows = query_terms_local(
        queries, default_k, max_rows=_QT_LOCAL_MAX
    )
    qt_local_pd = None
    if local_rows is not None and len(local_rows) <= _QT_LOCAL_MAX:
        qid_type = queries.schema["query_id"].dataType.simpleString()
        qt_schema = (
            f"query_id {qid_type}, k int, term string, term_hash long"
        )
        qt = spark.createDataFrame(local_rows, qt_schema)
        qt_local_pd = pd.DataFrame(
            local_rows, columns=["query_id", "k", "term", "term_hash"]
        )
        qt_pd = qt_local_pd
    else:
        qt = query_terms(queries, default_k)
        qt_pd = qt.limit(_QT_LOCAL_MAX + 1).toPandas()
    if qt_local_pd is None and len(qt_pd) <= _QT_LOCAL_MAX:
        qt_local_pd = qt_pd
        qt = spark.createDataFrame(qt_pd, schema=qt.schema)
    if qt_local_pd is not None:
        q_hashes = [int(h) for h in qt_local_pd["term_hash"].unique()]
    else:
        # driver-side pruning plan: buckets + term hashes of the query
        # set (tiny collect — the reference's "pick start shard" step,
        # query_disk_index.rs:447-450, as partition pruning)
        q_hashes = [
            r["term_hash"]
            for r in qt.select("term_hash").distinct().collect()
        ]
    if not q_hashes:
        return None, 0, None
    buckets = sorted({h % cfg["n_buckets"] for h in q_hashes})
    pruned = segments.filter(
        F.col("bucket").isin(buckets) & F.col("term_hash").isin(q_hashes)
    )
    if manifest.get("n_epochs", 1) > 1:
        # multi-epoch index: stored per-block df is epoch-local; the
        # global df of a term is sum(n_docs) over its blocks (ranges
        # are disjoint within AND across epochs).  The fixup aggregate
        # scans only the pruned metadata columns (binary payloads are
        # column-pruned out) and yields ≤ |query terms| rows, joined
        # back via broadcast — no shuffle of block payloads.
        gdf = pruned.groupBy("term_hash").agg(F.sum("n_docs").alias("df"))
        pruned = pruned.drop("df").join(F.broadcast(gdf), "term_hash")
    blocks = pruned.join(F.broadcast(qt), "term_hash").select(
        "query_id", "k", "term_hash", "df", "block_id", "n_docs",
        "min_doc_id", "max_doc_id", "doc_ids", "tfs", "dls",
        "block_max_tfnorm", "max_tf", "min_dl",
    ).withColumn("ub", _block_ub_col(n_docs, avgdl, k1, b))

    thetas = {}
    if pre_prune:
        if qt_local_pd is not None:
            # collect ONE row per (term, epoch-block-0) straight off
            # the pruned segments (no qt join first — the old collect
            # duplicated each term's block per query sharing it), then
            # seed every query from per-term cached decodes
            seed_rows = (
                pruned.filter(F.col("block_id") == 0)
                .select("term_hash", "df", "doc_ids", "tfs", "dls")
                .collect()
            )
            thetas = _seed_thetas_local(
                seed_rows, qt_local_pd, n_docs, avgdl, k1, b
            )
        else:
            thetas = _seed_thetas(spark, blocks, n_docs, avgdl, k1, b)
        if any(thetas.values()):
            # per-(query, term) global max ub — metadata-only agg
            # (Catalyst prunes the binary payload columns out of it).
            # tmax is referenced TWICE (per-term and per-query-total):
            # as a self-join that was two full pruned-segment scans
            # plus a SortMergeJoin of two metadata frames; for any
            # locally-planned batch the agg is ≤ |query terms| rows, so
            # collect it once and derive other_max driver-side (the
            # giant-distributed-batch path keeps the join form).
            tg = blocks.groupBy("query_id", "term_hash").agg(
                F.max("ub").alias("tmax")
            )
            if qt_local_pd is not None:
                from collections import defaultdict

                tg_rows = tg.collect()
                ttot: dict = defaultdict(int)
                for r in tg_rows:
                    ttot[r["query_id"]] += int(r["tmax"])
                qid_t = dict(blocks.dtypes)["query_id"]
                other = spark.createDataFrame(
                    [
                        (
                            r["query_id"],
                            int(r["term_hash"]),
                            ttot[r["query_id"]] - int(r["tmax"]),
                        )
                        for r in tg_rows
                    ],
                    f"query_id {qid_t}, term_hash long, other_max long",
                )
            else:
                qtot = tg.groupBy("query_id").agg(
                    F.sum("tmax").alias("ttot")
                )
                other = tg.join(qtot, "query_id").select(
                    "query_id",
                    "term_hash",
                    (F.col("ttot") - F.col("tmax")).alias("other_max"),
                )
            theta_df = spark.createDataFrame(
                [(qid, th) for qid, th in thetas.items()],
                "query_id int, theta long",
            )
            blocks = (
                blocks.join(F.broadcast(other), ["query_id", "term_hash"])
                .join(F.broadcast(theta_df), "query_id")
                .filter(
                    F.col("ub") + F.col("other_max")
                    >= F.col("theta") - F.lit(_UB_SLACK)
                )
                .drop("other_max", "theta")
            )

    # ---- doc-range salting: contiguous unsigned doc-id ranges --------
    # span from manifest stats when the ids are plainly non-negative
    # (dense-id corpora) — no extra job; hashed-id corpora (negative
    # ids possible) pay one tiny metadata agg on the pruned blocks
    s_min, s_max = stats.get("min_doc_id"), stats.get("max_doc_id")
    if s_min is not None and s_max is not None and s_min >= 0:
        u_lo, u_hi = int(s_min), int(s_max)
    else:
        span_row = blocks.agg(
            F.min(F.col("min_doc_id").bitwiseXOR(F.lit(_SIGN))).alias("lo"),
            F.max(F.col("max_doc_id").bitwiseXOR(F.lit(_SIGN))).alias("hi"),
        ).collect()[0]
        if span_row["lo"] is None:
            return None, 0, None
        u_lo = span_row["lo"] + 2**63
        u_hi = span_row["hi"] + 2**63
    span = max(u_hi - u_lo, 0) + 1
    # 2^shift ≈ span / n_ranges (shift ≥ 1 keeps shifted values
    # non-negative and unsigned-ordered)
    doc_shift = max(1, min(63, (max(span // max(n_ranges, 1), 1)).bit_length()))
    # when the whole corpus shifts into ONE range (every small corpus,
    # and any n_ranges=1 request over dense ids), each query forms a
    # single scoring group whose local top-k IS the global answer —
    # signalled to wand_topk via k_df=None so it skips the merge
    # window + k_df broadcast join outright (one exchange fewer)
    single_range = (u_lo >> doc_shift) == (u_hi >> doc_shift)
    exploded = blocks.withColumn(
        "range_id",
        F.explode(
            F.sequence(
                F.shiftrightunsigned("min_doc_id", doc_shift),
                F.shiftrightunsigned("max_doc_id", doc_shift),
            )
        ),
    )
    # per-query theta0 column (0 when unseeded)
    if thetas:
        seed_df = spark.createDataFrame(
            [(qid, th) for qid, th in thetas.items()],
            "query_id int, theta0_seed long",
        )
        exploded = (
            exploded.join(F.broadcast(seed_df), "query_id", "left")
            .withColumn("theta0", F.coalesce("theta0_seed", F.lit(0)))
            .drop("theta0_seed")
        )
    else:
        exploded = exploded.withColumn("theta0", F.lit(0).cast("long"))
    if single_range:
        return exploded, doc_shift, None
    k_df = qt.select("query_id", "k").distinct()
    return exploded, doc_shift, k_df


def wand_topk(
    spark: SparkSession,
    segments: DataFrame,
    term_stats: DataFrame,
    manifest: dict,
    queries: DataFrame,
    default_k: int = 10,
    n_ranges: int | str = "auto",
    pre_prune: bool | str = "auto",
) -> DataFrame:
    """Block-max WAND top-k for a batch of queries against a built
    index.  Returns (query_id, rank, doc_id, score_fixed, score) —
    rank-identical to the exhaustive engine.

    Scoring groups are (query_id, doc-range) — per-task input is
    bounded by the range width regardless of term df (head-term safe);
    the per-query global merge sees ≤ k·n_ranges rows."""
    cfg = manifest["config"]
    stats = manifest["stats"]
    exploded, doc_shift, k_df = plan_candidate_blocks(
        spark, segments, manifest, queries, default_k, n_ranges, pre_prune
    )
    if exploded is None:
        return spark.createDataFrame([], RESULT_SCHEMA)

    def kernel(key, pdf):
        return score_query_blocks(
            pdf,
            stats["N"],
            stats["avgdl"],
            cfg["k1"],
            cfg["b"],
            doc_shift=doc_shift,
            range_id=int(key[1]),
            theta0=int(pdf["theta0"].iloc[0]),
        )

    partial = exploded.groupBy("query_id", "range_id").applyInPandas(
        kernel, RESULT_SCHEMA
    )
    if k_df is None:
        # single doc-range (see plan_candidate_blocks): each query is
        # one scoring group, its kernel output already the exact
        # globally-ranked top-k — the merge window would renumber an
        # identical ordering, so skip its exchange entirely
        return partial.select(
            "query_id", "rank", "doc_id", "score_fixed", "score"
        )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_fixed"), F.asc("doc_id")
    )
    return (
        partial.join(F.broadcast(k_df), "query_id")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= F.col("k"))
        .select("query_id", "rank", "doc_id", "score_fixed", "score")
    )
