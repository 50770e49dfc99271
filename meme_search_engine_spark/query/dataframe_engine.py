"""Exhaustive BM25 top-k as pure DataFrame ops — the engine's
"brute-force oracle at scale" and the semantics reference for the WAND
path (the reference does the same: exact scoring validates approximate,
/root/reference/src/query_disk_index.rs:262-276).

Plan shape (all built-ins, no Python in the hot path):

    tf(term_hash, doc_id, doc_len, tf)
      JOIN broadcast(query_terms x term_df)  ON term_hash
      -> per-(query,term,doc) fixed-point contribution  [codegen exprs]
      GROUP BY (query_id, doc_id) SUM(contrib_fixed)    [partial agg]
      WINDOW row_number BY query_id ORDER score DESC    [top-k]

Determinism contract (T7, SURVEY.md §2.6): contributions are converted
to int64 fixed-point (score * 2^32, half-up) BEFORE the sum, so the
aggregate is exact integer math — identical result for any partitioning
— and ties break by ascending doc_id.
"""

from __future__ import annotations

import logging

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, Window

from ..common.bm25 import B, FIXED_POINT_SCALE, K1
from ..index.build import tokens_col


def query_terms_local(
    queries: DataFrame, default_k: int = 10, max_rows: int = 10_000
):
    """Driver-side (query_id, k, term, term_hash) rows when `queries`
    is a small batch; None when it is too large to plan locally.

    A query batch is tiny, but the distributed tokenization embedded a
    pandas UDF + a `distinct` exchange into EVERY downstream plan that
    referenced it (one extra job per use — ~0.7 s of a 1.9 s warm WAND
    batch was this planning read).  Small batches tokenize with the
    SAME shared tokenizer and hash with the bit-identical pure xxhash64
    (tests/test_common.py::test_xxhash64_matches_spark), so the rows
    are identical — set semantics included.  LocalRelation inputs
    collect for free; other plans (createDataFrame yields a
    LogicalRDD, parquet a scan) pay ONE row-limited collect, which
    replaces the per-reference tokenizer jobs downstream.  Batches
    past max_rows stay fully distributed.
    """
    try:
        if queries.isLocal():
            rows = queries.collect()
        else:
            rows = queries.limit(max_rows + 1).collect()
            if len(rows) > max_rows:
                return None
    except Exception:
        # the distributed fallback answers identically, but the plan
        # change must not go unseen
        logging.getLogger(__name__).warning(
            "driver-local query tokenization failed; planning it "
            "distributed instead",
            exc_info=True,
        )
        return None
    from ..common.hashing import term_hash as _th
    from ..common.textproc import tokenize as _tok

    has_k = "k" in queries.columns
    seen = set()
    for r in rows:
        if r["text"] is None:
            continue  # explode(tokens(null)) yields no rows either
        k = int(r["k"]) if has_k and r["k"] is not None else int(default_k)
        for term in _tok(r["text"]):
            seen.add((r["query_id"], k, term))
    return [
        (qid, k, term, _th(term)) for qid, k, term in sorted(seen)
    ]


def query_terms(queries: DataFrame, default_k: int = 10) -> DataFrame:
    """queries(query_id, text[, k]) -> (query_id, k, term, term_hash),
    deduplicated (set semantics, weight 1 — same rule as the oracle).
    Query text goes through the *same* tokenizer as documents.

    Driver-local query batches short-circuit to a LocalRelation (see
    query_terms_local) — no tokenizer UDF, no distinct exchange."""
    local = query_terms_local(queries, default_k)
    if local is not None:
        qid_type = queries.schema["query_id"].dataType.simpleString()
        return queries.sparkSession.createDataFrame(
            local,
            f"query_id {qid_type}, k int, term string, term_hash long",
        )
    if "k" not in queries.columns:
        queries = queries.withColumn("k", F.lit(default_k))
    return (
        queries.select(
            "query_id",
            F.col("k").cast("int").alias("k"),
            F.explode(tokens_col(F.col("text"))).alias("term"),
        )
        .distinct()
        .withColumn("term_hash", F.xxhash64("term"))
    )


def bm25_topk_weighted(
    tf: DataFrame,
    term_df: DataFrame,
    stats: dict,
    query_terms_weighted: DataFrame,
) -> DataFrame:
    """Weighted multi-term BM25 (the reference's query algebra:
    sum of weight_i * score_i, /root/reference/src/common.rs:215-274;
    weights may be negative — 'exclude-ish' terms).

    query_terms_weighted: (query_id, k, term, weight) — already
    tokenized terms with accumulated weights.
    """
    qt = query_terms_weighted.withColumn("term_hash", F.xxhash64("term"))
    qdf = qt.join(term_df, "term_hash")
    idf = F.log(
        (F.lit(float(stats["N"])) - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    tf_norm = F.col("tf") / (
        F.col("tf")
        + F.lit(K1)
        * (F.lit(1.0 - B) + F.lit(B) * F.col("doc_len") / F.lit(stats["avgdl"]))
    )
    weighted = idf * F.lit(K1 + 1.0) * tf_norm * F.col("weight")
    scored = tf.join(F.broadcast(qdf), "term_hash").withColumn(
        "contrib_fixed",
        F.floor(weighted * F.lit(float(FIXED_POINT_SCALE)) + F.lit(0.5)).cast(
            "long"
        ),
    )
    agg = scored.groupBy("query_id", "k", "doc_id").agg(
        F.sum("contrib_fixed").alias("score_fixed")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_fixed"), F.asc("doc_id")
    )
    return (
        agg.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= F.col("k"))
        .select(
            "query_id",
            "rank",
            "doc_id",
            "score_fixed",
            (F.col("score_fixed") / F.lit(float(FIXED_POINT_SCALE))).alias(
                "score"
            ),
        )
    )


def bm25_topk_with_prior(
    tf: DataFrame,
    term_df: DataFrame,
    stats: dict,
    queries: DataFrame,
    priors: DataFrame,
    default_k: int = 10,
) -> DataFrame:
    """BM25 + per-document quality prior — the reference's score
    channels: per-item weight/512-scaled descriptors added into every
    node score at query time
    (/root/reference/src/query_disk_index.rs:135-142,463-473).

    priors: (doc_id, prior_fixed int64) — already fixed-point (same
    2^32 scale), typically floor(Σ wᵢ·channelᵢ(doc) · 2^32 + 0.5) over
    ops.textstats.quality_scores channels.  The prior applies only to
    docs matching ≥1 query term (a ranking prior, not a recall source).

    Plan shape: the prior join happens AFTER the (query, doc) aggregate
    — it shuffles only the candidate set, never the full postings."""
    qt = query_terms(queries, default_k)
    qdf = qt.join(term_df, "term_hash")
    scored = tf.join(F.broadcast(qdf), "term_hash").withColumn(
        "contrib_fixed", _contrib_fixed(stats["N"], stats["avgdl"])
    )
    agg = scored.groupBy("query_id", "k", "doc_id").agg(
        F.sum("contrib_fixed").alias("bm25_fixed")
    )
    agg = agg.join(priors, "doc_id", "left").withColumn(
        "score_fixed",
        F.col("bm25_fixed") + F.coalesce(F.col("prior_fixed"), F.lit(0)),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_fixed"), F.asc("doc_id")
    )
    return (
        agg.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= F.col("k"))
        .select(
            "query_id",
            "rank",
            "doc_id",
            "score_fixed",
            (F.col("score_fixed") / F.lit(float(FIXED_POINT_SCALE))).alias(
                "score"
            ),
        )
    )


def _contrib_fixed(n_docs: int, avgdl: float):
    """Fixed-point BM25 contribution column, mirroring common.bm25
    expression-for-expression (same association order, so JVM doubles
    match CPython doubles bit-for-bit up to libm's 1 ulp on log)."""
    idf = F.log(
        (F.lit(float(n_docs)) - F.col("df") + F.lit(0.5))
        / (F.col("df") + F.lit(0.5))
        + F.lit(1.0)
    )
    tf_norm = F.col("tf") / (
        F.col("tf")
        + F.lit(K1)
        * (F.lit(1.0 - B) + F.lit(B) * F.col("doc_len") / F.lit(avgdl))
    )
    contrib = idf * F.lit(K1 + 1.0) * tf_norm
    return F.floor(contrib * F.lit(float(FIXED_POINT_SCALE)) + F.lit(0.5)).cast(
        "long"
    )


def bm25_topk(
    tf: DataFrame,
    term_df: DataFrame,
    stats: dict,
    queries: DataFrame,
    default_k: int = 10,
) -> DataFrame:
    """Exhaustive BM25 top-k for a batch of queries.

    Returns (query_id, rank, doc_id, score_fixed, score) — rank 1-based,
    ordered by fixed-point score desc, doc_id asc within each query.
    """
    qt = query_terms(queries, default_k)
    # (query term x df) is tiny (≤ queries x terms rows) -> broadcast;
    # the probe side (tf) never shuffles for the join.
    qdf = qt.join(term_df, "term_hash")
    scored = tf.join(F.broadcast(qdf), "term_hash").withColumn(
        "contrib_fixed", _contrib_fixed(stats["N"], stats["avgdl"])
    )
    agg = scored.groupBy("query_id", "k", "doc_id").agg(
        F.sum("contrib_fixed").alias("score_fixed")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score_fixed"), F.asc("doc_id")
    )
    return (
        agg.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= F.col("k"))
        .select(
            "query_id",
            "rank",
            "doc_id",
            "score_fixed",
            (F.col("score_fixed") / F.lit(float(FIXED_POINT_SCALE))).alias(
                "score"
            ),
        )
    )

