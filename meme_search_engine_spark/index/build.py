"""Index-build DataFrame transforms: pages -> docs -> (term, doc, tf).

Spark-first layering (SURVEY.md §3.4 "our lifecycle"):

- HTML -> text extraction: Arrow-batched ``pandas_udf`` over the binary
  ``html`` column (the reference's per-row media transform slot,
  /root/reference/src/common.rs:31-59 -> our D2). Skipped entirely when
  the table already carries ``text`` — Catalyst then never reads the
  (huge) ``html`` column thanks to column pruning.
- Unicode normalization: Arrow-batched ``pandas_udf`` (vectorized
  pandas str ops — no per-row Python).
- Tokenization / explode / tf / df / corpus stats: pure JVM built-ins
  (``split``/``filter``/``explode``/``groupBy``) so the hot path stays
  inside whole-stage codegen, with map-side partial aggregation for
  free.

The per-token semantics are IDENTICAL to
``common.textproc.tokenize`` — asserted by tests/test_build.py on the
full synthetic corpus.
"""

from __future__ import annotations

import pandas as pd

import pyspark.sql.functions as F
from pyspark.sql import Column, DataFrame


def _extract_series(html: pd.Series) -> pd.Series:
    from meme_search_engine_spark.common.textproc import extract_text

    return html.map(extract_text)


def _normalize_series(text: pd.Series) -> pd.Series:
    # fast path: NFKD-fold only the rows that need it (str.isascii is a
    # cheap C call; NFKD over everything costs ~10x the whole tokenize)
    mask = text.map(lambda s: s is not None and not s.isascii())
    if mask.any():
        folded = (
            text[mask]
            .str.normalize("NFKD")
            .str.encode("ascii", "ignore")
            .str.decode("ascii")
        )
        text = text.copy()
        text[mask] = folded
    return text.str.lower()


# pandas_udf registration needs an active session -> wrap lazily.
def extract_text_udf(col) -> Column:
    """html binary -> extracted text (byte-identical per url vs the
    shared pure function — BASELINE.json input_hint invariant).
    Arrow-batched; the Python body is the one shared with the oracle."""
    return F.pandas_udf(_extract_series, "string")(col)


def normalize_udf(col) -> Column:
    """Vectorized NFKD fold -> ascii -> lower (== textproc.normalize_text)."""
    return F.pandas_udf(_normalize_series, "string")(col)


def tokens_col(text: Column, assume_ascii: bool = False) -> Column:
    """Tokenize a (already extracted) text column: Arrow-batched
    normalizer (ascii fast-pathed inside the UDF — NB: a
    when(ascii, jvm).otherwise(udf) would NOT skip the UDF, Spark
    evaluates extracted Python UDFs for every row), then JVM regex
    split + empty filter.  Semantics == common.textproc.tokenize.

    assume_ascii=True skips the normalizer entirely (pure JVM chain) —
    byte-identical for ascii corpora; caller's contract to know.
    """
    normalized = F.lower(text) if assume_ascii else normalize_udf(text)
    return F.filter(
        F.split(normalized, "[^a-z0-9]+"), lambda t: t != F.lit("")
    )


def docs_from_pages(pages: DataFrame) -> DataFrame:
    """pages(url, warc_ts, html, text?, lang, doc_id?) ->
    docs(doc_id, url, text, tokens, doc_len).

    doc_id: taken from the input when present, else the stable 64-bit
    xxhash64(url) (collision-free in practice at 10^12 docs ~ 2^-25
    birthday risk per pair; dense ids preferred when the source has
    them).
    """
    cols = set(pages.columns)
    df = pages
    if "text" not in cols:
        df = df.withColumn("text", extract_text_udf(F.col("html")))
    if "doc_id" not in cols:
        df = df.withColumn("doc_id", F.xxhash64(F.col("url")))
    if "url" not in cols:
        df = df.withColumn("url", F.concat(F.lit("doc://"), F.col("doc_id")))
    df = df.withColumn("tokens", tokens_col(F.col("text")))
    return df.select(
        "doc_id",
        "url",
        "text",
        "tokens",
        F.size("tokens").cast("int").alias("doc_len"),
    )


def term_doc_tf(docs: DataFrame) -> DataFrame:
    """docs -> tf(doc_id, doc_len, term_hash, tf).

    Counted DOC-LOCALLY with JVM higher-order functions (see
    postings.doc_term_tf_exploded): all of a doc's tokens sit in one
    array before any exchange, so the per-(doc,term) tf needs NO
    groupBy — this used to be explode + hash aggregate, which cost
    every tf consumer a full exchange on (doc_id, doc_len, term_hash)
    that nothing downstream could reuse (r5).  Terms are hashed
    in-array (the engine is hash-addressed everywhere downstream;
    term strings never leave the tokenizer)."""
    from .postings import doc_term_tf_exploded

    return doc_term_tf_exploded(docs).select(
        "doc_id", "doc_len", "term_hash", "tf"
    )


def term_df(tf: DataFrame) -> DataFrame:
    """tf -> df(term_hash, df) — document frequency per term."""
    return tf.groupBy("term_hash").agg(F.count("*").alias("df"))


def corpus_stats_by_part(docs: DataFrame, cfg) -> tuple[dict, dict[int, int]]:
    """One pass -> (global corpus stats, per-build-partition row counts).

    Folding the ledger's rows_in metric into the stats aggregation
    removes one whole job from the build's serialized critical path
    (same derivation contract as corpus_stats: avgdl = exact-int
    total / N, so cold and appended builds stay bit-identical)."""
    from .postings import part_col

    rows = (
        docs.groupBy(part_col(F.col("doc_id"), cfg).alias("part_id"))
        .agg(
            F.count("*").alias("n"),
            F.sum("doc_len").alias("tok"),
            F.max("doc_id").alias("mx"),
            F.min("doc_id").alias("mn"),
        )
        .collect()
    )
    n = sum(r["n"] for r in rows)
    total = int(sum(r["tok"] or 0 for r in rows))
    stats = {
        "N": n,
        "avgdl": (total / n) if n else 0.0,
        "total_tokens": total,
        "max_doc_id": max((r["mx"] for r in rows), default=None),
        "min_doc_id": min((r["mn"] for r in rows), default=None),
    }
    return stats, {int(r["part_id"]): int(r["n"]) for r in rows}


def corpus_stats(docs: DataFrame) -> dict:
    """Global stats — one tiny agg, broadcast to scorers.

    total_tokens (exact int) is what incremental appends merge on;
    avgdl is derived as total/N so a cold build and an appended build
    compute bit-identical doubles.  max_doc_id guards the append
    contract (new ids strictly greater)."""
    row = docs.agg(
        F.count("*").alias("N"),
        F.sum("doc_len").alias("total_tokens"),
        F.max("doc_id").alias("max_doc_id"),
        F.min("doc_id").alias("min_doc_id"),
    ).collect()[0]
    n = row["N"]
    total = int(row["total_tokens"] or 0)
    return {
        "N": n,
        "avgdl": (total / n) if n else 0.0,
        "total_tokens": total,
        "max_doc_id": row["max_doc_id"],
        "min_doc_id": row["min_doc_id"],
    }
