"""Product quantization: training determinism, reconstruction error,
ADC ranking recall, and the IVF storage="pq" index path.

Reference analogue: diskann/aopq_train.py (64x256 inner-product PQ
codebooks); the recall bound here is the property the reference's
DiskANN shards rely on — PQ ordering approximates true-cosine ordering
well enough that a candidate set survives quantization.
"""

import numpy as np
import pyspark.sql.functions as F
import pytest

from meme_search_engine_spark.ops import pq, similarity


@pytest.fixture(scope="module")
def emb_df(spark, sf01_dir):
    return spark.read.parquet(f"{sf01_dir}/embeddings.parquet").cache()


def _queries(emb_df, n=5):
    return (
        emb_df.orderBy("vec_id")
        .limit(n)
        .select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("qvec"))
        .toPandas()
    )


def test_train_pq_deterministic(spark, emb_df):
    b1 = pq.train_pq(emb_df, m=8, ksub=32, n_iters=4, sample_size=400)
    b2 = pq.train_pq(emb_df, m=8, ksub=32, n_iters=4, sample_size=400)
    assert b1.shape == (8, 32, 8)
    np.testing.assert_array_equal(b1, b2)


def test_pq_roundtrip_reconstruction_improves_with_m(spark, emb_df):
    """Mean cosine between original and reconstructed vectors is high,
    and finer codes (more subspaces) reconstruct strictly better."""
    orig = {
        r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64)
        for r in emb_df.collect()
    }

    def mean_cos(m, ksub=32):
        books = pq.train_pq(emb_df, m=m, ksub=ksub, n_iters=6, sample_size=400)
        dec = pq.pq_decode(pq.pq_encode(emb_df, books), books)
        cs = []
        for r in dec.collect():
            v = orig[r["vec_id"]]
            v = v / np.linalg.norm(v)
            w = np.asarray(r["embedding"], dtype=np.float64)
            cs.append(float(v @ w / np.linalg.norm(w)))
        return float(np.mean(cs))

    # sf0.01 embeddings are near-isotropic — PQ's hardest case — so the
    # absolute floor is modest; the load-bearing property is monotone
    # improvement with code granularity
    c8, c16 = mean_cos(8), mean_cos(16)
    assert c8 > 0.7
    assert c16 > c8


def test_pq_code_bytes(spark, emb_df):
    books = pq.train_pq(emb_df, m=8, ksub=32, n_iters=4, sample_size=400)
    row = pq.pq_encode(emb_df, books).select("pq_code").first()
    # 64-dim fp32 vector (256 B) -> 8 B code
    assert len(row["pq_code"]) == 8


def test_adc_topk_recall_vs_exact(spark, emb_df):
    qpd = _queries(emb_df, 5)
    exact = similarity.cosine_topk_exact(
        emb_df, spark.createDataFrame(qpd), k=10
    ).toPandas()
    books = pq.train_pq(emb_df, m=16, ksub=64, n_iters=8, sample_size=400)
    codes = pq.pq_encode(emb_df, books)
    adc = pq.pq_adc_topk(codes, books, qpd, k=10).toPandas()
    recalls = []
    for qid in qpd["query_id"]:
        want = set(exact[exact.query_id == qid].vec_id)
        got = set(adc[adc.query_id == qid].vec_id)
        recalls.append(len(want & got) / len(want))
    assert np.mean(recalls) >= 0.5, recalls
    # the self-match (cosine 1.0) must always survive quantization
    for qid in qpd["query_id"]:
        assert qid in set(adc[adc.query_id == qid].vec_id)


def test_ivf_index_pq_storage(spark, emb_df, tmp_path):
    """storage='pq' lists are dramatically smaller than fp16 lists and
    the ADC probe still finds most of the true neighborhood."""
    from meme_search_engine_spark.ops import ivf_index

    out_pq = str(tmp_path / "ivf_pq")
    out_16 = str(tmp_path / "ivf_fp16")
    kw = dict(n_lists=8, spill=2, n_iters=4)
    ivf_index.build_ivf_index(
        spark, emb_df, out_pq, storage="pq", pq_m=16, pq_ksub=64, **kw
    )
    ivf_index.build_ivf_index(spark, emb_df, out_16, storage="fp16", **kw)

    import os

    def dir_bytes(d):
        total = 0
        for root, _, files in os.walk(os.path.join(d, "lists")):
            total += sum(
                os.path.getsize(os.path.join(root, f))
                for f in files
                if f.endswith(".parquet")
            )
        return total

    assert dir_bytes(out_pq) < 0.45 * dir_bytes(out_16)

    qpd = _queries(emb_df, 5)
    exact = similarity.cosine_topk_exact(
        emb_df, spark.createDataFrame(qpd), k=10
    ).toPandas()
    got = ivf_index.ivf_search(spark, out_pq, qpd, k=10, n_probe=6).toPandas()
    recalls = []
    for qid in qpd["query_id"]:
        want = set(exact[exact.query_id == qid].vec_id)
        recalls.append(len(want & set(got[got.query_id == qid].vec_id)) / 10)
    assert np.mean(recalls) >= 0.5, recalls


def test_opq_rotation_orthogonal_and_deterministic(spark, emb_df):
    r1 = pq.train_opq_rotation(emb_df, m=8, sample_size=400)
    r2 = pq.train_opq_rotation(emb_df, m=8, sample_size=400)
    np.testing.assert_array_equal(r1, r2)
    np.testing.assert_allclose(r1 @ r1.T, np.eye(r1.shape[0]), atol=1e-9)


def test_opq_beats_plain_pq_on_unbalanced_variance(spark):
    """Variance concentrated in ONE axis-aligned subspace is the case
    the OPQ rotation exists for (Ge et al. 2013; the reference trains
    its aopq projection for the same imbalance): plain PQ burns one
    32-centroid codebook on all the signal while 15 codebooks quantize
    noise; the eigenvalue-balanced rotation gives each signal
    direction its own subspace."""
    rng = np.random.default_rng(11)
    sig = rng.normal(size=(600, 4)) * np.array([10.0, 8.0, 6.0, 5.0])
    noise = 0.05 * rng.normal(size=(600, 60))
    x = np.concatenate([sig, noise], axis=1).astype(np.float32)
    df = spark.createDataFrame(
        [(i, [float(v) for v in x[i]]) for i in range(len(x))],
        "vec_id long, embedding array<float>",
    ).cache()

    def mean_recon_cos(rotation):
        books = pq.train_pq(
            df, m=16, ksub=32, n_iters=6, sample_size=600, rotation=rotation
        )
        dec = pq.pq_decode(
            pq.pq_encode(df, books, rotation=rotation),
            books,
            rotation=rotation,
        )
        orig = {i: x[i] / np.linalg.norm(x[i]) for i in range(len(x))}
        cs = []
        for r in dec.collect():
            w = np.asarray(r["embedding"], dtype=np.float64)
            cs.append(float(orig[r["vec_id"]] @ w / np.linalg.norm(w)))
        return float(np.mean(cs))

    plain = mean_recon_cos(None)
    opq = mean_recon_cos(pq.train_opq_rotation(df, m=16, sample_size=600))
    assert opq >= plain - 1e-6, (plain, opq)
    assert opq > 0.9


def test_ivf_index_pq_opq_roundtrip(spark, emb_df, tmp_path):
    from meme_search_engine_spark.ops import ivf_index

    out = str(tmp_path / "ivf_opq")
    ivf_index.build_ivf_index(
        spark, emb_df, out, n_lists=8, spill=2, n_iters=4,
        storage="pq", pq_m=16, pq_ksub=64, pq_opq=True,
    )
    man = ivf_index.load_ivf_manifest(out)
    assert "pq_rotation" in man
    qpd = _queries(emb_df, 3)
    got = ivf_index.ivf_search(spark, out, qpd, k=10, n_probe=6).toPandas()
    assert set(got.query_id) == set(qpd.query_id)
    # the self vector survives OPQ quantization at rank ~1
    for qid in qpd["query_id"]:
        assert qid in set(got[got.query_id == qid].vec_id)


def test_int8_scalar_quantization_roundtrip_and_ivf(spark, emb_df, tmp_path):
    """Per-dim quantile-scaled uint8 storage (reference:
    diskann/scalar_quantize.py): 4x smaller than fp32, near-lossless
    cosine, and a working decode-in-probe IVF path."""
    from meme_search_engine_spark.ops import ivf_index

    smin, smax = similarity.train_int8_scales(emb_df, sample_size=500)
    packed = similarity.pack_embeddings_int8(emb_df, smin, smax)
    row = packed.select("embedding_int8").first()
    dim = len(smin)
    assert len(row["embedding_int8"]) == dim  # 1 byte/dim
    back = similarity.unpack_embeddings_int8(packed, smin, smax)
    orig = {r["vec_id"]: np.asarray(r["embedding"]) for r in emb_df.collect()}
    cs = []
    for r in back.collect():
        v = orig[r["vec_id"]]
        v = v / np.linalg.norm(v)
        w = np.asarray(r["embedding"], dtype=np.float64)
        cs.append(float(v @ w / np.linalg.norm(w)))
    assert np.mean(cs) > 0.999

    out = str(tmp_path / "ivf_int8")
    ivf_index.build_ivf_index(
        spark, emb_df, out, n_lists=8, spill=2, n_iters=4, storage="int8"
    )
    qpd = _queries(emb_df, 5)
    exact = similarity.cosine_topk_exact(
        emb_df, spark.createDataFrame(qpd), k=10
    ).toPandas()
    got = ivf_index.ivf_search(spark, out, qpd, k=10, n_probe=6).toPandas()
    recalls = []
    for qid in qpd["query_id"]:
        want = set(exact[exact.query_id == qid].vec_id)
        recalls.append(len(want & set(got[got.query_id == qid].vec_id)) / 10)
    # near-lossless storage: recall should match the fp16 path closely
    assert np.mean(recalls) >= 0.9, recalls


def test_ivf_append_equals_cold_build(spark, emb_df, tmp_path):
    """Appending new vectors (frozen centroids) must answer queries
    identically to a cold build over the union — the IVF analogue of
    the text index's append==cold invariant (test_append)."""
    from meme_search_engine_spark.ops import ivf_index
    from meme_search_engine_spark.ops.similarity import (
        deterministic_centroids,
    )

    old = emb_df.filter(F.col("vec_id") < 400)
    new = emb_df.filter(F.col("vec_id") >= 400)
    cents = deterministic_centroids(old, 8)

    inc = str(tmp_path / "ivf_inc")
    cold = str(tmp_path / "ivf_cold")
    ivf_index.build_ivf_index(
        spark, old, inc, spill=2, centroids=cents, storage="fp16"
    )
    ivf_index.append_ivf_index(spark, new, inc)
    ivf_index.build_ivf_index(
        spark, emb_df, cold, spill=2, centroids=cents, storage="fp16"
    )

    qpd = _queries(emb_df, 5)
    a = ivf_index.ivf_search(spark, inc, qpd, k=10, n_probe=4).toPandas()
    b = ivf_index.ivf_search(spark, cold, qpd, k=10, n_probe=4).toPandas()
    assert a.values.tolist() == b.values.tolist()
    # appended vectors are actually findable
    assert any(v >= 400 for v in a.vec_id)


def test_ivf_double_append_results_invariant(spark, emb_df, tmp_path):
    """A crash-retried append may duplicate rows; search results must
    be invariant (the (query,vec) max-dedup collapses them)."""
    from meme_search_engine_spark.ops import ivf_index
    from meme_search_engine_spark.ops.similarity import (
        deterministic_centroids,
    )

    old = emb_df.filter(F.col("vec_id") < 400)
    new = emb_df.filter(F.col("vec_id") >= 400)
    out = str(tmp_path / "ivf_dup")
    ivf_index.build_ivf_index(
        spark, old, out, spill=2,
        centroids=deterministic_centroids(old, 8), storage="fp16",
    )
    qpd = _queries(emb_df, 3)
    ivf_index.append_ivf_index(spark, new, out)
    once = ivf_index.ivf_search(spark, out, qpd, k=10, n_probe=4).toPandas()
    ivf_index.append_ivf_index(spark, new, out)  # retry duplicates rows
    twice = ivf_index.ivf_search(spark, out, qpd, k=10, n_probe=4).toPandas()
    assert once.values.tolist() == twice.values.tolist()


def test_partial_topk_tie_exact_under_repartitioning(spark, emb_df):
    """Exact-tied scores at the k boundary (duplicate vectors / equal
    PQ codes) must resolve to the smallest vec_ids — the per-partition
    partial top-k has to keep boundary ties, not an
    argpartition-arbitrary subset.  ADC scores are bitwise
    deterministic (fixed-order LUT sums), so the PQ ranking must be
    partitioning-invariant; the GEMM path is checked in-partition
    (cross-partition float dots are not bitwise stable — BLAS blocking
    differs with batch shape — which the global vec_id tie-break
    cannot repair; that caveat is inherent to float scoring)."""
    import pandas as pd

    from meme_search_engine_spark.ops.similarity import (
        partial_topk_indices,
    )

    # unit: boundary ties keep the smallest vec_ids
    scores = np.array(
        [[1.0], [0.5], [0.5], [0.5], [0.5], [0.2]], dtype=np.float64
    )
    vec_ids = np.array([7, 40, 12, 99, 3, 1], dtype=np.int64)
    idx = partial_topk_indices(scores, vec_ids, 3)
    assert sorted(vec_ids[idx[:, 0]].tolist()) == [3, 7, 12]

    # 40 distinct vectors + 60 copies of one vector => massive ties
    base = emb_df.filter(F.col("vec_id") < 40).toPandas()
    dup_vec = base.iloc[0]["embedding"]
    dup = pd.DataFrame(
        {"vec_id": range(1000, 1060), "embedding": [dup_vec] * 60}
    )
    pdf = pd.concat([base[["vec_id", "embedding"]], dup], ignore_index=True)
    df = spark.createDataFrame(pdf)
    qpd = _queries(emb_df, 2)

    # GEMM, one partition (bitwise-stable scores): the 61-way tied
    # block at cosine 1.0 for query 0 must fill ranks with ascending
    # vec_ids, smallest first
    out = similarity.cosine_topk_gemm(df.repartition(1), qpd, k=50)
    q0 = sorted(
        (r["rank"], r["vec_id"])
        for r in out.collect()
        if r["query_id"] == 0 and (r["vec_id"] == 0 or r["vec_id"] >= 1000)
    )
    tied_ids = [v for _, v in q0]
    assert tied_ids == sorted(tied_ids)
    assert tied_ids[0] == 0 and 1000 in tied_ids

    # PQ/ADC: equal codes score bitwise-equal everywhere ->
    # partitioning-invariant ranking including ties
    books = pq.train_pq(emb_df, m=4, ksub=16, sample_size=200)
    ra = sorted(
        (r["query_id"], r["rank"], r["vec_id"])
        for r in pq.pq_adc_topk(
            pq.pq_encode(df.repartition(3), books), books, qpd, k=50
        ).collect()
    )
    rb = sorted(
        (r["query_id"], r["rank"], r["vec_id"])
        for r in pq.pq_adc_topk(
            pq.pq_encode(df.repartition(11), books), books, qpd, k=50
        ).collect()
    )
    assert ra == rb


def test_compact_ivf_index_dedups_storage(spark, emb_df, tmp_path):
    """After a duplicated (crash-retried) append: compaction shrinks
    storage to the deduped row count, and search is identical before
    and after."""
    import os

    from meme_search_engine_spark.ops import ivf_index
    from meme_search_engine_spark.ops.similarity import (
        deterministic_centroids,
    )

    def nbytes(d):
        total = 0
        for root, _, files in os.walk(os.path.join(d, "lists")):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        return total

    old = emb_df.filter(F.col("vec_id") < 400)
    new = emb_df.filter(F.col("vec_id") >= 400)
    out = str(tmp_path / "ivf_compact")
    ivf_index.build_ivf_index(
        spark, old, out, spill=2,
        centroids=deterministic_centroids(old, 8), storage="fp16",
    )
    ivf_index.append_ivf_index(spark, new, out)
    ivf_index.append_ivf_index(spark, new, out)  # retry duplicates rows
    rows_dup = spark.read.parquet(os.path.join(out, "lists")).count()
    qpd = _queries(emb_df, 3)
    before = ivf_index.ivf_search(spark, out, qpd, k=10, n_probe=4).toPandas()
    pre = nbytes(out)

    ivf_index.compact_ivf_index(spark, out)

    post_df = spark.read.parquet(os.path.join(out, "lists"))
    rows_post = post_df.count()
    assert rows_post < rows_dup
    assert rows_post == post_df.select("list_id", "vec_id").distinct().count()
    assert nbytes(out) <= pre
    after = ivf_index.ivf_search(spark, out, qpd, k=10, n_probe=4).toPandas()
    assert before.values.tolist() == after.values.tolist()


def test_ivf_search_exact_rerank(spark, emb_df, tmp_path):
    """Two-stage search on lossy storage (the reference's ADC frontier
    + exact rerank, query_disk_index.rs:486-527): rerank_from returns
    EXACT cosines for the candidate set, so recall@10 must be >= the
    raw quantized ranking's, and every returned cosine must equal the
    brute-force value for that (query, vec)."""
    from meme_search_engine_spark.ops import ivf_index
    from meme_search_engine_spark.ops.similarity import (
        cosine_topk_exact,
        deterministic_centroids,
    )

    out = str(tmp_path / "ivf_rerank")
    ivf_index.build_ivf_index(
        spark, emb_df, out, centroids=deterministic_centroids(emb_df, 8),
        spill=1, storage="pq", pq_m=16, pq_ksub=64,
    )
    qpd = _queries(emb_df, 3)
    k = 10
    exact = cosine_topk_exact(
        emb_df,
        spark.createDataFrame(qpd, "query_id long, qvec array<float>"),
        k=k,
    ).collect()
    truth = {}
    exact_cos = {}
    for r in exact:
        truth.setdefault(r["query_id"], set()).add(r["vec_id"])
        exact_cos[(r["query_id"], r["vec_id"])] = r["cosine"]

    raw = ivf_index.ivf_search(spark, out, qpd, k=k, n_probe=8).collect()
    rer = ivf_index.ivf_search(
        spark, out, qpd, k=k, n_probe=8, rerank_from=emb_df,
        rerank_factor=10,
    ).collect()

    def recall(rows):
        got = {}
        for r in rows:
            got.setdefault(r["query_id"], set()).add(r["vec_id"])
        return sum(
            len(got.get(q, set()) & t) / len(t) for q, t in truth.items()
        ) / len(truth)

    assert recall(rer) >= recall(raw)
    assert recall(rer) >= 0.9
    # reranked cosines are EXACT: anything also in the brute-force
    # top-k must carry the identical cosine value
    for r in rer:
        key = (r["query_id"], r["vec_id"])
        if key in exact_cos:
            assert abs(r["cosine"] - exact_cos[key]) < 1e-12


def test_compact_ivf_crash_recovery(spark, emb_df, tmp_path):
    """A crash between the two swap renames leaves lists.old and no
    lists/; a retried compact must restore and proceed."""
    import os
    import shutil

    from meme_search_engine_spark.ops import ivf_index
    from meme_search_engine_spark.ops.similarity import (
        deterministic_centroids,
    )

    out = str(tmp_path / "ivf_crash")
    ivf_index.build_ivf_index(
        spark, emb_df, out, spill=1,
        centroids=deterministic_centroids(emb_df, 8), storage="fp16",
    )
    qpd = _queries(emb_df, 2)
    before = ivf_index.ivf_search(spark, out, qpd, k=10, n_probe=4).toPandas()
    # simulate the mid-swap crash state
    os.rename(os.path.join(out, "lists"), os.path.join(out, "lists.old"))
    shutil.rmtree(os.path.join(out, "lists.tmp"), ignore_errors=True)

    ivf_index.compact_ivf_index(spark, out)
    assert os.path.isdir(os.path.join(out, "lists"))
    assert not os.path.isdir(os.path.join(out, "lists.old"))
    after = ivf_index.ivf_search(spark, out, qpd, k=10, n_probe=4).toPandas()
    assert before.values.tolist() == after.values.tolist()
