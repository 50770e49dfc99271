"""Unit tests for the shared pure functions (SURVEY.md §5 items 1-2)."""

import math

import numpy as np
import pytest
from hypothesis import given, settings, strategies as st

from meme_search_engine_spark.common import (
    bm25_idf,
    bm25_score,
    delta_decode,
    delta_encode,
    extract_text,
    normalize_text,
    term_hash,
    to_fixed,
    tokenize,
    varbyte_decode,
    varbyte_encode,
)
from meme_search_engine_spark.common.hashing import (
    xxhash64_str,
    xxhash64_str_long,
)


# ---------------------------------------------------------------- extract
EXTRACT_CASES = [
    # (html, expected) — entities, nesting, script/style strip, whitespace
    ("<html><body><p>hello world</p></body></html>", "hello world"),
    ("<p>a &amp; b &lt;c&gt;</p>", "a & b <c>"),
    ("<body><script>junk();</script><p>kept</p></body>", "kept"),
    ("<style>p{color:red}</style><p>kept</p>", "kept"),
    ("<head><title>nope</title></head><body>yes</body>", "yes"),
    ("<p>a</p><p>b</p>", "a b"),
    ("<div>a<br/>b</div>", "a b"),
    ("<p>  lots   of\n\t space  </p>", "lots of space"),
    ("<p><b>bold</b> and <i>italic</i></p>", "bold and italic"),
    ("<noscript>hidden</noscript>shown", "shown"),
    ("<p>café über straße</p>", "café über straße"),
    ("<ul><li>one</li><li>two</li></ul>", "one two"),
    ("", ""),
    ("plain text no tags", "plain text no tags"),
    ("<p>unclosed <b>tag", "unclosed tag"),
    ("<svg><text>chart label</text></svg>after", "after"),
    ("<nav>Home | About</nav><p>content</p><footer>c 2024</footer>", "content"),
    ("<header>Site</header><main>body text</main><aside>ads</aside>", "body text"),
    ("<p>x&#233;y</p>", "xéy"),
]


@pytest.mark.parametrize("html,expected", EXTRACT_CASES)
def test_extract_text(html, expected):
    assert extract_text(html) == expected
    # byte input path (the pages.html column is binary)
    assert extract_text(html.encode("utf-8")) == expected


def test_extract_deterministic():
    html = "<html><body><p>a &amp; b</p><script>x</script></body></html>"
    assert extract_text(html) == extract_text(html)


# --------------------------------------------------------------- tokenize
def test_normalize_folds_diacritics():
    assert normalize_text("Café ÜBER") == "cafe uber"


def test_tokenize_basic():
    assert tokenize("Hello, World! 123") == ["hello", "world", "123"]


def test_tokenize_diacritics_and_case():
    assert tokenize("Résumé NAÏVE") == ["resume", "naive"]


def test_tokenize_empty_and_punct():
    assert tokenize("") == []
    assert tokenize("!!! ---") == []


# ---------------------------------------------------------------- hashing
def test_xxhash64_matches_spark(spark):
    import pyspark.sql.functions as F

    tokens = ["", "a", "hello", "term0000", "café", "x" * 100,
              "中文", "rare_12345"]
    df = spark.createDataFrame([(t, i) for i, t in enumerate(tokens)], "s string, v long")
    rows = df.select(
        "s", "v",
        F.xxhash64("s").alias("h1"),
        F.xxhash64("s", "v").alias("h2"),
    ).collect()
    for r in rows:
        assert xxhash64_str(r.s) == r.h1, r.s
        assert xxhash64_str_long(r.s, r.v) == r.h2, r.s


def test_term_hash_stable():
    # golden values: must never change across releases (index format
    # compatibility contract)
    assert term_hash("term0000") == xxhash64_str("term0000")
    assert isinstance(term_hash("x"), int)
    assert term_hash("x") != term_hash("y")


# ----------------------------------------------------------------- codecs
def _naive_varbyte(values):
    out = bytearray()
    for v in values:
        v = int(v)
        while True:
            b = v & 0x7F
            v >>= 7
            if v:
                out.append(b | 0x80)
            else:
                out.append(b)
                break
    return bytes(out)


@given(st.lists(st.integers(min_value=0, max_value=2**63 - 1), max_size=200))
@settings(max_examples=200, deadline=None)
def test_varbyte_roundtrip(values):
    arr = np.array(values, dtype=np.int64)
    enc = varbyte_encode(arr)
    assert enc == _naive_varbyte(values)
    dec = varbyte_decode(enc)
    assert dec.tolist() == values


@given(st.lists(st.integers(min_value=0, max_value=2**62), max_size=200))
@settings(max_examples=100, deadline=None)
def test_delta_roundtrip(values):
    arr = np.array(sorted(values), dtype=np.int64)
    assert delta_decode(delta_encode(arr)).tolist() == arr.tolist()


def test_codecs_empty():
    assert varbyte_encode(np.array([], dtype=np.int64)) == b""
    assert varbyte_decode(b"").tolist() == []


# ------------------------------------------------------------------- bm25
def test_bm25_hand_computed():
    # N=10 docs, term in 2 docs, tf=3, dl=100, avgdl=80
    idf = math.log((10 - 2 + 0.5) / (2 + 0.5) + 1.0)
    tf_norm = 3 / (3 + 1.2 * (1 - 0.75 + 0.75 * 100 / 80))
    expected = idf * 2.2 * tf_norm
    assert bm25_score(3, 2, 100, 10, 80) == pytest.approx(expected, rel=1e-12)


def test_bm25_idf_positive_even_for_common_terms():
    assert bm25_idf(999, 1000) > 0


def test_to_fixed_half_up():
    assert to_fixed(1.0) == 2**32
    assert to_fixed(0.0) == 0
    # deterministic total order property: monotone
    assert to_fixed(0.5) < to_fixed(0.5000001)


@given(
    st.lists(
        st.integers(min_value=120, max_value=135), min_size=1, max_size=64
    )
)
@settings(max_examples=100, deadline=None)
def test_varbyte_continuation_boundary(values):
    """Mixed 1-byte/2-byte values straddle the fast path's trigger
    (any byte >= 0x80): both the all-small cast path and the reduceat
    general path must agree with the naive encoder."""
    arr = np.array(values, dtype=np.int64)
    assert varbyte_decode(varbyte_encode(arr)).tolist() == values
    small = np.minimum(arr, 127)
    assert varbyte_decode(varbyte_encode(small)).tolist() == small.tolist()


def test_batched_block_decode_equals_per_block():
    """decode_blocks_batch == per-block decode_postings_block for arbitrary
    block partitions of an ascending doc_id stream (hypothesis)."""
    import numpy as np
    from hypothesis import given, settings, strategies as st

    from meme_search_engine_spark.common.codecs import (
        decode_blocks_batch,
        decode_postings_block,
        varbyte_encode,
    )

    @settings(max_examples=50, deadline=None)
    @given(
        st.lists(
            st.integers(min_value=1, max_value=2**33), min_size=1, max_size=60
        ),
        st.data(),
    )
    def run(gaps, data):
        docs = np.cumsum(np.asarray(gaps, dtype=np.int64))
        n = len(docs)
        tfs = data.draw(
            st.lists(
                st.integers(1, 300), min_size=n, max_size=n
            )
        )
        dls = data.draw(
            st.lists(
                st.integers(1, 5000), min_size=n, max_size=n
            )
        )
        n_blocks = data.draw(st.integers(1, min(6, n)))
        cuts = sorted(
            data.draw(
                st.lists(
                    st.integers(1, n - 1),
                    min_size=n_blocks - 1,
                    max_size=n_blocks - 1,
                    unique=True,
                )
            )
        ) if n > 1 else []
        bounds = [0] + cuts + [n]
        t = {"n": [], "doc_ids": [], "tfs": [], "dls": []}
        per_ids, per_tfs, per_dls = [], [], []
        for s0, e0 in zip(bounds[:-1], bounds[1:]):
            d = docs[s0:e0]
            deltas = np.diff(np.concatenate(([0], d)))
            b_doc = varbyte_encode(deltas)
            b_tf = varbyte_encode(np.asarray(tfs[s0:e0]))
            b_dl = varbyte_encode(np.asarray(dls[s0:e0]))
            t["n"].append(e0 - s0)
            t["doc_ids"].append(b_doc)
            t["tfs"].append(b_tf)
            t["dls"].append(b_dl)
            pd_, pt, pl = decode_postings_block(b_doc, b_tf, b_dl)
            per_ids.append(pd_)
            per_tfs.append(pt)
            per_dls.append(pl)
        t["n"] = np.asarray(t["n"], dtype=np.int64)
        bd, bt, bl = decode_blocks_batch(t, list(range(len(bounds) - 1)))
        assert (bd == np.concatenate(per_ids)).all()
        assert (bt == np.concatenate(per_tfs)).all()
        assert (bl == np.concatenate(per_dls)).all()
        assert (bd == docs).all()

    run()


def test_partial_topk_boundary_ties_keep_smallest_ids():
    """Exact-tied scores at the k boundary must resolve to the smallest
    ids — the partial top-k has to keep boundary ties, not an
    argpartition-arbitrary subset."""
    from meme_search_engine_spark.common.topk import partial_topk_indices

    scores = np.array(
        [[1.0], [0.5], [0.5], [0.5], [0.5], [0.2]], dtype=np.float64
    )
    ids = np.array([7, 40, 12, 99, 3, 1], dtype=np.int64)
    idx = partial_topk_indices(scores, ids, 3)
    assert sorted(ids[idx[:, 0]].tolist()) == [3, 7, 12]
