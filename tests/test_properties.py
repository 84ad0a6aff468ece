"""Property-based tests (hypothesis) for invariants golden tests can't pin:
chunk reconstruction over arbitrary document lengths, hash-sample
monotonicity, nested-drop isolation, NestedTransformer against a
pure-Python evaluator. Example counts are kept small because
each example runs a Spark job."""

from __future__ import annotations

import json
import math

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from config_driven_pyspark_spark.operators import corpus as C
from config_driven_pyspark_spark.operators.transform import NestedTransformer, drop_nested

SETTINGS = dict(max_examples=8, deadline=None)


def _doc_df(spark, n_tokens: int, doc_id: int = 1):
    text = " ".join(f"t{i}" for i in range(n_tokens))
    return spark.createDataFrame([(doc_id, text)], "id long, text string")


@given(
    n_tokens=st.integers(min_value=1, max_value=130),
    chunk_size=st.integers(min_value=1, max_value=60),
)
@settings(**SETTINGS)
def test_chunks_partition_document_exactly(spark, n_tokens, chunk_size):
    df = _doc_df(spark, n_tokens)
    chunks = (
        C.chunk_documents(df, "id", chunk_size=chunk_size)
        .orderBy("chunk_idx")
        .collect()
    )
    # non-overlapping chunks cover the doc exactly, in order, within size
    assert all(c["n_tokens"] <= chunk_size for c in chunks)
    assert sum(c["n_tokens"] for c in chunks) == n_tokens
    rebuilt = " ".join(c["chunk_text"] for c in chunks)
    assert rebuilt == " ".join(f"t{i}" for i in range(n_tokens))


@given(
    lo=st.integers(min_value=0, max_value=128),
    delta=st.integers(min_value=0, max_value=128),
)
@settings(**SETTINGS)
def test_hash_sample_monotone_subset(spark, docs_pool, lo, delta):
    rate_lo, rate_hi = lo / 256, min(256, lo + delta) / 256
    small = {r["id"] for r in C.hash_sample(docs_pool, "id", rate=rate_lo).collect()}
    big = {r["id"] for r in C.hash_sample(docs_pool, "id", rate=rate_hi).collect()}
    assert small <= big  # raising the rate only ever adds rows


@given(drop_b=st.booleans(), drop_junk=st.booleans(), drop_size=st.booleans())
@settings(**SETTINGS)
def test_drop_nested_isolation(spark, drop_b, drop_junk, drop_size):
    data = [{"id": 7, "info": {"a": 1, "b": 2, "c": {"x": 9, "junk": "z"}},
             "pets": [{"name": "rex",
                       "face": {"eyes": [{"colour": "blue", "size": 2}]}}]}]
    df = spark.read.json(
        spark.sparkContext.parallelize([json.dumps(r) for r in data])
    )
    paths = (
        (["info.b"] if drop_b else [])
        + (["info.c.junk"] if drop_junk else [])
        + (["pets.face.eyes.size"] if drop_size else [])
    )
    out = drop_nested(df, paths)
    row = out.collect()[0]
    # survivors always intact regardless of which siblings were dropped
    assert row["id"] == 7
    assert row["info"]["a"] == 1
    assert row["info"]["c"]["x"] == 9
    assert row["pets"][0]["face"]["eyes"][0]["colour"] == "blue"
    info_fields = set(row["info"].asDict())
    assert ("b" in info_fields) == (not drop_b)


# leaf function name → (leaf type, pure-Python evaluation of the Spark builtin)
_LEAF_FNS = {
    "upper": ("string", str.upper),
    "negative": ("double", lambda v: -v),
    "abs": ("double", abs),
    # Spark's round is HALF_UP, Python's is half-to-even
    "round": ("double", lambda v: math.copysign(math.floor(abs(v) + 0.5), v)),
}


@st.composite
def _nested_case(draw):
    """A struct ``s`` of 1–6 leaves, optionally holding a struct ``inner``
    and an array of structs ``items`` (each 1–6 leaves), a random subset of
    leaves touched, and two rows of values (nulls included)."""

    def leaves(prefix):
        return [
            (f"{prefix}{i}", draw(st.sampled_from(sorted(_LEAF_FNS))), draw(st.booleans()))
            for i in range(draw(st.integers(1, 6)))
        ]

    top = {"": leaves("f")}
    if draw(st.booleans()):
        top["inner"] = leaves("g")
    if draw(st.booleans()):
        top["items"] = leaves("h")

    def value(fn):
        if _LEAF_FNS[fn][0] == "string":
            return draw(st.none() | st.text("abXY z", max_size=3))
        return draw(st.none() | st.integers(-12, 12).map(lambda k: k / 4))

    def struct(group):
        return {name: value(fn) for name, fn, _ in group}

    rows = []
    for row_id in range(2):
        s = struct(top[""])
        if "inner" in top:
            s["inner"] = struct(top["inner"])
        if "items" in top:
            s["items"] = [struct(top["items"]) for _ in range(draw(st.integers(0, 2)))]
        rows.append({"id": row_id, "s": s})
    return top, rows


def _leaf_ddl(group):
    return ", ".join(f"{name}: {_LEAF_FNS[fn][0]}" for name, fn, _ in group)


def _expect(struct, group):
    for name, fn, touched in group:
        if touched and struct[name] is not None:
            struct[name] = _LEAF_FNS[fn][1](struct[name])


@given(case=_nested_case())
@settings(max_examples=8, deadline=None, derandomize=True)
def test_nested_transformer_matches_python_evaluator(spark, case):
    top, rows = case
    members = [_leaf_ddl(top[""])]
    if "inner" in top:
        members.append(f"inner: struct<{_leaf_ddl(top['inner'])}>")
    if "items" in top:
        members.append(f"items: array<struct<{_leaf_ddl(top['items'])}>>")
    df = spark.createDataFrame(rows, f"id long, s struct<{', '.join(members)}>")

    engine = NestedTransformer()
    for key, group in top.items():
        prefix = f"s.{key}." if key else "s."
        for name, fn, touched in group:
            if touched:
                engine.add(prefix + name, fn)
    got = sorted(
        (r.asDict(recursive=True) for r in engine.apply(df).collect()),
        key=lambda r: r["id"],
    )

    for row in rows:
        _expect(row["s"], top[""])
        if "inner" in top:
            _expect(row["s"]["inner"], top["inner"])
        for item in row["s"].get("items", []):
            _expect(item, top["items"])
    assert got == rows


# -- shared fixture ----------------------------------------------------------

import pytest  # noqa: E402


@pytest.fixture(scope="module")
def docs_pool(spark):
    rows = [(i, f"doc number {i}") for i in range(200)]
    return spark.createDataFrame(rows, "id long, text string").cache()


def _py_minhash(shingles, num_hashes, seed=7):
    """Pure-Python reference of dedup.minhash_signature: xxhash64 is not
    reimplemented (JVM-side); instead the base hashes are fetched from Spark
    once, and the universal-hash fold is replicated exactly."""
    import random as _random

    P = (1 << 31) - 1
    rng = _random.Random(seed)
    ab = [(rng.randrange(1, P), rng.randrange(0, P)) for _ in range(num_hashes)]
    return [
        min(((a * x + b) % P for x in shingles), default=P)
        for a, b in ab
    ]


def test_minhash_signature_matches_python_reference(spark):
    """The Column-expression fold (aggregate+zip_with over one base hash per
    shingle) computes exactly min_i over shingles of (a_i*x+b_i) mod P —
    pinned against an independent Python evaluation of the same recipe on
    the same base hashes."""
    from config_driven_pyspark_spark.operators.dedup import (
        _MH_P, minhash_signature,
    )

    df = spark.createDataFrame(
        [(1, ["alpha", "beta", "gamma"]), (2, ["beta"]), (3, [])],
        "id bigint, sh array<string>",
    )
    bases = {
        r["id"]: r["bases"]
        for r in df.select(
            "id",
            F.transform("sh", lambda s: F.xxhash64(s).bitwiseAND(F.lit(_MH_P)))
            .alias("bases"),
        ).collect()
    }
    sigs = {
        r["id"]: r["sig"]
        for r in df.select("id", minhash_signature(F.col("sh"), 16).alias("sig"))
        .collect()
    }
    for doc_id, sig in sigs.items():
        assert sig == _py_minhash(bases[doc_id], 16), f"doc {doc_id}"
    # identical shingle sets → identical signatures; disjoint sets differ
    assert sigs[1] != sigs[2]
    assert sigs[3] == [_MH_P] * 16  # empty doc: init value everywhere


def test_minhash_signatures_df_matches_column_fold(spark):
    """The codegen-shaped explode+min-aggregate form (what minhash_lsh_pairs
    runs) produces row-identical signatures to the Column-expression fold,
    including the all-P signature for empty shingle sets."""
    from config_driven_pyspark_spark.operators.dedup import (
        minhash_signature, minhash_signatures_df,
    )

    df = spark.createDataFrame(
        [(1, ["alpha", "beta", "gamma"]), (2, ["beta"]), (3, []),
         (4, ["alpha", "beta", "gamma"]), (5, None)],
        "id bigint, sh array<string>",
    )
    fold = {
        r["id"]: r["sig"]
        for r in df.select(
            "id", minhash_signature(F.col("sh"), 16).alias("sig")
        ).collect()
    }
    agg = {
        r["id"]: r["sig"]
        for r in minhash_signatures_df(df, 16).collect()
    }
    assert fold == agg


def test_minhash_prehashed_signatures_equal_string_path(spark):
    """_shingle_df(hashed=True) + pre_hashed signatures equal the string
    path bit-for-bit (only the xxhash64 site moves), and include_empty=False
    drops exactly the empty-set docs instead of emitting all-P rows."""
    from config_driven_pyspark_spark.operators.dedup import (
        minhash_signatures_df,
    )

    df = spark.createDataFrame(
        [(1, ["alpha", "beta"]), (2, ["gamma"]), (3, [])],
        "id bigint, sh array<string>",
    )
    hashed = df.select(
        "id", F.transform("sh", lambda s: F.xxhash64(s)).alias("sh")
    )
    via_str = {
        r["id"]: r["sig"] for r in minhash_signatures_df(df, 16).collect()
    }
    via_hash = {
        r["id"]: r["sig"]
        for r in minhash_signatures_df(hashed, 16, pre_hashed=True).collect()
    }
    assert via_str == via_hash
    non_empty = {
        r["id"]
        for r in minhash_signatures_df(
            hashed, 16, pre_hashed=True, include_empty=False
        ).collect()
    }
    assert non_empty == {1, 2}


def test_minhash_lsh_pairs_empty_docs_are_exact_dups(spark):
    """Empty/short docs share the single partial shingle "" — they pair at
    Jaccard 1.0 (exact dups under the shingle definition), pinned here so a
    length-filter upstream stays the documented mitigation."""
    from config_driven_pyspark_spark.operators.dedup import minhash_lsh_pairs

    df = spark.createDataFrame(
        [(1, "the quick brown fox jumps over the lazy dog"),
         (2, "the quick brown fox jumps over the lazy dog"),
         (3, ""), (4, "")],
        "id bigint, text string",
    )
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in minhash_lsh_pairs(
            df, "id", "text", k=5, num_hashes=16, bands=4, unit="word"
        ).collect()
    }
    assert got == {(1, 2): 1.0, (3, 4): 1.0}


@settings(max_examples=15, deadline=None)
@given(
    texts=st.lists(
        st.text(alphabet="ab cd", min_size=0, max_size=40), min_size=1,
        max_size=8,
    ),
    seq_len=st.integers(min_value=1, max_value=7),
)
def test_pack_sequences_conserves_token_stream(spark, texts, seq_len):
    """Packing is a pure re-cut of the md5-ordered token stream: concat of
    sequences == concat of per-doc tokens in md5(id) order, and every
    sequence except the last is exactly seq_len tokens."""
    import hashlib

    from config_driven_pyspark_spark.operators.corpus import pack_sequences

    df = spark.createDataFrame(
        list(enumerate(texts)), "id bigint, text string"
    )
    rows = sorted(
        pack_sequences(df, "id", seq_len=seq_len).collect(),
        key=lambda r: r["seq_id"],
    )
    got = [t for r in rows for t in r["seq_text"].split()]
    order = sorted(range(len(texts)),
                   key=lambda i: (hashlib.md5(str(i).encode()).hexdigest(), i))
    want = [t for i in order for t in texts[i].split()]
    assert got == want
    assert all(r["n_tokens"] == seq_len for r in rows[:-1])
    if rows:
        assert 0 < rows[-1]["n_tokens"] <= seq_len


@settings(max_examples=15, deadline=None)
@given(
    texts=st.lists(
        st.text(alphabet="xy z", min_size=0, max_size=30), min_size=1,
        max_size=6,
    ),
    window=st.integers(min_value=1, max_value=4),
)
def test_line_dedup_each_distinct_segment_survives_once(spark, texts, window):
    """Span dedup keeps every distinct segment exactly once across the
    whole corpus and never invents tokens."""
    from config_driven_pyspark_spark.operators.corpus import line_dedup

    df = spark.createDataFrame(
        list(enumerate(texts)), "id bigint, text string"
    )
    out = line_dedup(df, "id", window=window).collect()
    surviving = [
        seg
        for r in out if r["text"]
        for seg in _windows(r["text"], window)
    ]
    expected = set()
    for t in texts:
        expected.update(_windows(t, window))
    assert sorted(surviving) == sorted(expected)


def _windows(text, window):
    toks = text.split()
    return [
        " ".join(toks[i : i + window]) for i in range(0, len(toks), window)
    ]


def test_shingle_ex_df_matches_array_form(spark):
    """The exploded codegen shingle path (_shingle_ex_df) must produce the
    exact (id, xxhash64) set of explode(_shingle_df(hashed=True)) — same
    normalization, same partial-shingle short/empty behavior, same null
    propagation — for both char and word units."""
    from config_driven_pyspark_spark.operators.dedup import (
        _shingle_df, _shingle_ex_df,
    )

    df = spark.createDataFrame(
        [
            (1, "The  quick   brown fox jumps over the lazy dog"),
            (2, "ab"),                      # shorter than k: one partial
            (3, ""),                        # empty: the "" shingle
            (4, None),                      # null text
            (5, "  padded   WHITESPACE  "), # normalization matters
            (6, "aaaaaaaaaa"),              # heavy duplicate shingles
        ],
        "doc_id bigint, text string",
    )
    for unit, k in (("char", 5), ("word", 3)):
        arr = {
            (r["id"], r["h"])
            for r in _shingle_df(df, "doc_id", "text", k, unit, hashed=True)
            .select("id", F.explode_outer("sh").alias("h")).collect()
        }
        ex = {
            (r["id"], r["h"])
            for r in _shingle_ex_df(df, "doc_id", "text", k, unit).collect()
        }
        assert ex == arr, f"unit={unit}: {ex ^ arr}"


@given(
    h=st.integers(min_value=1, max_value=9),
    w=st.integers(min_value=1, max_value=9),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(**SETTINGS)
def test_bmp_roundtrip_property(h, w, seed):
    """encode→decode is the identity for ANY geometry (row padding,
    odd widths, 1×1) and any pixel content — no Spark job needed."""
    import numpy as np

    from config_driven_pyspark_spark.operators import multimodal as M

    arr = np.random.default_rng(seed).integers(
        0, 256, size=(h, w, 3), dtype="uint8"
    )
    assert np.array_equal(M.decode_bmp(M.encode_bmp(arr)), arr)


@given(
    h=st.integers(min_value=1, max_value=9),
    w=st.integers(min_value=1, max_value=9),
    h2=st.integers(min_value=1, max_value=9),
    w2=st.integers(min_value=1, max_value=9),
)
@settings(**SETTINGS)
def test_resize_nearest_integer_contract(h, w, h2, w2):
    """Every destination pixel equals src[(y*h)//h2][(x*w)//w2] exactly,
    for any up/down-scale combination — the contract the SQL oracles
    replicate."""
    import numpy as np

    from config_driven_pyspark_spark.operators import multimodal as M

    arr = np.arange(h * w * 3, dtype="uint8").reshape(h, w, 3)
    out = M.resize_nearest(arr, w2, h2)
    assert out.shape == (h2, w2, 3)
    for y in range(h2):
        for x in range(w2):
            assert np.array_equal(out[y, x], arr[(y * h) // h2, (x * w) // w2])


@given(
    texts=st.lists(
        st.lists(
            st.sampled_from(["a", "b", "c", "d"]), min_size=0, max_size=6
        ).map(" ".join),
        min_size=1,
        max_size=5,
    ),
    k=st.floats(min_value=0.1, max_value=2.0),
)
@settings(**SETTINGS)
def test_bigram_perplexity_matches_python_reference(spark, texts, k):
    """The distributed bigram LM equals a direct Python reimplementation
    on arbitrary tiny corpora — including empty docs, repeated docs, and
    non-default smoothing."""
    import math
    from collections import Counter

    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {r["doc_id"]: r for r in C.bigram_perplexity(
        docs, vocab_size=100, k_smoothing=k).collect()}

    toks = {i: [w for w in t.split(" ") if w] for i, t in enumerate(texts)}
    bigrams = {i: list(zip(ws, ws[1:])) for i, ws in toks.items()}
    c12 = Counter(b for bs in bigrams.values() for b in bs)
    c1 = Counter(b[0] for bs in bigrams.values() for b in bs)
    vocab = {w for ws in toks.values() for w in ws}
    v = len(vocab) + 1
    for i, bs in bigrams.items():
        exp = sum(
            round(-math.log((c12[b] + k) / (c1[b[0]] + k * v)), 9) for b in bs
        )
        assert got[i]["n_bigrams"] == len(bs), (i, texts)
        assert abs(got[i]["nll_sum"] - exp) < 1e-9, (i, texts)


_WORDS = st.lists(
    st.text(alphabet="abcz", min_size=1, max_size=8),
    min_size=1, max_size=12,
)


@given(words=_WORDS)
@settings(**SETTINGS)
def test_unigram_encode_reassembles_any_corpus(spark, words):
    from config_driven_pyspark_spark.operators import unigram as U

    text = " ".join(words)
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    vocab = U.unigram_train(df, vocab_size=20, max_piece_len=3)
    toks = U.unigram_encode(df, vocab, max_piece_len=3,
                            max_word_len=8).first()["unigram_tokens"]
    # Viterbi segmentation is a partition of the concatenated words
    assert "".join(toks) == "".join(words)


@given(words=_WORDS)
@settings(**SETTINGS)
def test_wordpiece_encode_roundtrip_or_unk(spark, words):
    from config_driven_pyspark_spark.operators import wordpiece as W

    text = " ".join(words)
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    vocab = W.wordpiece_train(df, vocab_size=20, max_piece_len=3)
    toks = W.wordpiece_encode(df, vocab, max_piece_len=3,
                              max_word_len=8).first()["wordpiece_tokens"]
    # every word either reassembles exactly or is a single [UNK]
    # (self-trained vocab: words <= max_word_len always reassemble)
    out_words, cur = [], []
    for t in toks:
        if t == W.UNK_TOKEN:
            assert not cur
            out_words.append(None)
        elif t.startswith("##"):
            cur.append(t[2:])
        else:
            if cur:
                out_words.append("".join(cur))
            cur = [t]
    if cur:
        out_words.append("".join(cur))
    for got, want in zip(out_words, words):
        assert got == want or (got is None and len(want) > 8)
    assert len(out_words) == len(words)


@given(
    words=_WORDS,
    hay=st.lists(st.sampled_from(["aa", "bb", "aa bb", "zz cz a"]),
                 min_size=1, max_size=3),
)
@settings(**SETTINGS)
def test_blocklist_matches_python_reference(spark, words, hay):
    from config_driven_pyspark_spark.operators.corpus import (
        word_blocklist_filter,
    )

    text = " ".join(words)
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    r = word_blocklist_filter(df, hay, mode="flag").first()
    # python reference: count token-sequence occurrences per entry
    toks = [w for w in text.lower().split(" ") if w]
    expected = 0
    offenders = set()
    for entry in {" ".join(h.lower().split()) for h in hay}:
        parts = entry.split(" ")
        n = len(parts)
        c = sum(toks[i:i + n] == parts
                for i in range(max(len(toks) - n, 0) + 1))
        expected += c
        if c:
            offenders.add(entry)
    assert r["n_blocked"] == expected
    assert set(r["blocked_words"]) == offenders


def test_jpeg_flat_color_closed_form_any_color():
    """Property: for ANY flat RGB color (clamp edges included), the
    decoded 16x16 quality-90 JPEG is uniform and equals the closed-form
    quantize/dequantize replay on the 9-decimal grid — the q_jpeg_decode
    oracle arithmetic, so a counterexample here is a latent driver
    hash-mismatch."""
    import math

    import numpy as np
    from hypothesis import given, settings, strategies as st

    from config_driven_pyspark_spark.operators import multimodal as M

    ql, qc = M._jpeg_quant(90)

    def rt(v, q):
        dc = math.floor(round(8.0 * (v - 128.0) / q, 9) + 0.5)
        return min(255.0, max(0.0, math.floor(
            round(dc * q / 8.0 + 128.0, 9) + 0.5)))

    @settings(max_examples=200, deadline=None)
    @given(st.tuples(st.integers(0, 255), st.integers(0, 255),
                     st.integers(0, 255)))
    def check(color):
        arr = np.tile(np.array(color, dtype="uint8"), (16, 16, 1))
        out = M.decode_jpeg(M.encode_jpeg(arr, quality=90))
        uniq = np.unique(out.reshape(-1, 3), axis=0)
        assert len(uniq) == 1, color
        r, g, b = (float(c) for c in color)
        y = 0.299 * r + 0.587 * g + 0.114 * b
        cb = -0.168736 * r - 0.331264 * g + 0.5 * b + 128.0
        cr = 0.5 * r - 0.418688 * g - 0.081312 * b + 128.0
        yd, cbd, crd = rt(y, ql[0]), rt(cb, qc[0]), rt(cr, qc[0])
        want = (
            min(255, max(0, math.floor(
                round(yd + 1.402 * (crd - 128), 9) + 0.5))),
            min(255, max(0, math.floor(
                round(yd - 0.344136 * (cbd - 128)
                      - 0.714136 * (crd - 128), 9) + 0.5))),
            min(255, max(0, math.floor(
                round(yd + 1.772 * (cbd - 128), 9) + 0.5))),
        )
        assert tuple(int(c) for c in uniq[0]) == want, color

    check()


@given(
    n=st.integers(min_value=1, max_value=700),
    block=st.sampled_from([16, 64, 256, 4096]),
    stereo=st.booleans(),
    lpc=st.booleans(),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=20, deadline=None)
def test_flac_roundtrip_property(n, block, stereo, lpc, seed):
    """FLAC is lossless for ANY int16 signal, every channel/subframe/
    blocksize combination — encode(decode(x)) == x, no Spark needed."""
    import numpy as np

    from config_driven_pyspark_spark.operators import multimodal as MM

    rng = np.random.RandomState(seed)
    kind = seed % 3
    if kind == 0:       # random walk (FIXED-1/2 territory)
        sig = np.cumsum(rng.randint(-500, 500, n)).clip(-32768, 32767)
    elif kind == 1:     # white noise (verbatim/rice escape territory)
        sig = rng.randint(-32768, 32768, n)
    else:               # near-constant with spikes
        sig = np.full(n, int(rng.randint(-100, 100)))
        if n > 3:
            sig[rng.randint(0, n, max(1, n // 50))] = 32767
    if stereo:
        other = np.roll(sig, 1) + rng.randint(-3, 4, n)
        sig = np.column_stack([sig, np.clip(other, -32768, 32767)])
    sig = sig.astype("<i2")
    enc = MM.encode_flac(sig, 8000, block_size=block, use_lpc=lpc)
    arr, rate = MM.decode_flac(enc)
    assert rate == 8000
    want = sig if stereo else sig.reshape(-1, 1)
    assert arr.shape == want.shape
    assert (arr == want).all()


@given(
    n=st.integers(min_value=1, max_value=400),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
@settings(max_examples=15, deadline=None)
def test_mulaw_adpcm_decode_bounds_property(n, seed):
    """Lossy telephony codecs: expansion stays in int16 range and the
    mu-law compand error is bounded by the largest segment's step
    (<= 1007 by the G.711 ladder) for ANY input."""
    import numpy as np

    from config_driven_pyspark_spark.operators import multimodal as MM

    rng = np.random.RandomState(seed)
    sig = rng.randint(-32768, 32768, n).astype("<i2")
    arr, rate = MM.decode_wav(MM.encode_wav_mulaw(sig.reshape(-1, 1), 8000))
    assert rate == 8000 and arr.shape == (n, 1)
    assert int(np.abs(arr.astype("int64").reshape(-1) - sig).max()) <= 1007
    arr2, _ = MM.decode_wav(MM.encode_wav_adpcm(sig, 8000))
    assert arr2.shape == (n, 1)
    assert arr2.dtype == np.dtype("<i2") or arr2.dtype == np.dtype("int16")
