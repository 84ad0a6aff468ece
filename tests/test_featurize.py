"""hash_embed pins: md5 bucket/sign formula, unit norm, zero-vector
edges, ANN-stack composability, and config-stage wiring."""

from __future__ import annotations

import hashlib
import math

import pytest
from pyspark.sql import functions as F

from config_driven_pyspark_spark.operators.featurize import hash_embed

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def documents(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


def _py_embed(text: str, dim: int = 64) -> list[float]:
    toks = [w for w in text.lower().split(" ") if w]
    grams = toks + [f"{a} {b}" for a, b in zip(toks, toks[1:])]
    v = [0] * dim
    for g in grams:
        h = hashlib.md5(g.encode()).hexdigest()
        v[int(h[:8], 16) % dim] += 1 if int(h[8], 16) % 2 == 0 else -1
    n = math.sqrt(sum(x * x for x in v))
    return [round(x / n, 9) if n else 0.0 for x in v]


def test_matches_reference_formula(spark):
    df = spark.createDataFrame(
        [(1, "The quick brown fox"), (2, "jumps over the lazy dog")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["embedding"], r["text"])
        for r in hash_embed(df, dim=16).collect()
    }
    for did, (emb, text) in out.items():
        assert emb == _py_embed(text, 16), did


def test_unit_norm_and_zero_edges(spark, documents):
    out = hash_embed(documents.limit(50), dim=32)
    for r in out.select("embedding").collect():
        n = sum(x * x for x in r["embedding"])
        assert abs(n - 1.0) < 1e-6
    # empty and null text embed as the zero vector, all columns kept
    edge = spark.createDataFrame(
        [(1, ""), (2, None), (3, "   ")], "doc_id long, text string"
    )
    rows = hash_embed(edge, dim=8).collect()
    assert all(r["embedding"] == [0.0] * 8 for r in rows)
    assert {r["doc_id"] for r in rows} == {1, 2, 3}


def test_feeds_the_ann_stack(spark):
    from config_driven_pyspark_spark.operators.similarity import (
        brute_force_topk,
    )

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"),
         (3, "alpha beta gamma epsilon"), (4, "totally unrelated words here")],
        "doc_id long, text string",
    )
    emb = hash_embed(df, dim=32).select(
        F.col("doc_id").alias("vec_id"), "embedding"
    )
    top = brute_force_topk(emb, emb.filter("vec_id = 1"), k=3).collect()
    ranked = [r["neighbor_id"] for r in sorted(top, key=lambda r: r["rank"])]
    # identical text -> cosine 1.0 first; one-word-off second; junk last
    assert ranked == [2, 3, 4]
    assert max(r["cosine"] for r in top) == pytest.approx(1.0, abs=1e-6)


def test_stage_wiring_and_errors(spark, documents):
    from config_driven_pyspark_spark import Pipeline

    out = Pipeline.from_config([
        {"stage": "source", "format": "parquet",
         "path": f"{SF_DIR}/documents.parquet"},
        {"stage": "corpus", "op": "hash_embed", "column": "text",
         "id_col": "doc_id", "dim": 16, "out_col": "emb"},
    ]).run(spark)
    assert "emb" in out.columns
    assert out.count() == documents.count()
    with pytest.raises(ValueError, match="dim"):
        hash_embed(documents, dim=0)


def test_unrolled_dot_bit_identical_to_hof(spark):
    """r16: ``V.dot(..., dim=)`` unrolls into whole-stage codegen — the
    result must be BIT-identical to the interpreted HOF fold on every
    shape: equal widths, mismatched widths (guard falls back), NULL
    elements, NULL arrays, float storage, and a width over the unroll
    cap (silently ignores dim)."""
    from config_driven_pyspark_spark.functions import vectors as V

    rows = [
        (1, [0.1, 0.2, 0.3], [1.5, -2.5, 0.25]),          # plain
        (2, [1e300, -1e300, 1.0], [1.0, 1.0, 1e-300]),    # extreme
        (3, [0.1, 0.2], [1.0, 2.0, 3.0]),                 # width mismatch
        (4, [0.1, None, 0.3], [1.0, 2.0, 3.0]),           # NULL element
        (5, None, [1.0, 2.0, 3.0]),                       # NULL array
        (6, [1 / 3, 2 / 3, 2 / 7], [1 / 7, 5 / 3, -9.0]), # non-terminating
    ]
    df = spark.createDataFrame(rows, "id long, a array<double>, b array<double>")
    out = df.select(
        "id",
        V.dot(F.col("a"), F.col("b")).alias("hof"),
        V.dot("a", "b", 3).alias("unrolled"),
        V.dot(F.col("a"), F.col("b"), 10_000).alias("overcap"),
    ).collect()
    for r in out:
        assert r["hof"] == r["unrolled"] or (
            r["hof"] is None and r["unrolled"] is None
        ), r
        assert r["hof"] == r["overcap"] or (
            r["hof"] is None and r["overcap"] is None
        ), r
    # float32 storage: elementwise cast must equal whole-array cast
    f32 = spark.createDataFrame(
        [(1, [0.1, 0.2, 0.7], [0.9, -0.4, 0.3])],
        "id long, a array<float>, b array<float>",
    ).select(
        V.dot(F.col("a"), F.col("b")).alias("hof"),
        V.dot("a", "b", 3).alias("unrolled"),
    ).collect()[0]
    assert f32["hof"] == f32["unrolled"]
    # literal vectors: each double must survive the SQL text round trip
    # (shortest-repr literals), through the unrolled and the HOF path
    lit = [1 / 3, -0.0, 5e-324]
    odd = [1e300, -2.5e-7, 1 / 3, -0.0]
    got = df.select(
        "id",
        V.dot(F.col("a"), F.array(*[F.lit(x) for x in lit])).alias("hof"),
        V.dot("a", lit, 3).alias("unrolled"),
        V.dot("a", odd, 3).alias("mislen"),
        V.dot("a", lit).alias("sql_hof"),
    ).collect()
    for r in got:
        a = dict((x[0], x[1]) for x in rows)[r["id"]]
        want = None
        if a is not None and None not in a and len(a) == 3:
            want = 0.0
            for x, y in zip(a, lit):
                want += x * y
        assert r["hof"] == r["unrolled"] == r["sql_hof"] or (
            r["hof"] is None and r["unrolled"] is None and r["sql_hof"] is None
        ), r
        assert r["unrolled"] == want or (want is None and r["unrolled"] is None), r
        assert r["mislen"] is None, r  # width 4 literal never matches
    with pytest.raises(TypeError, match="column names"):
        V.dot(F.col("a"), F.col("b"), 3)


def test_unrolled_signature_bit_identical_to_hof(spark):
    """r16: the single-guard unrolled hyperplane signature must equal the
    HOF signature on matching, mismatched, and NULL vectors."""
    from config_driven_pyspark_spark.functions import vectors as V

    planes = [[1.0, -0.5, 0.25], [-2.0, 0.0, 1.0], [0.5, 0.5, 0.5]]
    bad_planes = planes + [[1.0, 2.0]]  # ragged → HOF path only
    # literal round trip: values whose decimal text is long or extreme
    odd_planes = [[1 / 3, -0.0, 5e-324], [1e300, -2.5e-7, 1 / 3],
                  [-0.0, 5e-324, -2.5e-7], [math.inf, 1.0, -1.0]]
    rows = [
        (1, [0.3, -0.2, 0.9]),
        (2, [0.3, -0.2]),      # width mismatch → guard falls back
        (3, None),             # NULL vector → all bits 0, sig 0
        (4, [-1e-300, 3.0, 1e-8]),
    ]
    df = spark.createDataFrame(rows, "id long, v array<double>")
    out = df.select(
        "id",
        V.hyperplane_signature("v", planes).alias("sig"),
        V.hyperplane_signature("v", bad_planes).alias("rag"),
        V.hyperplane_signature("v", odd_planes).alias("odd"),
    ).collect()
    by_id = {r["id"]: r for r in out}

    def py_sig(vec, ps):
        sig = 0
        for p in ps:
            if vec is None or len(vec) != len(p):
                bit = 0  # zip_with pads with NULL → NULL dot → bit 0
            else:
                s = 0.0
                for x, y in zip(vec, p):
                    s += x * y
                bit = 1 if s >= 0 else 0
            sig = sig * 2 + bit
        return sig

    for rid, vec in [(1, rows[0][1]), (2, rows[1][1]), (3, None)]:
        assert by_id[rid]["sig"] == py_sig(vec, planes), rid
        assert by_id[rid]["rag"] == py_sig(vec, bad_planes), rid
    for rid, vec in [(r[0], r[1]) for r in rows]:
        assert by_id[rid]["odd"] == py_sig(vec, odd_planes), rid


def test_unrolled_build_cost_constant_in_width(spark):
    """The unrolled dot and signature are built as one SQL expression:
    the py4j round trips to build them do not grow with the vector width
    (the per-component Column build cost 18k calls for a 256-wide dot).
    No Spark job."""
    from config_driven_pyspark_spark.functions import vectors as V
    from config_driven_pyspark_spark.operators.dedup import srp_planes

    from tests.conftest import py4j_calls

    def calls(dim):
        with py4j_calls() as dot:
            V.dot("a", "b", dim)
        with py4j_calls() as sig:
            V.hyperplane_signature("v", srp_planes(dim, 8, 7))
        return dot.n, sig.n

    V.dot("a", "b", 4)  # first parse pays one-time JVM class loading
    (dot8, sig8), (dot256, sig256) = calls(8), calls(256)
    assert abs(dot256 - dot8) <= 5, (dot8, dot256)
    assert abs(sig256 - sig8) <= 5, (sig8, sig256)
    assert max(dot8, sig8) <= 20, (dot8, sig8)
