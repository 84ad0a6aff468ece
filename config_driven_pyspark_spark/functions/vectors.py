"""Vector Column functions — dot product, norms, cosine, hashing families.

All pure Column expressions (``zip_with`` / ``aggregate`` higher-order
functions, or their unrolled whole-stage-codegen equivalents), evaluated
JVM-side — no Python UDFs, so they hold up on billions of vectors.
Computation is in double precision regardless of storage type
(embeddings parquet stores float32) so results match a double-precision
oracle.

The unrolled builders (``dot`` with ``dim=``, ``hyperplane_signature``)
emit ONE SQL string for ``F.expr`` (three py4j calls; a Column built node
by node cost thousands), so they take column NAMES or float literals.
"""

from __future__ import annotations

import math
from typing import Sequence, Union

from pyspark.sql import Column
from pyspark.sql import functions as F

# a vector operand of the SQL-text builders: column name or float literals
Vec = Union[str, Sequence[float]]


def as_double(vec: Column) -> Column:
    return vec.cast("array<double>")


# Above this many components the unrolled dot's generated code stops
# paying for itself (method size; py4j build calls do not grow with width);
# the HOF path takes over. 256 covers every embedding dim the engine ships.
_UNROLL_CAP = 256


def _sql(v: Vec) -> str:
    """A column reference back-quoted per ``.`` part (``"x.v"`` resolves
    like ``F.col("x.v")``), or an ``array`` of double literals."""
    if isinstance(v, str):
        return ".".join("`" + p.replace("`", "``") + "`" for p in v.split("."))
    return f"array({', '.join(_double(x) for x in v)})"


def _double(x: float) -> str:
    """A double literal Spark parses back to the identical value (``repr``
    is the shortest round-tripping decimal)."""
    x = float(x)
    return f"{x!r}D" if math.isfinite(x) else f"CAST('{x}' AS DOUBLE)"


def _element(v: Vec, i: int) -> str:
    if isinstance(v, str):
        return f"CAST(element_at({_sql(v)}, {i}) AS DOUBLE)"
    return _double(v[i - 1])


def _hof_sql(a: Vec, b: Vec) -> str:
    return (
        f"aggregate(zip_with(CAST({_sql(a)} AS ARRAY<DOUBLE>), "
        f"CAST({_sql(b)} AS ARRAY<DOUBLE>), (x, y) -> x * y), "
        "0.0D, (acc, p) -> acc + p)"
    )


def _unrolled_sql(a: Vec, b: Vec, dim: int) -> str:
    """``((0.0 + a₁·b₁) + a₂·b₂) + …`` — the fold's exact order, no size
    guard (callers must guard; out-of-range ``element_at`` raises under
    ANSI). Elements cast to double individually: float→double widening
    is exact, so this equals the whole-array cast."""
    terms = [f"{_element(a, i)} * {_element(b, i)}" for i in range(1, dim + 1)]
    return " + ".join(["0.0D", *terms])


def dot(a: Column | Vec, b: Column | Vec, dim: int | None = None) -> Column:
    """Σ aᵢ·bᵢ with left-to-right summation.

    Default path: ``zip_with`` + ``aggregate``. Higher-order functions
    are CodegenFallback in Spark 4 — every pair pays an interpreted
    64-step fold plus a zipped-array allocation, which dominates
    brute-force / bucket-pair scoring (measured 2.4× on 2M 64-dim
    pairs, r16). ``a``/``b`` may be Columns here.

    When the caller knows the vector width, ``dim`` switches to an
    UNROLLED whole-stage-codegen sum ``((0.0 + a₁·b₁) + a₂·b₂) + …`` —
    the exact IEEE summation order of the fold, so results are
    bit-identical (pinned by tests/test_featurize.py). A size guard
    keeps the HOF semantics for rows whose arrays are not ``dim`` wide
    (NULL arrays short-circuit the guard to the HOF branch, which
    returns NULL exactly like before). The guard, sum and fallback are
    one SQL expression, so ``a``/``b`` must be column names or literal
    float sequences (a literal whose length is not ``dim`` takes the HOF
    path). The py4j calls to build it do not grow with ``dim``.
    """
    unroll = dim is not None and 0 < dim <= _UNROLL_CAP
    if isinstance(a, Column) or isinstance(b, Column):
        if unroll:
            raise TypeError(
                "dot(..., dim=) builds SQL text: pass column names or "
                "float lists, not Columns"
            )
        return F.aggregate(
            F.zip_with(as_double(a), as_double(b), lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    hof = _hof_sql(a, b)
    if not unroll or any(len(v) != dim for v in (a, b) if not isinstance(v, str)):
        return F.expr(hof)
    guard = " AND ".join(
        f"size({_sql(v)}) = {dim}" for v in (a, b) if isinstance(v, str)
    )
    return F.expr(
        f"CASE WHEN {guard} THEN {_unrolled_sql(a, b, dim)} "
        f"ELSE {hof} END"
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(as_double(a), F.lit(0.0), lambda acc, v: acc + v * v)
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def unit_normalize(a: Column) -> Column:
    """Scale to unit L2 norm — pre-normalizing the corpus once turns cosine
    top-k into a plain dot-product top-k (the scale path: normalize at write
    time, never per-query).

    Built as one ``aggregate`` whose *finish* lambda divides by the final
    accumulator: the sum of squares is computed once per row and captured
    as a lambda variable. The naive ``transform(a, x -> x / norm(a))``
    embeds the whole norm aggregate inside the per-element lambda, and
    higher-order functions evaluate interpreted with no common-
    subexpression elimination — measured 64× redundant summation per row
    on 64-dim vectors. Same float semantics (identical summation order and
    division), just evaluated once."""
    return F.aggregate(
        as_double(a),
        F.lit(0.0),
        lambda acc, v: acc + v * v,
        lambda s: F.transform(as_double(a), lambda v: v / F.sqrt(s)),
    )


def _signature_sql(dots: list[str]) -> str:
    """``sig = sig * 2 + (dotᵢ >= 0)`` folded over the planes, in bigint."""
    sig = "CAST(0 AS BIGINT)"
    for d in dots:
        sig = f"({sig}) * 2 + CASE WHEN ({d}) >= 0 THEN 1 ELSE 0 END"
    return sig


def hyperplane_signature(vec: str, hyperplanes: Sequence[Sequence[float]]) -> Column:
    """Random-hyperplane (SRP) LSH signature: bit i = sign(vec · hᵢ).

    Returns a bigint bucket id. ``vec`` is a column NAME; ``hyperplanes``
    are driver-side constants (deterministic seed) written as double
    literals, so the signature is a pure expression; equal buckets ⇒
    likely-high cosine. Used to prune ANN candidate pairs from O(n²) to
    O(n·bucket_size) at scale.

    With equal-width planes (≤ ``_UNROLL_CAP``) every bit's dot is
    unrolled like :func:`dot`'s ``dim=`` path, under ONE outer size guard
    whose fallback is the HOF signature. Built as one SQL expression:
    the py4j calls to build it do not grow with width or plane count.
    """
    hof = _signature_sql([_hof_sql(vec, p) for p in hyperplanes])
    dims = {len(p) for p in hyperplanes}
    d = dims.pop() if len(dims) == 1 else 0
    if not (0 < d <= _UNROLL_CAP):
        return F.expr(hof)
    unrolled = _signature_sql([_unrolled_sql(vec, p, d) for p in hyperplanes])
    return F.expr(
        f"CASE WHEN size({_sql(vec)}) = {d} THEN {unrolled} ELSE {hof} END"
    )
