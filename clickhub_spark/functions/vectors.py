"""Vector math over array<float> embedding columns, expressed with
higher-order functions (zip_with / aggregate) so the arithmetic stays
JVM-side inside whole-stage codegen — no Python boundary crossing
(SURVEY §2.J6).

The helpers are SQL-text builders: each takes SQL expressions as text
(a plain column name is one) and returns SQL text, so helpers nest by
string composition and the caller parses the finished expression with
ONE ``F.expr`` — a single py4j round trip however many elements,
literals and lambdas it holds.  Building the same trees from
``F.lit`` Columns and Python lambdas costs a round trip per node:
over 2,000 per build of the md5 LSH query, against about 230 as
text.  Two rules of the text:

- Double literals carry a ``D`` suffix (``0D``, ``127D``): a bare
  ``1.0`` parses as DECIMAL, which would change every fold's type.
- Lambda variables are ``__v``-prefixed (``__vx``, ``__vacc``): a SQL
  lambda variable shadows a same-named column, and an argument is
  inlined inside lambda bodies (the ``quantize_int8`` scale, the
  ``nearest_centroid`` row vector), so a column named ``x`` or
  ``acc`` must not be captured.
"""

from __future__ import annotations

import math
from collections.abc import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import Column


def array_literal(values: Iterable[float]) -> str:
    """SQL ``array(…)`` literal of doubles.  ``repr`` round-trips every
    float64 exactly; a NaN/Inf would render as ``nanD``/``infD`` and
    fail to parse at build time with an opaque ParseException, so it
    fails here with the real cause."""
    vals = [float(v) for v in values]
    if not all(math.isfinite(v) for v in vals):
        raise ValueError(
            "non-finite coordinate (NaN/Inf) cannot be rendered as a "
            f"SQL literal: {vals!r}"
        )
    return "array(" + ",".join(f"{v!r}D" for v in vals) + ")"


def as_double(vec: str) -> str:
    """Cast array<float> → array<double>; fp32 parquet values promote
    exactly, and all downstream math is then double-deterministic."""
    return f"transform({vec}, __vx -> cast(__vx as double))"


def dot(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (__vx, __vy) -> __vx * __vy), "
        "0D, (__vacc, __vx) -> __vacc + __vx)"
    )


def norm(a: str) -> str:
    return f"sqrt(aggregate({a}, 0D, (__vacc, __vx) -> __vacc + __vx * __vx))"


def cosine(a: str, b: str) -> str:
    """Cosine similarity; NULL when either vector has zero norm (a
    plain ``/`` raises DIVIDE_BY_ZERO under ANSI mode)."""
    return f"try_divide({dot(a, b)}, {norm(a)} * {norm(b)})"


def maxabs(a: str) -> str:
    return f"aggregate({a}, 0D, (__vacc, __vx) -> greatest(__vacc, abs(__vx)))"


def quantize_int8(vec: str, scale: str | None = None) -> str:
    """Symmetric max-abs int8 quantization: q_i = round(v_i·127/maxabs)
    as tinyint.  With the per-vector ``maxabs`` scale stored alongside
    (see dequantize_int8), this is the 4×-smaller embedding storage
    tier below PQ (which is ~32×): full dimensionality kept, ~0.5 bit
    of mantissa lost — cosine recall is visually unchanged (unit-
    tested ≥ 0.999 reconstruction cosine).  Pure codegen expressions;
    no Python.

    Pass ``scale`` as a materialized column (``withColumn("s",
    F.expr(maxabs(v)))``) in bulk-encode jobs: inlining the maxabs
    aggregate into the per-element lambda makes the expression
    O(dim²) per row — measured 5× slower at 64 dims."""
    s = maxabs(vec) if scale is None else scale
    return (
        f"transform({vec}, __vx -> cast(CASE WHEN {s} = 0D THEN 0 "
        f"ELSE round(__vx * 127D / {s}) END AS tinyint))"
    )


def dequantize_int8(q: str, scale: str) -> str:
    """Inverse of quantize_int8 given the stored maxabs scale."""
    return f"transform({q}, __vc -> cast(__vc as double) * {scale} / 127D)"


def nearest_centroid(
    vec: str,
    centroids: list[tuple[int, list[float]]],
    pre_normalized: bool = False,
) -> str:
    """Map-only nearest-centroid assignment against a bounded centroid
    parameter table inlined as plan literals (the IVF-centroid
    contract: k ≪ corpus, collected driver-side once).  Returns a
    struct ``{sim, cluster}`` — cosine to the winning centroid and its
    id; ties break to the LOWEST centroid id.  No join, no Exchange:
    the k-way scoring is one codegen'd array expression per row.

    ``pre_normalized=True`` is the efficient form: the CALLER passes a
    unit-length ``vec`` (normalize once per row, materialized as a
    column) and the centroid literals are normalized here driver-side,
    so each of the k scores is a single dot-product fold.  The default
    form folds cosine per centroid — norm(vec) is then re-reduced k
    times per row, ~2× the array folds at k=8 and worse as k grows."""

    # r16 (driver-side build cost): the r15 form constructed k×dim
    # separate F.lit() Columns plus one fold expression PER centroid —
    # ~2,900 py4j round-trips at k=45/dim=64, ~3 s of pure driver time
    # per DataFrame build (measured; the count+collect feeding it cost
    # 0.33 s).  The centroid matrix and id list are SQL array literals
    # and the k-way scoring is a single zip_with lambda over them.
    # Per-row arithmetic is unchanged: the same sequential dot/cosine
    # fold per centroid, the same array_max(struct(sim, negid))
    # lowest-id tie-break.

    def _vals(cv: list[float]) -> list[float]:
        if pre_normalized:
            n = sum(float(x) * float(x) for x in cv) ** 0.5 or 1.0
            return [float(x) / n for x in cv]
        return cv

    cents = "array(" + ",".join(array_literal(_vals(cv)) for _, cv in centroids) + ")"
    ids = "array(" + ",".join(f"{-int(cid)}L" for cid, _ in centroids) + ")"
    score = dot if pre_normalized else cosine
    best = (
        f"array_max(zip_with({cents}, {ids}, (__vcv, __vnegid) -> "
        f"named_struct('sim', {score(vec, '__vcv')}, 'negid', __vnegid)))"
    )
    return f"named_struct('sim', {best}.sim, 'cluster', -{best}.negid)"


def nearest_centroid_vectorized(vec: Column | str, centroids: list[tuple[int, list[float]]]) -> Column:
    """Large-k tier of nearest-centroid assignment: an Arrow-batched
    pandas_udf holding the centroid matrix as a closure-broadcast
    numpy array and scoring each batch with ONE normalized matmul
    (batch×dim @ dim×k).  Still map-only — no join, no shuffle — but
    where the literal-inline form (`nearest_centroid`) compiles k·dim
    literals into one expression (fine to k≈64, then codegen methods
    blow past JIT limits), this scales to the k≈10⁴ cells real
    SemDeDup/IVF builds use: the matrix rides the task broadcast once
    per executor and each Arrow batch costs one BLAS call.

    Tie-break matches the inline form (lowest centroid id wins):
    centroids are sorted by id and argmax returns the first maximum.
    Last-ulp float differences vs the sequential codegen fold are
    possible (BLAS reassociates); unit-tested equivalent on the
    synthetic corpus."""
    from pyspark.sql.functions import pandas_udf

    cent = sorted(centroids, key=lambda c: c[0])
    cids = np.array([c for c, _ in cent], dtype=np.int64)
    m = np.array([v for _, v in cent], dtype=np.float64)
    m_norm = m / np.linalg.norm(m, axis=1, keepdims=True)

    @pandas_udf("struct<sim: double, cluster: bigint>")
    def _assign(s: pd.Series) -> pd.DataFrame:
        x = np.array(s.tolist(), dtype=np.float64)
        x_norm = x / np.linalg.norm(x, axis=1, keepdims=True)
        sims = x_norm @ m_norm.T
        idx = sims.argmax(axis=1)
        return pd.DataFrame(
            {"sim": sims[np.arange(len(idx)), idx], "cluster": cids[idx]}
        )

    return _assign(vec)
