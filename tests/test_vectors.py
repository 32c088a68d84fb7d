"""The SQL-text vector helpers (functions/vectors, the knn signatures)
against numpy and plain-Python recomputations, on column names that
collide with naive lambda variables; plus a py4j round-trip pin on the
build of the LSH query that uses them most."""

from __future__ import annotations

import gc
import hashlib
import threading

import numpy as np
import pytest
from pyspark.sql import functions as F

from clickhub_spark.functions.vectors import (
    array_literal,
    as_double,
    cosine,
    dot,
    norm,
)
from clickhub_spark.operators.knn import hyperplane_signature, hyperplane_signature_md5
from clickhub_spark.plans import all_specs
from tests.conftest import SF_DIR

DIM = 64


@pytest.fixture(scope="module")
def frame(spark):
    """Columns named ``x``, ``acc`` and ``__x``: random vectors, vectors
    shorter than DIM, a NULL vector and a zero vector."""
    rng = np.random.default_rng(7)
    rows = []
    for i in range(12):
        n = DIM if i < 8 else int(rng.integers(3, DIM))
        x, acc, ux = (rng.standard_normal(n).astype(np.float32).tolist() for _ in range(3))
        rows.append((i, x, acc, ux))
    rows.append((100, None, [1.0] * 4, None))
    rows.append((101, [0.0] * DIM, [0.0] * DIM, [0.0] * DIM))
    return spark.createDataFrame(
        rows, "id int, x array<float>, acc array<float>, __x array<float>"
    )


def _f64(v):
    return None if v is None else np.asarray(v, dtype=np.float32).astype(np.float64)


def _fold(vals) -> float:
    """Sequential left fold from 0.0 — the helpers' aggregate order."""
    out = 0.0
    for v in vals:
        out += float(v)
    return out


def test_arithmetic_matches_numpy(frame):
    cols = {
        "dbl": as_double("__x"),
        "dot": dot(as_double("x"), as_double("acc")),
        "nrm": norm(as_double("x")),
        "cos": f"CASE WHEN {norm(as_double('x'))} > 0D THEN {cosine(as_double('x'), as_double('acc'))} END",
    }
    rows = frame.select("id", "x", "acc", "__x", *[F.expr(e).alias(k) for k, e in cols.items()]).collect()
    assert len(rows) == 14
    for r in rows:
        x, acc, ux = _f64(r.x), _f64(r.acc), _f64(r["__x"])
        if x is None:
            assert r.dot is None and r.nrm is None and r.cos is None and r.dbl is None
            continue
        assert r.dbl == ux.tolist()  # float → double is exact
        m = min(len(x), len(acc))
        # zip_with pads the shorter side with NULL, so a ragged pair is NULL
        want_dot = _fold(x * acc) if len(x) == len(acc) else None
        assert r.dot == want_dot, r.id
        if want_dot is not None:
            assert r.dot == pytest.approx(float(np.dot(x[:m], acc[:m])), rel=1e-12, abs=1e-12)
        assert r.nrm == np.sqrt(_fold(x * x)), r.id
        assert r.nrm == pytest.approx(float(np.linalg.norm(x)), rel=1e-12)
        if not x.any():
            assert r.cos is None
        elif want_dot is not None:
            want = float(np.dot(x, acc) / (np.linalg.norm(x) * np.linalg.norm(acc)))
            assert r.cos == pytest.approx(want, rel=1e-12, abs=1e-12), r.id


def test_signatures_match_recomputation(spark, frame):
    """Both LSH signatures against numpy projections: the xxhash planes
    take their ±1/±3 weights from one SQL table of ``xxhash64(p, i)``,
    the md5 planes from hashlib.  Projection runs over min(DIM, len),
    a NULL vector has every bit 0."""
    n_bits, md5_bits = 8, 4
    wt = spark.sql(
        f"SELECT p, i, pmod(xxhash64(p, i), 7) - 3 AS w FROM "
        f"(SELECT CAST(p.id AS INT) p, CAST(i.id AS INT) i FROM range({n_bits}) p, range({DIM}) i)"
    ).collect()
    xx = np.zeros((n_bits, DIM))
    for r in wt:
        xx[r.p, r.i] = r.w
    md5 = np.array(
        [
            [1.0 if hashlib.md5(f"{p}:{i}".encode()).hexdigest()[0] <= "7" else -1.0 for i in range(DIM)]
            for p in range(md5_bits)
        ]
    )
    rows = frame.select(
        "id",
        "acc",
        F.expr(hyperplane_signature(as_double("acc"), n_bits, DIM)).alias("sig"),
        F.expr(hyperplane_signature_md5(as_double("acc"), md5_bits, DIM)).alias("md5"),
        F.expr(hyperplane_signature_md5(as_double("x"), md5_bits, DIM)).alias("md5_x"),
    ).collect()
    for r in rows:
        v = _f64(r.acc)[:DIM]
        proj = [_fold(v * xx[p, : len(v)]) for p in range(n_bits)]
        assert r.sig == sum(1 << p for p, s in enumerate(proj) if s > 0), r.id
        want = "".join("1" if _fold(v * md5[p, : len(v)]) >= 0 else "0" for p in range(md5_bits))
        assert r.md5 == want, r.id
        if r.id == 100:
            assert r.md5_x == "0" * md5_bits
        if r.id == 101:
            assert r.sig == 0 and r.md5 == "1" * md5_bits


def test_cosine_of_zero_vector_is_null_under_ansi(spark):
    """A zero-norm vector scores NULL, as the pre-ANSI engine returned,
    instead of failing the query with DIVIDE_BY_ZERO; brute force still
    returns k rows and ranks that vector last."""
    from clickhub_spark.operators.knn import brute_force_topk

    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        zero = spark.createDataFrame([([0.0, 0.0], [1.0, 0.0])], "a array<double>, b array<double>")
        assert zero.select(F.expr(cosine("a", "b")).alias("c")).first().c is None
        emb = spark.createDataFrame(
            [(0, [1.0, 0.0]), (1, [0.0, 0.0]), (2, [1.0, 1.0]), (3, [-1.0, 0.5])],
            "vec_id long, embedding array<float>",
        )
        got = brute_force_topk(emb, 0, k=3).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)
    assert [r.vec_id for r in got] == [2, 3, 1]
    assert got[-1].sim is None


def test_array_literal_round_trips_and_rejects_non_finite(spark):
    vals = [0.1, -1e-05, 1.5e300, -0.0, 3.0]
    got = spark.range(1).select(F.expr(array_literal(vals)).alias("a")).first().a
    assert got == vals
    with pytest.raises(ValueError, match="non-finite"):
        array_literal([1.0, float("nan")])


def test_lsh_md5_build_round_trips(spark):
    """Building q_llm_knn_lsh_md5 costs a few hundred py4j round trips
    (over 2,000 when its plane weights were per-element F.lit Columns):
    a later per-element Column build shows up here.  Only this thread's
    calls count; streams and servers of other tests may still run."""
    from py4j.clientserver import ClientServerConnection

    builder = all_specs()["q_llm_knn_lsh_md5"].builder
    builder(spark, SF_DIR)  # warm: first-load schema inference
    calls = [0]
    orig = ClientServerConnection.send_command
    me = threading.get_ident()

    def counted(self, command):
        calls[0] += threading.get_ident() == me
        return orig(self, command)

    gc.collect()
    gc.disable()
    ClientServerConnection.send_command = counted
    try:
        builder(spark, SF_DIR)
    finally:
        ClientServerConnection.send_command = orig
        gc.enable()
    assert 0 < calls[0] <= 400, calls[0]
