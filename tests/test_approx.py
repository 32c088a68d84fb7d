"""Error bounds for the approximate (sketch-based) operators that
have no DuckDB oracle."""

from pyspark.sql import functions as F

from clickhub_spark.catalog import load
from clickhub_spark.plans import all_specs

from tests.conftest import SF_DIR


def test_approx_quantile_close_to_exact(spark):
    approx = {
        r.event_type: (r.p50_approx, r.p95_approx)
        for r in all_specs()["q_agg_approx_quantile"].builder(spark, SF_DIR).collect()
    }
    # percentile_approx returns an actual data point (no interpolation)
    # — bound it by a bracket of exact quantiles instead of a distance
    exact = {
        r.event_type: (r.p40, r.p60, r.p90, r.p99)
        for r in load(spark, SF_DIR, "events")
        .groupBy("event_type")
        .agg(
            F.percentile("value", 0.40).alias("p40"),
            F.percentile("value", 0.60).alias("p60"),
            F.percentile("value", 0.90).alias("p90"),
            F.percentile("value", 0.99).alias("p99"),
        )
        .collect()
    }
    for et, (a50, a95) in approx.items():
        p40, p60, p90, p99 = exact[et]
        assert p40 <= a50 <= p60
        assert p90 <= a95 <= p99


def test_lsh_knn_recall_against_brute_force(spark):
    brute = {r.vec_id for r in all_specs()["q_llm_knn"].builder(spark, SF_DIR).collect()}
    lsh = {r.vec_id for r in all_specs()["q_llm_knn_lsh"].builder(spark, SF_DIR).collect()}
    # 4-bit LSH halves the space 4×; require meaningful overlap with
    # the exact top-10 (random data → recall is probabilistic but the
    # planes are deterministic, so this is a fixed value per dataset)
    assert len(brute & lsh) >= 2


def test_ivf_knn_recall_against_brute_force(spark):
    brute = {r.vec_id for r in all_specs()["q_llm_knn"].builder(spark, SF_DIR).collect()}
    ivf = {r.vec_id for r in all_specs()["q_llm_knn_ivf"].builder(spark, SF_DIR).collect()}
    # probing 4/16 cells of random vectors: require meaningful recall
    assert len(brute & ivf) >= 3


def test_ivf_index_built_once_and_probe_prunes_partitions(spark, tmp_path):
    """Build/probe split: probing reads the built index without
    rewriting it, and the probe's parquet scan prunes cell partitions
    at file-listing level (nprobe=2 of 4 cells)."""
    import os

    from clickhub_spark.operators.knn import build_ivf_index, ivf_probe_topk

    emb = load(spark, SF_DIR, "embeddings")
    idx = str(tmp_path / "ivf")
    build_ivf_index(emb, idx, n_cells=4)
    built_at = os.path.getmtime(idx)
    cells = {d for d in os.listdir(idx + "/data") if d.startswith("cell=")}
    assert cells == {f"cell={i}" for i in range(4)}

    # probe reuses the existing index — no rebuild
    qvec = emb.where(F.col("vec_id") == 0).select("embedding").first()[0]
    rows = ivf_probe_topk(spark, idx, list(qvec), k=5, nprobe=2, exclude_id=0).collect()
    assert 1 <= len(rows) <= 5
    assert 0 not in {r.vec_id for r in rows}
    assert os.path.getmtime(idx) == built_at

    # partition pruning visible in the physical plan of the probe scan
    plan = ivf_probe_topk(
        spark, idx, list(qvec), k=5, nprobe=2
    )._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan


def test_ivf_cells_break_ties_to_lowest_cell_id(spark, tmp_path):
    """The one IVF cell chooser (serving and certificate): nearest
    centroids by squared distance, equidistant ones in cell-id order."""
    from clickhub_spark.operators.knn import ivf_cells

    idx = str(tmp_path / "ivf")
    # cells 3, 1, 0, 2 all at distance 1 from the origin; cell 4 nearer
    spark.createDataFrame(
        [(3, [1.0, 0.0]), (1, [0.0, 1.0]), (0, [-1.0, 0.0]), (2, [0.0, -1.0]), (4, [0.5, 0.0])],
        "cell int, centroid array<double>",
    ).write.parquet(idx + "/centroids")
    assert ivf_cells(spark, idx, [[0.0, 0.0]], 3) == [[4, 0, 1]]
    assert ivf_cells(spark, idx, [[0.0, 0.0], [0.0, 0.9]], 2) == [[4, 0], [1, 4]]


def test_pq_index_recall_and_reuse(spark, tmp_path):
    """Product-quantization ANN: codes-only probe must recover the
    exact top neighbors (recall@20 of exact top-5 ≥ 0.6 — measured 1.0
    at m=32/16 codes on testdata), and the second query must reuse the
    built index without re-encoding."""
    import os

    from clickhub_spark.operators.knn import brute_force_topk, build_pq_index, pq_probe_topk

    emb = load(spark, SF_DIR, "embeddings")
    idx = str(tmp_path / "pq")
    build_pq_index(emb, idx, m=32, n_codes=16)
    built_at = os.path.getmtime(idx + "/codes")

    def probe(qid: int) -> list[int]:
        qv = emb.where(F.col("vec_id") == qid).first().embedding
        return [r.vec_id for r in pq_probe_topk(spark, idx, list(qv), k=20, exclude_id=qid).collect()]

    exact = [r.vec_id for r in brute_force_topk(emb, 0, k=5).collect()]
    assert len(set(exact) & set(probe(0))) / 5 >= 0.6
    again = probe(3)
    assert os.path.getmtime(idx + "/codes") == built_at  # no rebuild
    assert 3 not in again  # query excluded from its own neighbors


def test_artifact_key_tracks_logical_plan(spark):
    """The build-once artifact key must distinguish a filtered or
    projected variant of the same parquet files (different row content
    → different index), while the identical pipeline rebuilt from
    scratch keys to the same path (reuse across sessions)."""
    from clickhub_spark.artifacts import derived_artifact_path

    emb = load(spark, SF_DIR, "embeddings")
    base = derived_artifact_path(emb, "ivf4")
    again = derived_artifact_path(load(spark, SF_DIR, "embeddings"), "ivf4")
    filtered = derived_artifact_path(emb.where(F.col("label") == 3), "ivf4")
    assert base == again
    assert filtered != base


def test_prune_stale_keeps_newest(tmp_path):
    import os
    import time

    from clickhub_spark.artifacts import prune_stale

    parent = tmp_path / "tag"
    parent.mkdir()
    for i in range(5):
        d = parent / f"key{i}"
        d.mkdir()
        (d / "f").write_text("x")
        t = 1_700_000_000 + i
        os.utime(d, (t, t))
    newest = str(parent / "key4")
    assert prune_stale(newest, keep=2) == 3
    assert sorted(os.listdir(parent)) == ["key3", "key4"]


def test_lsh_md5_twin_recall_and_bucket_consistency(spark):
    """The md5-basis LSH twin behaves like the prod xxhash path:
    meaningful recall vs brute force, every returned candidate shares
    the query's bucket, and the bucket is a 4-char bit string."""
    brute = {r.vec_id for r in all_specs()["q_llm_knn"].builder(spark, SF_DIR).collect()}
    rows = all_specs()["q_llm_knn_lsh_md5"].builder(spark, SF_DIR).collect()
    assert len({r.vec_id for r in rows} & brute) >= 2
    buckets = {r.bucket for r in rows}
    assert len(buckets) == 1  # all candidates in the query's bucket
    b = next(iter(buckets))
    assert len(b) == 4 and set(b) <= {"0", "1"}


def test_lsh_multi_probe_improves_or_matches_recall(spark):
    """Hamming-1 multi-probe is a strict superset of the single-bucket
    candidate set, so its recall vs brute force can only improve; the
    probe count stays n_bits+1 buckets (pruning, never a scan)."""
    from clickhub_spark.operators.knn import lsh_bucket_topk

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    brute = {r.vec_id for r in all_specs()["q_llm_knn"].builder(spark, SF_DIR).collect()}
    single = lsh_bucket_topk(emb, query_id=0, k=10, n_bits=4).collect()
    multi = lsh_bucket_topk(emb, query_id=0, k=10, n_bits=4, multi_probe=1).collect()
    r_single = len({r.vec_id for r in single} & brute)
    r_multi = len({r.vec_id for r in multi} & brute)
    assert r_multi >= r_single
    # probed buckets: query's plus Hamming-1 neighbors only
    q_bucket = [r.bucket for r in single][0] if single else None
    if q_bucket is not None:
        allowed = {q_bucket} | {q_bucket ^ (1 << b) for b in range(4)}
        assert {r.bucket for r in multi} <= allowed


def test_pq_rerank_equals_exact_at_full_depth(spark, tmp_path):
    """Two-stage PQ (NEW round 11): with rerank >= corpus size the
    candidate stage passes every vector through, so the exact re-rank
    must return EXACTLY the brute-force top-k (same ids, same order);
    and at a narrow depth the result is still capped at k rows drawn
    only from the ADC candidates."""
    from clickhub_spark.operators.knn import (
        brute_force_topk,
        build_pq_index,
        pq_probe_topk,
        pq_rerank_topk,
    )

    emb = load(spark, SF_DIR, "embeddings")
    idx = str(tmp_path / "pq")
    build_pq_index(emb, idx, m=32, n_codes=16)
    qrow = emb.where(F.col("vec_id") == 0).first()
    qv = [float(x) for x in qrow.embedding]
    n = emb.count()

    exact = [r.vec_id for r in brute_force_topk(emb, 0, k=10).collect()]
    full = [
        r.vec_id
        for r in pq_rerank_topk(
            spark, idx, emb, qv, k=10, rerank=n, exclude_id=0
        ).collect()
    ]
    assert full == exact  # full-depth two-stage IS the exact ranking

    cand = {
        r.vec_id
        for r in pq_probe_topk(spark, idx, qv, k=25, exclude_id=0).collect()
    }
    narrow = [
        r.vec_id
        for r in pq_rerank_topk(
            spark, idx, emb, qv, k=10, rerank=25, exclude_id=0
        ).collect()
    ]
    assert len(narrow) == 10
    assert set(narrow) <= cand  # stage two never leaves the candidates
    assert 0 not in narrow
