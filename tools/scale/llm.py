"""LLM-data-pipeline scenarios: ANN recall certifications, MinHash-LSH
near-dedup, exact, passage-frequency and semantic dedup, PCA→IVF
retrieval and distributed logistic regression."""

from __future__ import annotations

from pyspark.sql import functions as F

from tools.scale import SF01, TINY_SF

#: per-vector expression for deterministic cluster-structured vectors
#: (200 centers + small per-id noise), the realistic ANN workload
_CLUSTERED = (
    "transform(sequence(0, {d}), j -> cast("
    "sin((id % 200) * (j + 1) * 1.17) * (4.0 / sqrt(j + 1))"
    " + sin(id * (j + 13) * 1.37) * 0.25 as {t}))"
)


def ann_scale(run, n=500_000):
    """The registered ANN recall certifications — q_llm_knn_ivf_recall,
    q_llm_knn_pq_recall, q_llm_knn_pq_rerank_recall and
    q_llm_knn_lsh_recall, unchanged — against 500k synthetic 64-dim
    vectors in the embeddings table schema, three orders of magnitude
    past the driver's scale factor.

    Checks: IVF recall and pruning floors, no bad PQ codes, the
    two-stage PQ recall floor with no candidate overflow, and the LSH
    recall and pruning floors.  The single-stage PQ floor is reported
    but not checked: ADC rank quality degrades with neighbour density,
    which is why the serving path at scale is two-stage."""
    from clickhub_spark.plans.queries_llm import (
        q_llm_knn_ivf_recall,
        q_llm_knn_lsh_recall,
        q_llm_knn_pq_recall,
        q_llm_knn_pq_rerank_recall,
    )

    spark, d = run.spark, 64
    out = {"n_vectors": n, "dim": d}
    # vec_id starts at 1 (id 0 is the all-zero vector, undefined cosine);
    # vec_id < 20 is the certifications' query set
    out["gen_sec"], sf = run.timed(
        lambda: run.write_sf(
            embeddings=spark.range(1, n + 1)
            .select(
                F.col("id").alias("vec_id"),
                F.expr(_CLUSTERED.format(d=d - 1, t="float")).alias("embedding"),
                (F.col("id") % 200).cast("int").alias("label"),
            )
            .repartition(run.partitions(n, 500_000, 32))
        )
    )
    for key, q in (
        ("ivf", q_llm_knn_ivf_recall),
        ("pq", q_llm_knn_pq_recall),
        ("pq_rerank", q_llm_knn_pq_rerank_recall),
        ("lsh", q_llm_knn_lsh_recall),
    ):
        out[f"{key}_sec"], row = run.timed(lambda: q(spark, sf).first())
        out[key] = row.asDict()
    ivf, pq, rr, lsh = out["ivf"], out["pq"], out["pq_rerank"], out["lsh"]
    run.check("ivf_counts_every_vector", ivf["n_vectors"] == n)
    run.check("ivf_recall_ge_050", ivf["recall_ge_050"] == 1)
    run.check("ivf_pruned_le_050", ivf["pruned_le_050"] == 1)
    run.check("pq_no_bad_codes", pq["bad_codes"] == 0)
    run.check("pq_rerank_recall_ge_060", rr["recall_ge_060"] == 1)
    run.check("pq_rerank_no_overflow", rr["cand_overflow"] == 0)
    run.check("lsh_recall_ge_040", lsh["recall_ge_040"] == 1)
    run.check("lsh_pruned_le_050", lsh["pruned_le_050"] == 1)
    out["gates_ok"] = all(run.checks.values())
    return out


def dedup_100x(run, *, n_small=100_000, n_big=10_000_000):
    """The full MinHash-LSH banding pipeline
    (operators/dedup.minhash_candidate_pairs) on 100k and 10M synthetic
    documents in parquet.  Each 15-word document is unique except that
    ids ≡0 and ≡1 (mod 100) share a template: one planted pair per
    100-id block, a 1% duplicate rate.

    Checks at 10M: no cartesian / nested-loop join / row-at-a-time
    Python UDF, the bucket grouping is one shuffled aggregate, the
    corpus is scanned once, every planted pair is found, and candidates
    stay within 3x the planted count.  Gate: at most 150x time for 100x
    documents."""
    from clickhub_spark.operators.dedup import minhash_candidate_pairs

    spark, words = run.spark, 15
    out: dict = {"metric": "dedup_100x", "docs_small": n_small, "docs_big": n_big, "num_perm": 16, "bands": 8}

    def build(name: str, n: int) -> None:
        tpl = F.expr("IF(id % 100 < 2, id - (id % 100), id)")
        text = F.concat_ws(
            " ", *[F.expr(f"substring(md5(concat(cast(__tpl as string), '-', {j})), 1, 6)") for j in range(words)]
        )
        spark.range(n).withColumn("__tpl", tpl).select(F.col("id").alias("doc_id"), text.alias("text")).repartition(
            64
        ).write.parquet(run.path(name))

    out["build_sec"], _ = run.timed(lambda: (build("small", n_small), build("big", n_big)))

    def pairs_of(name: str):
        docs = spark.read.parquet(run.path(name))
        pairs = minhash_candidate_pairs(docs, "text", "doc_id", k=3, num_perm=16, bands=8)
        sec, n_pairs = run.timed(pairs.count)
        return sec, n_pairs, pairs

    out["pairs_small_sec"], out["pairs_small"], _ = pairs_of("small")
    out["pairs_big_sec"], out["pairs_big"], pairs_big = pairs_of("big")
    out["scaling"] = round(out["pairs_big_sec"] / max(0.001, out["pairs_small_sec"]), 1)
    # identical text collides in every band, so every planted pair
    # (b, b+1) must be a candidate
    out["planted_big"] = n_big // 100
    out["found_planted_big"] = pairs_big.where(
        (F.col("id_a") % 100 == 0) & (F.col("id_b") == F.col("id_a") + 1)
    ).count()
    fp = out["plan_fingerprint_big"] = run.fingerprint(pairs_big)
    out["gates"] = {
        "no_cartesian": run.check("no_cartesian", not fp.get("CartesianProduct")),
        "no_nested_loop": run.check("no_nested_loop", not fp.get("BroadcastNestedLoopJoin")),
        "no_python_row_udf": run.check("no_python_row_udf", not fp.get("BatchEvalPython")),
        # one shuffled groupBy(band, hash) bucket aggregate, not a
        # bucket self-join that would compute every signature twice
        "bucket_group_is_shuffled_agg": run.check(
            "bucket_group_is_shuffled_agg",
            fp.get("Exchange", 0) >= 1
            and fp.get("HashAggregate", 0) + fp.get("ObjectHashAggregate", 0) + fp.get("SortAggregate", 0) >= 1,
        ),
        "single_corpus_scan": run.check("single_corpus_scan", fp.get("Scan parquet", 0) == 1),
        "scaling_le_150x": run.gate("scaling_le_150x", out["scaling"] <= 150),
        "planted_recall_100pct": run.check("planted_recall_100pct", out["found_planted_big"] == out["planted_big"]),
        "selective_banding": run.check("selective_banding", out["pairs_big"] <= 3 * out["planted_big"]),
    }
    out["gates_ok"] = all(out["gates"].values())
    return out


def dedup_scale(run, *, base=SF01, reps=100):
    """Exact dedup on the 100x lineitem table (60M rows at sf0.1): one
    hash-shuffle groupBy on a 4-column content key, partial-aggregated
    map-side.

    Check (reps ≥ 2): every 1x content key is a duplicate group and
    every row belongs to one."""
    li = run.spark.read.parquet(f"{base}/lineitem.parquet")
    big = run.replicate(li, reps, "lineitem_100x", l_orderkey=10_000_000)
    key = ["l_partkey", "l_suppkey", "l_quantity", "l_extendedprice"]
    out = {}
    out["exact_dedup_60m_sec"], dups = run.timed(
        lambda: big.groupBy(*key)
        .agg(F.count(F.lit(1)).alias("n"))
        .where(F.col("n") > 1)
        .agg(F.count(F.lit(1)).alias("groups"), F.sum("n").alias("rows"))
        .first()
    )
    out["dup_groups"], out["dup_rows"] = dups.groups, dups.rows
    if reps >= 2:
        want = (li.select(*key).distinct().count(), reps * li.count())
        run.check("every_row_duplicated", (dups.groups, dups.rows) == want)
    return out


def passage_dedup(run, r=100, *, base=SF01):
    """Passage-frequency dedup (operators/textops.passage_dup_stats) on
    the sf0.1 documents replicated r times (500k docs / ~9M passages at
    r=100): every passage recurs in ≥r documents, the worst case for the
    hash-keyed shuffle.

    Check (r ≥ 2): every reported document is flagged, since each of its
    passages recurs verbatim in its replicas."""
    from clickhub_spark.catalog import load
    from clickhub_spark.operators.textops import passage_dup_stats

    base_docs = load(run.spark, base, "documents").select("doc_id", "text")
    corpus = run.replicate(base_docs, r, "documents", doc_id=1_000_000)
    wall, agg = run.timed(
        lambda: passage_dup_stats(corpus, "text", "doc_id")
        .agg(
            F.count(F.lit(1)).alias("docs"),
            F.sum("n_passages").alias("passages"),
            F.count(F.when(F.col("flagged"), 1)).alias("flagged"),
        )
        .first(),
        2,
    )
    if r >= 2:
        run.check("replicas_flagged", agg["flagged"] == agg["docs"])
    return {
        "replicas": r,
        "base_docs": base_docs.count(),
        "docs": agg["docs"],
        "passages": int(agg["passages"]),
        "flagged": int(agg["flagged"]),
        "wall_sec": wall,
    }


def semdedup(run, sf_dir=SF01, repl=50):
    """Semantic dedup / centroid assignment on the sf embeddings
    replicated ``repl`` times (100k vectors at sf0.1, each with repl-1
    exact duplicates): map-only k=8 assignment (literal-inline tier),
    map-only k=256 assignment (Arrow-matmul tier), and the full
    semantic_dedup at k=256.

    Check: at least (repl-1)·n_base vectors are dropped — exact
    duplicates share a cluster and a cosine of 1."""
    import os

    from clickhub_spark.catalog import load
    from clickhub_spark.functions.vectors import as_double, nearest_centroid, nearest_centroid_vectorized
    from clickhub_spark.operators.dedup import semantic_dedup

    emb = load(run.spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n_base = emb.count()
    big = run.replicate(emb, repl, "embeddings", vec_id=n_base).select(
        "vec_id", F.expr(as_double("embedding")).alias("v")
    )

    def centroids(k: int):
        return [(r["vec_id"], r["v"]) for r in big.where(F.col("vec_id") < k).orderBy("vec_id").collect()]

    cent8, cent256 = centroids(8), centroids(256)
    out = {"n_vectors": n_base * repl, "repl": repl}
    out["assign_inline_k8_sec"], _ = run.timed(
        lambda: big.select(F.expr(nearest_centroid("v", cent8))["cluster"].alias("c")).groupBy("c").count().collect(),
        2,
    )
    out["assign_matmul_k256_sec"], _ = run.timed(
        lambda: big.select(nearest_centroid_vectorized(F.col("v"), cent256)["cluster"].alias("c"))
        .groupBy("c")
        .count()
        .collect(),
        2,
    )
    out["semdedup_k256_sec"], out["n_dropped"] = run.timed(
        lambda: semantic_dedup(
            big.select("vec_id", F.col("v").alias("embedding")), n_centroids=256, threshold=0.95, vec_col="embedding"
        ).count(),
        2,
    )
    run.check("exact_duplicates_dropped", out["n_dropped"] >= (repl - 1) * n_base)
    out["loadavg_1m"] = round(os.getloadavg()[0], 2)
    return out


def pca_ivf(run, kpc=16, nprobe=8, *, n=100_000):
    """PCA→IVF composition: 100k 64-dim vectors projected to ``kpc``
    PCA dims, the IVF index built in the reduced space, probe cost and
    recall@10 against full-space brute-force truth, and the two-stage
    shape (top-100 reduced-space candidates re-ranked by full-space
    cosine).  Every stored code and distance computation shrinks by
    d/k."""
    import numpy as np

    from clickhub_spark.functions.vectors import array_literal, as_double, cosine
    from clickhub_spark.operators import knn
    from clickhub_spark.operators.pca import fit_pca, transform_pca

    spark, d, probe_id = run.spark, 64, min(12345, n)
    out = {"k_pca": kpc, "nprobe": nprobe}
    emb = (
        spark.range(1, n + 1)
        .select(F.col("id").alias("vec_id"), F.expr(_CLUSTERED.format(d=d - 1, t="double")).alias("embedding"))
        .repartition(run.partitions(n, 100_000, 32))
        .cache()
    )
    emb.count()
    out["fit_sec"], (_, comps, _) = run.timed(lambda: fit_pca(emb, "embedding", kpc))
    # cosine is not translation-invariant: project WITHOUT centering
    # (axes still from the centered fit) so subspace dot products
    # approximate full-space ones
    red = transform_pca(emb, "embedding", np.zeros(d), comps, out_col="pca", ndigits=None)
    red = red.select("vec_id", F.col("pca").alias("embedding")).cache()
    red.count()
    index = run.path("ivf16")
    out["ivf_build_reduced_sec"], _ = run.timed(lambda: knn.build_ivf_index(red, index, n_cells=64))

    qfull = np.asarray(emb.where(F.col("vec_id") == probe_id).first().embedding)
    out["brute_full_sec"], truth = run.timed(
        lambda: {r.vec_id for r in knn.brute_force_topk(emb, probe_id, k=10).collect()}
    )
    qred = list(map(float, qfull @ comps.T))

    def probe(k: int) -> list:
        return [
            r.vec_id
            for r in knn.ivf_probe_topk(spark, index, qred, k=k, nprobe=nprobe, exclude_id=probe_id).collect()
        ]

    out["ivf_probe_reduced_sec"], got = run.timed(lambda: probe(10))
    out["recall_at_10_reduced"] = round(len(truth & set(got)) / 10, 2)

    def two_stage():
        sim = F.expr(cosine(as_double("embedding"), array_literal(qfull)))
        return {
            r.vec_id
            for r in emb.where(F.col("vec_id").isin(probe(100)))
            .select("vec_id", sim.alias("sim"))
            .orderBy(F.col("sim").desc(), F.col("vec_id"))
            .limit(10)
            .collect()
        }

    out["two_stage_sec"], got2 = run.timed(two_stage)
    out["recall_at_10_two_stage"] = round(len(truth & got2) / 10, 2)
    emb.unpersist()
    red.unpersist()
    return out


def glm_scale(run, n=10_000_000):
    """Distributed IRLS logistic regression (operators/glm.logistic_fit)
    on a 10M-row synthetic design with a known generating model
    (eta = 0.5 + 1.5·x1 − 0.8·x2): each iteration is ONE map-side
    moment aggregate, no row shuffle and no UDF.

    Check: every fitted coefficient is within 0.05 of the truth."""
    from clickhub_spark.operators.glm import logistic_fit

    spark, true_beta = run.spark, [0.5, 1.5, -0.8]

    def u(k: int):
        return (F.abs(F.xxhash64("id", F.lit(k))) % 1_000_000) / 1_000_000.0

    # two features from sums of hash-uniforms; labels compare a third
    # hash-uniform to sigmoid(eta)
    eta = F.lit(true_beta[0]) + F.lit(true_beta[1]) * F.col("x1") + F.lit(true_beta[2]) * F.col("x2")
    design = (
        spark.range(n)
        .select(((u(1) + u(2)) * 1.7 - 1.7).alias("x1"), ((u(3) + u(4)) * 1.7 - 1.7).alias("x2"), u(5).alias("r"))
        .select("x1", "x2", (F.col("r") < F.lit(1.0) / (F.lit(1.0) + F.exp(-eta))).cast("int").alias("y"))
    )
    design.write.parquet(run.path("design"))
    wall, beta = run.timed(lambda: logistic_fit(spark.read.parquet(run.path("design")), ["x1", "x2"], "y"), 2)
    # at 10M samples the standard error is ~1e-3; 0.05 is pure slack
    ok = run.check("recovered", all(abs(b - t) < 0.05 for b, t in zip(beta, true_beta)))
    return {
        "n_rows": n,
        "fit_wall_s": wall,
        "iters": 8,
        "beta": [round(b, 4) for b in beta],
        "true_beta": true_beta,
        "recovered": ok,
    }


#: scenario -> keyword arguments of its tiny Tier-1 run
SCENARIOS = {
    ann_scale: {"n": 3_000},
    dedup_100x: {"n_small": 1_000, "n_big": 10_000},
    dedup_scale: {"base": TINY_SF, "reps": 2},
    passage_dedup: {"r": 2, "base": TINY_SF},
    semdedup: {"sf_dir": TINY_SF, "repl": 2},
    pca_ivf: {"n": 2_000},
    glm_scale: {"n": 200_000},
}
