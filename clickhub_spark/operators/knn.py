"""Similarity search over embeddings (SURVEY §2.J6).

- ``brute_force_topk``: exact cosine top-k against a query vector.
  The query vector is a one-row broadcast; scoring is a codegen'd
  higher-order-function expression over every row, then a global
  top-k (TakeOrderedAndProject — no full sort).  At 100 TB this is
  one full scan per query: correct baseline, not the scale path.

- ``lsh_bucket_topk``: random-hyperplane LSH variant — sign-bit
  signature per vector (deterministic pseudo-random planes derived
  from xxhash64, so no driver-side randomness), candidates share the
  query's bucket, with ``multi_probe=1`` widening to every bucket at
  Hamming distance 1 (the standard recall knob — a vector near a
  hyperplane lands one sign-bit away).  The scan is pruned to the
  probed buckets via a broadcast membership predicate — this is the
  ANN path that survives 1000 executors.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from clickhub_spark.functions.vectors import array_literal, as_double, cosine, dot


def _sim(vec_col: str, query: str, digits: int = 4) -> F.Column:
    """Rounded cosine of the row vector ``vec_col`` (array<float>) to
    the array<double> SQL expression ``query``."""
    return F.expr(f"round({cosine(as_double(vec_col), query)}, {digits})")


def _scored(emb: DataFrame, vec_col: str, id_col: str, query: DataFrame) -> DataFrame:
    return emb.crossJoin(F.broadcast(query)).withColumn("sim", _sim(vec_col, "__qvec"))


def exact_topk_pairs(emb: DataFrame, q: DataFrame, k: int) -> DataFrame:
    """Exact cosine top-k per query vector — the deliberate O(n·q)
    cross score every ANN recall certification compares against
    (q=20: certification cost, not a serving path).  ``emb`` carries
    (vec_id, v), ``q`` carries (qid, qv); self-pairs are excluded and
    ties break on vec_id so the selected SET is deterministic.
    SINGLE-SOURCED for q_llm_knn_{lsh,ivf,pq}_recall — the three
    certified baselines stay comparable by construction."""
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy(
        F.col("sim").desc(), F.col("vec_id").asc()
    )
    return (
        emb.join(F.broadcast(q), F.col("vec_id") != F.col("qid"))
        .withColumn("sim", F.expr(cosine("v", "qv")))
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .select("qid", "vec_id")
    )


def brute_force_topk(
    emb: DataFrame, query_id: int, k: int = 10, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Exact cosine top-k neighbors of ``query_id`` (excluded)."""
    query = (
        emb.where(F.col(id_col) == query_id)
        .select(F.expr(as_double(vec_col)).alias("__qvec"))
    )
    return (
        _scored(emb.where(F.col(id_col) != query_id), vec_col, id_col, query)
        .orderBy(F.col("sim").desc(), F.col(id_col).asc())
        .limit(k)
        .select(id_col, "sim")
    )


def hyperplane_signature(vec: str, n_bits: int = 16, dim: int = 64) -> str:
    """Deterministic random-hyperplane sign signature of the
    array<double> SQL expression ``vec``, as SQL text (see
    functions/vectors).

    Plane p, component i weight = a fixed pseudo-random ±1/±3 value
    derived from xxhash64(p, i) — reproducible across runs/engines
    with no stored model.  Returns an int bucket id in [0, 2^n_bits).
    """
    def bit(p: int) -> str:
        # project over min(dim, len(vec)) components: zip_with pads the
        # shorter side with nulls, so a fixed dim longer than the
        # vector would null every projection and collapse all rows
        # into bucket 0 (round-6 review)
        proj = (
            f"aggregate(zip_with(slice({vec}, 1, {dim}), "
            f"sequence(0, least({dim - 1}, size({vec}) - 1)), "
            f"(__vx, __vi) -> __vx * cast(pmod(xxhash64({p}, __vi), 7) - 3 AS double)), "
            "0D, (__vacc, __vx) -> __vacc + __vx)"
        )
        return f"CASE WHEN {proj} > 0 THEN shiftleft(1, {p}) ELSE 0 END"

    return " + ".join(["0", *(bit(p) for p in range(n_bits))])


def build_ivf_index(
    emb: DataFrame,
    path: str,
    n_cells: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    train_rows: int = 200_000,
) -> str:
    """One-time IVF index build: KMeans coarse quantizer → write the
    table CELL-PARTITIONED to ``path/data/cell=N/`` plus the tiny
    centroid table to ``path/centroids``.

    This is the 100 TB shape: the quantizer FIT runs on a bounded
    deterministic hash-sample of at most ``train_rows`` vectors
    (standard IVF practice — FAISS trains coarse quantizers on
    ~max(10k, 50·k) samples; fitting on the full corpus OOMed the
    10M-vector smoke and would be O(corpus) iterations at 10⁹), while
    the cell ASSIGNMENT of every vector is one map-only distributed
    pass.  Because ``cell`` is a parquet partition column, every
    later probe is PARTITION PRUNING at the file listing level
    (nprobe/n_cells of the files are even opened) — not a filter
    scan.  Centroids are n_cells × dim doubles, a parameter table,
    not data.

    The write goes to ``path + ".tmp"`` then renames, so a concurrent
    reader of an existing index never sees a half-written one
    (same contract as sources.writer.compact: a brief path-not-found
    window exists between the two renames).
    """
    import shutil

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    feats = emb.withColumn("__f", array_to_vector(F.expr(as_double(vec_col))))
    train = feats
    n = emb.count()
    if train_rows and n > train_rows:
        # deterministic 1-in-mod hash sample on the id — same rows
        # every build, no full sort, no driver-side collection.
        # CEILING division: floor would let the sample run up to
        # ~2x train_rows (and the FULL corpus for train_rows < n <
        # 2*train_rows, reintroducing the fit this bound exists to
        # avoid)
        mod = max(-(-n // train_rows), 1)
        train = feats.where(
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(mod)) == 0
        )
    # persist the (small) training sample: Lloyd's is iterative and
    # would otherwise re-scan + re-filter the full corpus every
    # iteration (~20 corpus scans at 10M vectors in the scale smoke)
    train = train.select(id_col, "__f").persist()
    try:
        model = KMeans(
            k=n_cells, seed=42, featuresCol="__f", predictionCol="cell"
        ).fit(train)
    finally:
        train.unpersist()
    assigned = model.transform(feats).drop("__f")

    tmp = path + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    assigned.write.mode("overwrite").partitionBy("cell").parquet(tmp + "/data")
    centroids = [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    emb.sparkSession.createDataFrame(
        centroids, "cell int, centroid array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(tmp + "/centroids")
    shutil.rmtree(path, ignore_errors=True)
    os.rename(tmp, path)
    return path


def ivf_probe_topk(
    spark,
    index_path: str,
    query_vec,
    k: int = 10,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    exclude_id: int | None = None,
) -> DataFrame:
    """Query side of IVF ANN: read centroids (a parameter lookup, not a
    data collect), pick the ``nprobe`` nearest cells driver-side, scan
    ONLY those partitions of the prebuilt index."""
    import numpy as np

    centers = {
        r["cell"]: np.asarray(r["centroid"], dtype="float64")
        for r in spark.read.parquet(index_path + "/centroids").collect()
    }
    q = np.asarray(list(query_vec), dtype="float64")
    probe = sorted(centers, key=lambda c: float(((centers[c] - q) ** 2).sum()))[:nprobe]

    cand = spark.read.parquet(index_path + "/data").where(
        F.col("cell").isin([int(c) for c in probe])
    )
    if exclude_id is not None:
        cand = cand.where(F.col(id_col) != exclude_id)
    query = spark.createDataFrame(
        [([float(x) for x in query_vec],)], "__qvec array<double>"
    )
    return (
        _scored(cand, vec_col, id_col, query)
        .orderBy(F.col("sim").desc(), F.col(id_col).asc())
        .limit(k)
        .select(id_col, "sim", "cell")
    )


def _default_index_path(emb: DataFrame, n_cells: int) -> str:
    """Deterministic index location derived from the input files and
    their mtimes — same data → reuse, regenerated data → rebuild."""
    from clickhub_spark.artifacts import derived_artifact_path

    return derived_artifact_path(emb, f"ivf{n_cells}")


def ivf_topk(
    emb: DataFrame,
    query_id: int,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    index_path: str | None = None,
) -> DataFrame:
    """IVF (inverted-file) ANN top-k: build-once index + pruned probe.

    Convenience wrapper over ``build_ivf_index`` / ``ivf_probe_topk``:
    the index is built only if ``index_path`` (default: a deterministic
    warehouse location keyed by the input files + mtimes) does not
    already hold one, so repeated queries — and repeated benchmark
    runs — pay the KMeans fit exactly once, the way an IVF index is
    actually operated.  The probe scans nprobe/n_cells partitions via
    parquet partition pruning.
    """
    qrow = emb.where(F.col(id_col) == query_id).select(vec_col).first()
    if qrow is None:
        # unknown query id: empty result with the output schema, before
        # paying for the index build (mirrors brute_force_topk's
        # graceful empty result)
        return (
            emb.select(id_col)
            .where(F.lit(False))
            .withColumn("sim", F.lit(0.0))
            .withColumn("cell", F.lit(0))
        )
    if index_path is None:
        index_path = _default_index_path(emb, n_cells)
    if not os.path.isdir(index_path + "/data"):
        from clickhub_spark.artifacts import prune_stale

        build_ivf_index(emb, index_path, n_cells, vec_col, id_col)
        prune_stale(index_path)  # drop indexes of regenerated datasets
    return ivf_probe_topk(
        emb.sparkSession,
        index_path,
        list(qrow[0]),
        k=k,
        nprobe=nprobe,
        vec_col=vec_col,
        id_col=id_col,
        exclude_id=query_id,
    )


def lsh_bucket_topk(
    emb: DataFrame,
    query_id: int,
    k: int = 10,
    n_bits: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    multi_probe: int = 0,
) -> DataFrame:
    """ANN top-k: score only vectors sharing the query's LSH bucket.

    ``multi_probe=1`` additionally probes every bucket at Hamming
    distance 1 from the query's (the standard recall knob: a vector
    near a hyperplane lands one sign-bit away) — n_bits extra buckets,
    still a broadcast-joined pruning predicate, never a scan."""
    dim = 64
    with_sig = emb.withColumn(
        "bucket", F.expr(hyperplane_signature(as_double(vec_col), n_bits, dim))
    )
    probes = "array(__qbucket)"
    if multi_probe >= 1:
        flips = ", ".join(f"__qbucket ^ {1 << b}" for b in range(n_bits))
        probes = f"concat({probes}, array({flips}))"
    query = with_sig.where(F.col(id_col) == query_id).select(
        F.expr(as_double(vec_col)).alias("__qvec"),
        F.col("bucket").alias("__qbucket"),
    ).withColumn("__probes", F.expr(probes))
    cand = (
        with_sig.where(F.col(id_col) != query_id)
        .join(F.broadcast(query), F.array_contains(F.col("__probes"), F.col("bucket")))
        .withColumn("sim", _sim(vec_col, "__qvec"))
    )
    return (
        cand.orderBy(F.col("sim").desc(), F.col(id_col).asc())
        .limit(k)
        .select(id_col, "sim", "bucket")
    )


def build_pq_index(
    emb: DataFrame,
    index_path: str,
    m: int = 8,
    n_codes: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    sample_rows: int = 4096,
    iters: int = 20,
) -> None:
    """One-time product-quantization index build (the memory-compression
    ANN path: an m-byte code replaces a dim×4-byte vector — 32× smaller
    for dim=64/m=8, so a 100 TB embedding corpus's index fits in a few
    TB and scans stay bandwidth-bound on codes, never raw vectors).

    Vectors are L2-normalized first, so squared-L2 ranking ≡ cosine
    ranking and the asymmetric-distance probe can report cosine.
    Training is driver-side Lloyd's on a bounded deterministic sample
    (a parameter fit, same posture as the IVF coarse quantizer —
    codebooks are m × n_codes × dim/m floats, a few KB); encoding is a
    distributed mapInPandas pass.  Layout: ``codebooks/`` (sub, code,
    centroid) + ``codes/`` (id, m small ints)."""
    import numpy as np
    import pandas as pd

    spark = emb.sparkSession
    rows = (
        emb.select(F.expr(as_double(vec_col)).alias("v"))
        .limit(sample_rows)
        .collect()
    )
    X = np.asarray([r.v for r in rows], dtype="float64")
    X /= np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    dim = X.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d = dim // m
    rng = np.random.RandomState(7)
    books = np.empty((m, n_codes, d))
    for s in range(m):
        sub = X[:, s * d : (s + 1) * d]
        C = sub[rng.choice(len(sub), size=n_codes, replace=False)].copy()
        for _ in range(iters):
            assign = ((sub[:, None, :] - C[None, :, :]) ** 2).sum(-1).argmin(1)
            for j in range(n_codes):
                pts = sub[assign == j]
                if len(pts):
                    C[j] = pts.mean(0)
        books[s] = C

    spark.createDataFrame(
        [(s, j, [float(x) for x in books[s, j]]) for s in range(m) for j in range(n_codes)],
        "sub int, code int, centroid array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(index_path + "/codebooks")

    def encode(batches):
        for pdf in batches:
            V = np.asarray([list(v) for v in pdf["__v"]], dtype="float64")
            V /= np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
            codes = np.empty((len(V), m), dtype="int32")
            for s in range(m):
                sub = V[:, s * d : (s + 1) * d]
                codes[:, s] = ((sub[:, None, :] - books[s][None, :, :]) ** 2).sum(-1).argmin(1)
            yield pd.DataFrame({"vid": pdf["vid"], "code": list(codes.tolist())})

    emb.select(
        F.col(id_col).alias("vid"), F.expr(as_double(vec_col)).alias("__v")
    ).mapInPandas(encode, "vid long, code array<int>").write.mode("overwrite").parquet(
        index_path + "/codes"
    )


def pq_probe_topk(
    spark,
    index_path: str,
    query_vec,
    k: int = 10,
    exclude_id: int | None = None,
) -> DataFrame:
    """Query side of PQ ANN: asymmetric distance computation — per-
    subspace lookup tables from the raw query vector (m × n_codes
    floats, computed driver-side and shipped in the UDF closure), then
    one bandwidth-bound scan over the CODES table summing table
    lookups.  Returns approximate cosine (vectors were normalized at
    build: cos = 1 - L2²/2)."""
    import numpy as np
    import pandas as pd

    cb = spark.read.parquet(index_path + "/codebooks").collect()
    m = 1 + max(r.sub for r in cb)
    n_codes = 1 + max(r.code for r in cb)
    d = len(cb[0].centroid)
    books = np.empty((m, n_codes, d))
    for r in cb:
        books[r.sub, r.code] = r.centroid
    q = np.asarray(list(query_vec), dtype="float64")
    q /= max(float(np.linalg.norm(q)), 1e-12)
    table = np.stack(
        [((q[s * d : (s + 1) * d][None, :] - books[s]) ** 2).sum(-1) for s in range(m)]
    )  # m × n_codes

    def adc(batches):
        for pdf in batches:
            codes = np.asarray(list(pdf["code"]), dtype="int64")
            dist2 = table[np.arange(m)[None, :], codes].sum(-1)
            yield pd.DataFrame(
                {"vid": pdf["vid"], "sim": np.round(1.0 - dist2 / 2.0, 4)}
            )

    codes = spark.read.parquet(index_path + "/codes")
    if exclude_id is not None:
        codes = codes.where(F.col("vid") != exclude_id)
    return (
        codes.mapInPandas(adc, "vid long, sim double")
        .orderBy(F.col("sim").desc(), F.col("vid").asc())
        .limit(k)
        .withColumnRenamed("vid", "vec_id")
    )


def pq_topk(
    emb: DataFrame,
    query_id: int,
    k: int = 10,
    m: int = 8,
    n_codes: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    index_path: str | None = None,
    rerank: int | None = None,
) -> DataFrame:
    """Build-once PQ ANN (artifact keyed on files + logical plan, like
    ivf_topk): train + encode on first call, every later query is a
    codes-only scan.

    ``rerank=N`` routes the probe through the certified TWO-STAGE
    serving path (pq_rerank_topk: ADC top-N candidates, exact cosine
    re-rank to top-k).  Single-stage ADC (rerank=None) is the recall-
    certification path only — its rank quality decays with corpus
    size (ANN_SCALE_r14: the 0.35 recall floor FAILED at 10M vectors
    while two-stage held ≥0.6), so serve with rerank at scale."""
    row = (
        emb.where(F.col(id_col) == query_id)
        .select(F.expr(as_double(vec_col)).alias("v"))
        .first()
    )
    if row is None:
        # unknown query id: empty result with the probe's output
        # schema, BEFORE paying for the index build (mirrors
        # ivf_topk's graceful empty result)
        return (
            emb.select(F.col(id_col).alias("vec_id"))
            .where(F.lit(False))
            .withColumn("sim", F.lit(0.0))
        )
    if index_path is None:
        from clickhub_spark.artifacts import derived_artifact_path

        index_path = derived_artifact_path(emb, f"pq{m}x{n_codes}")
    if not os.path.isdir(index_path + "/codes"):
        build_pq_index(emb, index_path, m, n_codes, vec_col, id_col)
        from clickhub_spark.artifacts import prune_stale

        prune_stale(index_path)
    if rerank is not None:
        return pq_rerank_topk(
            emb.sparkSession,
            index_path,
            emb,
            list(row.v),
            k=k,
            rerank=rerank,
            vec_col=vec_col,
            id_col=id_col,
            exclude_id=query_id,
        )
    return pq_probe_topk(
        emb.sparkSession, index_path, list(row.v), k=k, exclude_id=query_id
    )


def pq_rerank_topk(
    spark,
    index_path: str,
    emb: DataFrame,
    query_vec,
    k: int = 10,
    rerank: int = 200,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    exclude_id: int | None = None,
) -> DataFrame:
    """Two-stage PQ serving — the production ANN shape at scale: the
    ADC scan over the codes table selects ``rerank`` candidates
    (bandwidth-bound, m small ints per vector), then EXACT cosine
    re-ranks only those ``rerank`` raw vectors to the final top-k.

    Why the second stage exists: ADC rank quality DEGRADES with
    neighbor density — quantization distortion is constant while the
    sim gaps between true neighbors shrink as the corpus grows, so a
    single-stage recall floor certified at small scale does not
    survive a 100× corpus (measured: recall@20 0.30 single-stage vs
    0.86 two-stage at 50k clustered vectors, ``tools/scale ann_scale``).
    The re-rank is a broadcast semi-join of ``rerank`` ids against
    the corpus — raw vectors are touched for candidates only, never
    scanned."""
    cand = pq_probe_topk(
        spark, index_path, query_vec, k=rerank, exclude_id=exclude_id
    ).select("vec_id")
    return (
        emb.join(
            F.broadcast(cand),
            emb[id_col] == cand["vec_id"],
            "left_semi",
        )
        .select(
            F.col(id_col).alias("vec_id"),
            _sim(vec_col, array_literal(query_vec), 6).alias("sim"),
        )
        .orderBy(F.col("sim").desc(), F.col("vec_id").asc())
        .limit(k)
    )


def hyperplane_signature_md5(vec: str, n_bits: int = 4, dim: int = 64) -> str:
    """Engine-portable twin of ``hyperplane_signature``: plane weights
    are ±1 from md5 hex parity (md5("p:i") first hex char ≤ '7' → +1),
    so an external engine can recompute the exact bucket with its own
    md5 — the same md5-basis trick the MinHash/SimHash oracle twins
    use.  The weights are baked in as literal arrays (md5 is md5 —
    hashlib here equals any engine's md5 there), so per-row work is
    one codegen'd zip_with dot product per plane; the bucket is the
    concatenated sign-bit string.  xxhash-based
    ``hyperplane_signature`` stays the prod path (faster basis, int
    bucket).  ``vec`` and the result are SQL text, as in
    ``hyperplane_signature``."""
    import hashlib

    bits = []
    for p in range(n_bits):
        w = array_literal(
            1.0 if hashlib.md5(f"{p}:{i}".encode()).hexdigest()[0] <= "7" else -1.0
            for i in range(dim)
        )
        proj = dot(f"slice({vec}, 1, {dim})", f"slice({w}, 1, least({dim}, size({vec})))")
        bits.append(f"CASE WHEN {proj} >= 0 THEN '1' ELSE '0' END")
    return f"concat({', '.join(bits)})"


def lsh_bucket_topk_md5(
    emb: DataFrame,
    query_id: int,
    k: int = 10,
    n_bits: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """``lsh_bucket_topk`` over the md5-basis signature — identical
    bucket-pruned plan shape (signature map-only, query row broadcast,
    candidates = bucket equality, TakeOrdered top-k), but every value
    is reproducible by an external engine for oracle checking."""
    dim = 64
    with_sig = emb.withColumn(
        "bucket", F.expr(hyperplane_signature_md5(as_double(vec_col), n_bits, dim))
    )
    query = with_sig.where(F.col(id_col) == query_id).select(
        F.expr(as_double(vec_col)).alias("__qvec"), F.col("bucket").alias("__qbucket")
    )
    cand = (
        with_sig.where(F.col(id_col) != query_id)
        .join(F.broadcast(query), F.col("bucket") == F.col("__qbucket"))
        .withColumn("sim", _sim(vec_col, "__qvec"))
    )
    return (
        cand.orderBy(F.col("sim").desc(), F.col(id_col).asc())
        .limit(k)
        .select(id_col, "sim", "bucket")
    )
