"""Similarity search over embeddings (SURVEY §2.J6): one build and one
probe function per index kind.

| index      | build                              | probe                    |
|------------|------------------------------------|--------------------------|
| brute force| none                               | ``brute_force_topk``     |
| LSH        | ``hyperplane_signature``           | ``lsh_probe``            |
| md5 LSH    | ``hyperplane_signature_md5``       | ``lsh_bucket_topk_md5``  |
| IVF        | ``build_ivf_index`` (``ivf_index``)| ``ivf_probe``            |
| PQ         | ``build_pq_index`` (``pq_index``)  | ``pq_scores``            |
| PQ re-rank | ``build_pq_index`` (``pq_index``)  | ``pq_rerank_topk``       |

- **Brute force** scores every row against a one-row broadcast query
  with a codegen'd higher-order-function expression, then takes a
  global top-k (TakeOrderedAndProject, no full sort): one full scan
  per query, the correct baseline and not the scale path.
  ``exact_topk_pairs`` is its batched form, the exact side every
  recall certificate compares against.
- **LSH** signs each vector with random hyperplanes derived from
  xxhash64 (no stored model); a query scores only the vectors in its
  bucket, plus every bucket at Hamming distance 1 with
  ``multi_probe=1``.  The scan is pruned by a
  broadcast membership predicate.  The **md5** twin uses md5-parity
  plane weights so an external engine can recompute its buckets.
- **IVF** partitions the corpus by nearest KMeans cell; a query scans
  only the partitions of its ``nprobe`` nearest cells (``ivf_cells``).
- **PQ** stores an m-byte code per vector; a query is one
  asymmetric-distance scan over the codes.  **PQ re-rank** re-scores
  the ADC top candidates with exact cosine.

Batched probes take a list of ``(qid, vector)`` queries (LSH: a frame
of ``qid, __qvec, __qbucket``), return scored candidate rows carrying
``qid`` and ``sim``, and never return a query's own id (a ``None``
qid excludes nothing).  ``topk_per_query`` ranks them; the ``*_topk``
serving functions take one query and a global top-k.  The IVF and PQ
indexes are build-once artifacts (``artifacts.build_artifact``) keyed
on the source files and plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from clickhub_spark.artifacts import build_artifact
from clickhub_spark.functions.vectors import array_literal, as_double, cosine, dot


def _sim(vec_col: str, query: str, digits: int = 4) -> F.Column:
    """Rounded cosine of the row vector ``vec_col`` (array<float>) to
    the array<double> SQL expression ``query``."""
    return F.expr(f"round({cosine(as_double(vec_col), query)}, {digits})")


def _scored(emb: DataFrame, vec_col: str, id_col: str, query: DataFrame) -> DataFrame:
    return emb.crossJoin(F.broadcast(query)).withColumn("sim", _sim(vec_col, "__qvec"))


def _not_self(id_col: str) -> F.Column:
    """A candidate is not its own query (a NULL qid excludes nothing)."""
    return ~F.col(id_col).eqNullSafe(F.col("qid"))


def _top(df: DataFrame, k: int, id_col: str) -> DataFrame:
    """Global top-k of one query's candidates by (sim desc, id asc)."""
    return df.orderBy(F.col("sim").desc(), F.col(id_col).asc()).limit(k)


def topk_per_query(df: DataFrame, k: int, id_col: str = "vec_id") -> DataFrame:
    """The k best rows of each ``qid`` by (sim desc, id asc): a rank
    window, so ties break on the id and the selected SET is
    deterministic."""
    w = Window.partitionBy("qid").orderBy(F.col("sim").desc(), F.col(id_col).asc())
    return df.withColumn("__rn", F.row_number().over(w)).where(F.col("__rn") <= k).drop("__rn")


def exact_topk_pairs(emb: DataFrame, q: DataFrame, k: int) -> DataFrame:
    """Exact cosine top-k (qid, vec_id) pairs per query vector — the
    deliberate O(n·q) cross score every ANN recall certificate
    compares against (q=20: certification cost, not a serving path).
    ``emb`` carries (vec_id, embedding), ``q`` carries (qid, __qvec);
    self-pairs are excluded."""
    scored = emb.join(F.broadcast(q), F.col("vec_id") != F.col("qid")).withColumn(
        "sim", F.expr(cosine(as_double("embedding"), "__qvec"))
    )
    return topk_per_query(scored, k).select("qid", "vec_id")


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


def lsh_probe(
    with_sig: DataFrame,
    queries: DataFrame,
    n_bits: int,
    multi_probe: int = 0,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Scored LSH candidates of a batch of queries: ``with_sig`` is the
    corpus with its ``bucket`` signature, ``queries`` carries (qid,
    __qvec, __qbucket).  A query probes its own bucket, plus with
    ``multi_probe=1`` every bucket at Hamming distance 1 (the standard
    recall knob — a vector near a hyperplane lands one sign-bit away).
    The query rows broadcast and each corpus row is kept only for the
    queries whose probed buckets hold it — a pruning predicate, never
    a scored cross product."""
    probes = "array(__qbucket)"
    if multi_probe >= 1:
        flips = ", ".join(f"__qbucket ^ {1 << b}" for b in range(n_bits))
        probes = f"concat({probes}, array({flips}))"
    return with_sig.join(
        F.broadcast(queries.withColumn("__probes", F.expr(probes))),
        F.array_contains(F.col("__probes"), F.col("bucket")) & _not_self(id_col),
    ).withColumn("sim", _sim(vec_col, "__qvec"))


def lsh_bucket_topk(
    emb: DataFrame,
    query_id: int,
    k: int = 10,
    n_bits: int = 8,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    multi_probe: int = 0,
) -> DataFrame:
    """ANN top-k of ``query_id``: score only vectors in its probed LSH
    buckets (``lsh_probe``)."""
    with_sig = emb.withColumn(
        "bucket", F.expr(hyperplane_signature(as_double(vec_col), n_bits, 64))
    )
    query = with_sig.where(F.col(id_col) == query_id).select(
        F.col(id_col).alias("qid"),
        F.expr(as_double(vec_col)).alias("__qvec"),
        F.col("bucket").alias("__qbucket"),
    )
    cand = lsh_probe(with_sig, query, n_bits, multi_probe, vec_col, id_col)
    return _top(cand, k, id_col).select(id_col, "sim", "bucket")


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

    Writes ``path`` in place; ``ivf_index`` runs it under
    ``build_artifact``, whose rename publishes the finished index.
    """
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

    assigned.write.mode("overwrite").partitionBy("cell").parquet(path + "/data")
    centroids = [
        (i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())
    ]
    emb.sparkSession.createDataFrame(
        centroids, "cell int, centroid array<double>"
    ).coalesce(1).write.mode("overwrite").parquet(path + "/centroids")
    return path


def ivf_index(
    emb: DataFrame, n_cells: int = 16, vec_col: str = "embedding", id_col: str = "vec_id"
) -> str:
    """Path of the build-once IVF index of ``emb``: built on first use,
    then reused until the source files or plan change."""
    return build_artifact(
        emb, f"ivf{n_cells}", lambda p: build_ivf_index(emb, p, n_cells, vec_col, id_col)
    )


def ivf_cells(spark, index_path: str, queries, nprobe: int) -> list[list[int]]:
    """The ``nprobe`` nearest cells of each query vector, chosen
    driver-side over the n_cells-row centroid table (a parameter
    lookup, not a data collect): ascending squared L2 distance, ties
    to the lowest cell id."""
    import numpy as np

    rows = spark.read.parquet(index_path + "/centroids").collect()
    cells = np.asarray([r.cell for r in rows])
    C = np.asarray([r.centroid for r in rows], dtype="float64")
    Q = np.asarray([list(v) for v in queries], dtype="float64")
    d2 = ((Q[:, None, :] - C[None, :, :]) ** 2).sum(-1)
    order = np.lexsort((np.broadcast_to(cells, d2.shape), d2))
    return cells[order[:, :nprobe]].tolist()


def ivf_probe(
    spark,
    index_path: str,
    queries,
    cells: list[list[int]],
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Scored IVF candidates of a batch of ``(qid, vector)`` queries:
    query i scores only the vectors of its cells ``cells[i]``
    (``ivf_cells``), and the scan lists only the partitions some query
    probes."""
    probed = sorted({c for cs in cells for c in cs})
    query = spark.createDataFrame(
        [(qid, [float(x) for x in v], cs) for (qid, v), cs in zip(queries, cells)],
        "qid long, __qvec array<double>, __cells array<int>",
    )
    return (
        spark.read.parquet(index_path + "/data")
        .where(F.col("cell").isin(probed))
        .join(
            F.broadcast(query),
            F.array_contains(F.col("__cells"), F.col("cell")) & _not_self(id_col),
        )
        .withColumn("sim", _sim(vec_col, "__qvec"))
    )


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
    """IVF top-k of one query vector over its ``nprobe`` nearest cells."""
    cells = ivf_cells(spark, index_path, [query_vec], nprobe)
    cand = ivf_probe(spark, index_path, [(exclude_id, query_vec)], cells, vec_col, id_col)
    return _top(cand, k, id_col).select(id_col, "sim", "cell")


def ivf_topk(
    emb: DataFrame,
    query_id: int,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """IVF (inverted-file) ANN top-k of ``query_id`` over the build-once
    index (``ivf_index``): repeated queries — and repeated benchmark
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
    return ivf_probe_topk(
        emb.sparkSession,
        ivf_index(emb, n_cells, vec_col, id_col),
        list(qrow[0]),
        k=k,
        nprobe=nprobe,
        vec_col=vec_col,
        id_col=id_col,
        exclude_id=query_id,
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


def pq_index(
    emb: DataFrame,
    m: int = 8,
    n_codes: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> str:
    """Path of the build-once PQ index of ``emb``: trained and encoded
    on first use, then reused until the source files or plan change."""
    return build_artifact(
        emb, f"pq{m}x{n_codes}", lambda p: build_pq_index(emb, p, m, n_codes, vec_col, id_col)
    )


def pq_scores(spark, index_path: str, queries) -> DataFrame:
    """Asymmetric-distance (ADC) scores ``(qid, vid, sim)`` of a batch
    of ``(qid, vector)`` queries: per-query, per-subspace lookup
    tables from the raw query vectors (nq × m × n_codes floats,
    computed driver-side and shipped in the closure), then ONE
    bandwidth-bound mapInPandas scan over the CODES table summing
    table lookups for every query.  ``sim`` is approximate cosine
    rounded to 4dp (vectors were normalized at build: cos = 1 − L2²/2)."""
    import numpy as np
    import pandas as pd

    cb = spark.read.parquet(index_path + "/codebooks").collect()
    m = 1 + max(r.sub for r in cb)
    n_codes = 1 + max(r.code for r in cb)
    d = len(cb[0].centroid)
    books = np.empty((m, n_codes, d))
    for r in cb:
        books[r.sub, r.code] = r.centroid
    qids = [qid for qid, _ in queries]
    Q = np.asarray([list(v) for _, v in queries], dtype="float64")
    Q /= np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)
    tables = np.stack(
        [
            ((Q[:, None, s * d : (s + 1) * d] - books[s][None, :, :]) ** 2).sum(-1)
            for s in range(m)
        ],
        axis=1,
    )  # nq × m × n_codes

    def adc(batches):
        sub_idx = np.arange(m)[None, :]
        for pdf in batches:
            codes = np.asarray(list(pdf["code"]), dtype="int64")
            yield pd.concat(
                pd.DataFrame(
                    {
                        "qid": pd.Series([qid] * len(pdf), dtype="Int64"),
                        "vid": pdf["vid"],
                        "sim": np.round(1.0 - tables[i][sub_idx, codes].sum(-1) / 2.0, 4),
                    }
                )
                for i, qid in enumerate(qids)
            )

    return (
        spark.read.parquet(index_path + "/codes")
        .mapInPandas(adc, "qid long, vid long, sim double")
        .where(_not_self("vid"))
    )


def pq_probe_topk(
    spark,
    index_path: str,
    query_vec,
    k: int = 10,
    exclude_id: int | None = None,
) -> DataFrame:
    """Single-stage PQ top-k of one query vector: the ADC scan
    (``pq_scores``) and a global top-k, as (vec_id, sim)."""
    sims = pq_scores(spark, index_path, [(exclude_id, query_vec)])
    return _top(sims, k, "vid").select(F.col("vid").alias("vec_id"), "sim")


def pq_topk(
    emb: DataFrame,
    query_id: int,
    k: int = 10,
    m: int = 8,
    n_codes: int = 16,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    rerank: int | None = None,
) -> DataFrame:
    """PQ ANN top-k of ``query_id`` over the build-once index
    (``pq_index``): train + encode on first call, every later query is
    a codes-only scan.

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
    index_path = pq_index(emb, m, n_codes, vec_col, id_col)
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
    rescored = (
        emb.join(
            F.broadcast(cand),
            emb[id_col] == cand["vec_id"],
            "left_semi",
        )
        .select(
            F.col(id_col).alias("vec_id"),
            _sim(vec_col, array_literal(query_vec), 6).alias("sim"),
        )
    )
    return _top(rescored, k, "vec_id")


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
