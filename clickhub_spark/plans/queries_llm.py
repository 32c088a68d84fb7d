"""LLM training-data pipeline queries (``q_llm_*``) over the driver's
``documents`` / ``embeddings`` tables: dedup, similarity search, text
analysis and filters, tokenizers, language models, packing and the
model-fitting operators.

Engine-portable hashes (md5/sha2) are used wherever an oracle checks
values; xxhash64 (JVM-only, faster) only where the check is rows-only.
The ANN recall gates (``q_llm_knn_*_recall``) are measured margins, not
theorems: KMeans-cell and product-quantization ANN carry no
distribution-free recall guarantee.  The ``*_cert`` rows for the
model fits check exact invariants, so every expected value there is a
constant.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from clickhub_spark.catalog import load
from clickhub_spark.functions.vectors import as_double, cosine
from clickhub_spark.operators import bloom
from clickhub_spark.plans.registry import query


@query(
    "q_llm_dedup_embed",
    oracle="""
    SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.label AS label,
           ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                        CAST(b.embedding AS DOUBLE[])), 4) AS sim
    FROM embeddings a
    JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
    ORDER BY sim DESC, id_a ASC, id_b ASC
    LIMIT 20
    """,
)
def q_llm_dedup_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup candidates (SURVEY north-star dedup):
    pairs blocked by label (the IVF-style partition key — at 100 TB
    the blocking key is a coarse quantizer cell, so the self-join is
    bucket-local, never all-pairs), top-20 most similar."""
    emb = load(spark, sf_dir, "embeddings")
    a = emb.select(
        F.col("vec_id").alias("id_a"),
        F.col("label"),
        F.expr(as_double("embedding")).alias("va"),
    )
    b = emb.select(
        F.col("vec_id").alias("id_b"),
        F.col("label"),
        F.expr(as_double("embedding")).alias("vb"),
    )
    return (
        a.join(b, ["label"])
        .where(F.col("id_a") < F.col("id_b"))
        .withColumn("sim", F.expr(f"round({cosine('va', 'vb')}, 4)"))
        .orderBy(F.col("sim").desc(), F.col("id_a").asc(), F.col("id_b").asc())
        .limit(20)
        .select("id_a", "id_b", "label", "sim")
    )


@query("q_llm_knn_ivf", oracle=None)  # KMeans cells are engine-internal
def q_llm_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-ANN top-10 via a KMeans coarse quantizer (SURVEY §2.J6
    scale path alongside LSH): a build-once cell-partitioned index
    (reused across calls, keyed on input files+mtimes), probe pruned
    to the 4 nearest of 16 cells via parquet partition pruning.
    Rows-only check; unit test measures recall vs q_llm_knn."""
    from clickhub_spark.operators.knn import ivf_topk

    return ivf_topk(
        load(spark, sf_dir, "embeddings"), query_id=0, k=10, n_cells=16, nprobe=4
    )


@query("q_llm_simhash", oracle=None)  # xxhash64 is engine-internal
def q_llm_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """64-bit SimHash per document (SURVEY §2.J5 SimHash variant) —
    near-dups differ in few bits; rows-only check, unit-tested for
    self-consistency (identical text → identical simhash)."""
    from clickhub_spark.operators.dedup import simhash

    return simhash(load(spark, sf_dir, "documents"), "text", "doc_id")


@query(
    "q_llm_simhash_md5",
    oracle="""
    WITH words AS (
        SELECT doc_id, u.w FROM documents, UNNEST(string_split(text, ' ')) u(w)
        WHERE u.w <> ''
    ), bits AS (
        SELECT doc_id, t.b,
               CASE WHEN ((strpos('0123456789abcdef',
                                  substr(md5(w), t.b // 4 + 1, 1)) - 1)
                          >> (t.b % 4)) & 1 = 1
                    THEN 1 ELSE -1 END AS vote
        FROM words, UNNEST(generate_series(0, 31)) t(b)
    ), votes AS (
        SELECT doc_id, b, SUM(vote) AS v FROM bits GROUP BY doc_id, b
    )
    SELECT doc_id,
           CAST(SUM(CASE WHEN v > 0 THEN (CAST(1 AS BIGINT) << b)
                         ELSE 0 END) AS BIGINT) AS simhash_md5
    FROM votes GROUP BY doc_id
    """,
)
def q_llm_simhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash with engine-portable md5 bit votes — the fully
    value-checked twin of q_llm_simhash (VERDICT r3 item 5), mirroring
    how q_llm_dedup_minhash_md5 oracle-checks the MinHash pipeline.
    Proves the vote/assemble pipeline bit-for-bit, not just its row
    count; xxhash64 stays the production basis."""
    from clickhub_spark.operators.dedup import simhash_md5

    return simhash_md5(load(spark, sf_dir, "documents"), "text", "doc_id")


# ---------------------------------------------------------------------------
# Dedup family (§2.J4, J5)
# ---------------------------------------------------------------------------
@query(
    "q_llm_dedup_exact",
    oracle="""
    SELECT md5(text) AS content_hash, COUNT(*) AS n_dups,
           min(doc_id) AS canonical_id
    FROM documents GROUP BY md5(text)
    """,
)
def q_llm_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via content hash groupBy (SURVEY §2.J4) — one
    shuffle on the 128-bit hash; the canonical 100 TB first-pass."""
    from clickhub_spark.operators.dedup import exact_dup_groups

    return exact_dup_groups(load(spark, sf_dir, "documents"), "text", "doc_id")


@query(
    "q_llm_dedup_jaccard",
    oracle="""
    WITH words AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), sh0 AS (
        SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS shingle
        FROM words, UNNEST(range(1, len(ws) - 1)) t(i)
        WHERE len(ws) >= 3
    ), sh AS (
        -- stop-shingle cap, mirroring jaccard_pairs(max_doc_freq=1000)
        SELECT doc_id, shingle FROM sh0
        QUALIFY COUNT(*) OVER (PARTITION BY shingle) <= 1000
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id
    ), inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS inter
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT id_a, id_b,
           ROUND(CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter), 4) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE CAST(inter AS DOUBLE) / (sa.n_sh + sb.n_sh - inter) >= 0.15
    """,
)
def q_llm_dedup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs via a shingle inverted index
    (SURVEY §2.J5 exact variant) — distributed as explode → self-join
    on shingle → count, never a full doc×doc product."""
    from clickhub_spark.operators.dedup import jaccard_pairs

    return jaccard_pairs(
        load(spark, sf_dir, "documents"),
        "text",
        "doc_id",
        k=3,
        threshold=0.15,
        max_doc_freq=1000,
    )


@query("q_llm_dedup_minhash", oracle=None)  # xxhash64 is engine-internal
def q_llm_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidate pairs (SURVEY §2.J5): 32-perm
    signatures, 8 bands — the scale path where exact Jaccard's
    inverted index would blow up.  Rows-only check (engine-internal
    xxhash64); unit test validates against exact Jaccard."""
    from clickhub_spark.operators.dedup import minhash_candidate_pairs

    return minhash_candidate_pairs(
        load(spark, sf_dir, "documents"), "text", "doc_id", k=3, num_perm=32, bands=8
    )


# ---------------------------------------------------------------------------
# Similarity search (§2.J6)
# ---------------------------------------------------------------------------
@query(
    "q_llm_knn",
    oracle="""
    SELECT e.vec_id,
           ROUND(list_cosine_similarity(
               CAST(e.embedding AS DOUBLE[]),
               (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)
           ), 4) AS sim
    FROM embeddings e WHERE e.vec_id <> 0
    ORDER BY sim DESC, vec_id ASC LIMIT 10
    """,
)
def q_llm_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-10 neighbors of vec_id=0 (SURVEY §2.J6
    baseline).  Scoring is a zip_with/aggregate codegen expression;
    top-k is TakeOrderedAndProject — no full sort, no Python."""
    from clickhub_spark.operators.knn import brute_force_topk

    return brute_force_topk(load(spark, sf_dir, "embeddings"), query_id=0, k=10)


@query("q_llm_knn_lsh", oracle=None)  # LSH planes are engine-internal
def q_llm_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-10 via random-hyperplane LSH bucketing — the scale path
    (scan pruned to the query's bucket plus its n_bits Hamming-1
    neighbors; multi_probe=1 is the configuration whose recall
    q_llm_knn_lsh_recall certifies — ADVICE r9 #3 aligned the serving
    path with the certificate).  Rows-only check; unit test measures
    recall against q_llm_knn."""
    from clickhub_spark.operators.knn import lsh_bucket_topk

    return lsh_bucket_topk(
        load(spark, sf_dir, "embeddings"),
        query_id=0,
        k=10,
        n_bits=4,
        multi_probe=1,
    )


# ---------------------------------------------------------------------------
# Text analysis (§2.J7)
# ---------------------------------------------------------------------------
_EN_STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "for", "on", "with")

#: shared oracle fragment: the md5 MinHash-LSH candidate-pair CTE
#: chain (kept single-source so the Spark pipeline and every oracle
#: that builds on it change together).
_MINHASH_PAIRS_CTE = """
    WITH words AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), sh AS (
        SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS shingle
        FROM words, UNNEST(range(1, len(ws) - 1)) t(i)
        WHERE len(ws) >= 3
    ), mins AS (
        SELECT doc_id, p, min(md5(shingle || ':' || p)) AS mh
        FROM sh, UNNEST(range(0, 16)) t(p)
        GROUP BY doc_id, p
    ), bands AS (
        SELECT doc_id, p // 4 AS band,
               md5(string_agg(mh, '|' ORDER BY p)) AS bh
        FROM mins GROUP BY doc_id, p // 4
    ), pairs AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
    )
"""


@query(
    "q_llm_textstats",
    oracle="""
    SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
           CAST(length(text) AS INT) AS n_chars_fn,
           ROUND(CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
                 / len(string_split(text, ' ')), 4) AS avg_token_len
    FROM documents
    """,
)
def q_llm_textstats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + length stats per document (SURVEY §2.J7) —
    whitespace tokenizer, all builtin fns."""
    toks = F.size(F.split("text", " "))
    return load(spark, sf_dir, "documents").select(
        "doc_id",
        toks.alias("n_tokens"),
        F.length("text").alias("n_chars_fn"),
        F.round(
            (F.length("text") - (toks - 1)).cast("double") / toks, 4
        ).alias("avg_token_len"),
    )


@query(
    "q_llm_lang_id",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w FROM documents
    )
    SELECT doc_id, any_value(lang) AS lang,
           ROUND(AVG(CASE WHEN w IN {_EN_STOPWORDS} THEN 1.0 ELSE 0.0 END), 4)
               AS stopword_ratio,
           CASE WHEN AVG(CASE WHEN w IN {_EN_STOPWORDS} THEN 1.0 ELSE 0.0 END) > 0.05
                THEN 'en' ELSE 'other' END AS pred_lang
    FROM toks GROUP BY doc_id
    """,
)
def q_llm_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID via stopword-hit ratio (SURVEY north-star
    text analysis) — explode + isin + avg, no UDF."""
    toks = load(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("w")
    )
    hit = F.when(F.col("w").isin(*_EN_STOPWORDS), 1.0).otherwise(0.0)
    return toks.groupBy("doc_id").agg(
        F.any_value("lang").alias("lang"),
        F.round(F.avg(hit), 4).alias("stopword_ratio"),
        F.when(F.avg(hit) > 0.05, "en").otherwise("other").alias("pred_lang"),
    )


@query(
    "q_llm_quality",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ), stats AS (
        SELECT doc_id, COUNT(*) AS n_tokens,
               ROUND(CAST(COUNT(DISTINCT w) AS DOUBLE) / COUNT(*), 4) AS distinct_ratio
        FROM toks GROUP BY doc_id
    )
    SELECT s.doc_id, s.n_tokens, s.distinct_ratio,
           CASE WHEN s.n_tokens >= 20 AND s.distinct_ratio >= 0.3
                THEN 'good' ELSE 'low' END AS quality
    FROM stats s
    """,
)
def q_llm_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document quality scoring: length + lexical-diversity gates
    (SURVEY north-star quality scoring)."""
    toks = load(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.split("text", " ")).alias("w")
    )
    stats = toks.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.round(F.countDistinct("w").cast("double") / F.count("*"), 4).alias(
            "distinct_ratio"
        ),
    )
    return stats.select(
        "doc_id",
        "n_tokens",
        "distinct_ratio",
        F.when(
            (F.col("n_tokens") >= 20) & (F.col("distinct_ratio") >= 0.3), "good"
        )
        .otherwise("low")
        .alias("quality"),
    )


@query(
    "q_llm_fingerprint",
    oracle="""
    WITH words AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), sh AS (
        SELECT doc_id, array_to_string(ws[i:i+2], ' ') AS shingle
        FROM words, UNNEST(range(1, len(ws) - 1)) t(i)
        WHERE len(ws) >= 3
    )
    SELECT doc_id, min(md5(shingle)) AS fingerprint
    FROM sh GROUP BY doc_id
    """,
)
def q_llm_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: bottom-1 sketch over hashed 3-gram
    shingles (winnowing-style; SURVEY north-star fingerprinting).
    Docs sharing a fingerprint are near-dup candidates."""
    from clickhub_spark.operators.dedup import shingles

    sh = shingles(load(spark, sf_dir, "documents"), "text", "doc_id", k=3)
    return sh.groupBy("doc_id").agg(F.min(F.md5("shingle")).alias("fingerprint"))


@query(
    "q_llm_token_bpe",
    oracle="""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]')
                ) AS INT) AS n_tokens_bpe,
           CAST(len(string_split(text, ' ')) AS INT) AS n_tokens_ws
    FROM documents
    """,
)
def q_llm_token_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish regex tokenization vs whitespace (SURVEY north-star
    token counting): alpha runs, digit runs, and lone symbols — the
    pre-tokenizer split GPT-style BPE vocabularies assume.  Pure
    regexp_count, stays in codegen."""
    pat = r"[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\s]"
    return load(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(pat), F.lit(0))).alias("n_tokens_bpe"),
        F.size(F.split("text", " ")).alias("n_tokens_ws"),
    )


@query(
    "q_llm_dedup_minhash_md5",
    oracle=_MINHASH_PAIRS_CTE + "SELECT id_a, id_b FROM pairs",
)
def q_llm_dedup_minhash_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH candidate pairs with engine-portable md5 hashing —
    the fully oracle-checked variant of q_llm_dedup_minhash (16 perms,
    4 bands of 4).  Proves the banding/bucketing pipeline itself, not
    just its row count."""
    from clickhub_spark.operators.dedup import minhash_candidate_pairs_md5

    return minhash_candidate_pairs_md5(
        load(spark, sf_dir, "documents"), "text", "doc_id", k=3, num_perm=16, bands=4
    )


@query(
    "q_llm_dedup_groups",
    oracle=_MINHASH_PAIRS_CTE
    + """
    , bidir AS (
        SELECT id_a AS a, id_b AS b FROM pairs
        UNION SELECT id_b, id_a FROM pairs
    ), reach AS (
        WITH RECURSIVE r(src, dst) AS (
            SELECT a, b FROM bidir
            UNION
            SELECT r.src, e.b FROM r JOIN bidir e ON r.dst = e.a
        ) SELECT * FROM r
    ), comp AS (
        SELECT src AS node, least(src, min(dst)) AS comp
        FROM reach GROUP BY src
    )
    SELECT comp AS component, COUNT(*) AS n_members,
           min(node) AS canonical_id
    FROM comp GROUP BY comp
    """,
)
def q_llm_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup GROUPS: connected components over the oracle-checkable
    md5 MinHash-LSH candidate pairs — the step that turns pairwise
    output into droppable duplicate clusters (keep canonical_id, drop
    the rest).  Spark side: iterative min-label propagation
    (operators/components.py); oracle side: recursive-CTE transitive
    closure — two completely different algorithms, same fixpoint."""
    from clickhub_spark.operators.components import dedup_groups
    from clickhub_spark.operators.dedup import minhash_candidate_pairs_md5

    pairs = minhash_candidate_pairs_md5(
        load(spark, sf_dir, "documents"), "text", "doc_id", k=3, num_perm=16, bands=4
    )
    return dedup_groups(pairs)


@query(
    "q_llm_dedup_apply",
    oracle="""
    SELECT d.doc_id, d.lang, d.n_chars FROM documents d
    JOIN (
        SELECT min(doc_id) AS keep_id FROM documents GROUP BY md5(text)
    ) k ON d.doc_id = k.keep_id
    """,
)
def q_llm_dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup END PRODUCT: the corpus with exact duplicates dropped
    (keep the min-id member of every content-hash group) — what a
    training pipeline actually feeds downstream.  Semi-join against
    the canonical set; one hash shuffle + one join."""
    from clickhub_spark.operators.dedup import exact_dup_groups

    docs = load(spark, sf_dir, "documents")
    keep = exact_dup_groups(docs, "text", "doc_id").select(
        F.col("canonical_id").alias("keep_id")
    )
    return docs.join(
        keep, docs.doc_id == keep.keep_id, "left_semi"
    ).select("doc_id", "lang", "n_chars")


# ---------------------------------------------------------------------------
# Pipeline filters: PII scrub, decontamination, repetition (§2.J7 extension)
# ---------------------------------------------------------------------------

#: Java∩RE2-portable patterns: email, phone-number shape, and a
#: denylist term standing in for a named-entity blocklist.
_PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"

_PII_PHONE = r"\+?\d[\d .-]{7,}\d"

_PII_DENY = r"\bcustomer\b"


@query(
    "q_llm_pii_scrub",
    oracle=rf"""
    WITH s1 AS (
        SELECT doc_id,
               len(regexp_extract_all(text, '{_PII_EMAIL}')) AS c1,
               regexp_replace(text, '{_PII_EMAIL}', '<REDACTED>', 'g') AS t
        FROM documents
    ), s2 AS (
        SELECT doc_id, c1,
               len(regexp_extract_all(t, '{_PII_PHONE}')) AS c2,
               regexp_replace(t, '{_PII_PHONE}', '<REDACTED>', 'g') AS t FROM s1
    ), s3 AS (
        SELECT doc_id, c1, c2,
               len(regexp_extract_all(t, '{_PII_DENY}')) AS c3,
               regexp_replace(t, '{_PII_DENY}', '<REDACTED>', 'g') AS t FROM s2
    )
    SELECT doc_id, CAST(c1 + c2 + c3 AS INT) AS n_redactions,
           md5(t) AS scrubbed_md5
    FROM s3
    """,
)
def q_llm_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing (training-data redaction pass): count + replace
    email/phone/denylist patterns per document in ONE map-only
    projection — regexp builtins in codegen, no shuffle, no UDF.
    Output carries md5(scrubbed) so the redacted text itself is
    value-checked cross-engine."""
    from clickhub_spark.operators.textops import scrub_patterns

    out = scrub_patterns(
        load(spark, sf_dir, "documents"),
        "text",
        "doc_id",
        [_PII_EMAIL, _PII_PHONE, _PII_DENY],
    )
    return out.select(
        "doc_id", "n_redactions", F.md5("scrubbed").alias("scrubbed_md5")
    )


@query(
    "q_llm_contamination",
    oracle="""
    WITH words AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), sh AS (
        SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS shingle
        FROM words, UNNEST(range(1, len(ws) - 1)) t(i)
        WHERE len(ws) >= 3
    ), bench AS (
        SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0
    ), corpus AS (
        SELECT * FROM sh WHERE doc_id % 50 <> 0
    )
    SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM corpus c JOIN bench b USING (shingle)
    GROUP BY c.doc_id HAVING COUNT(*) >= 2
    """,
)
def q_llm_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus docs sharing ≥2 distinct
    3-gram shingles with the benchmark slice (doc_id % 50 = 0 stands
    in for an eval suite).  The benchmark shingle set is BROADCAST —
    benchmarks are KB-MB against a TB-PB corpus — so the corpus side
    never shuffles for the join."""
    from clickhub_spark.operators.textops import contamination

    docs = load(spark, sf_dir, "documents")
    return contamination(
        docs.where(F.col("doc_id") % 50 != 0),
        docs.where(F.col("doc_id") % 50 == 0),
        "text",
        "doc_id",
        k=3,
        min_shared=2,
    )


@query(
    "q_llm_repetition",
    oracle="""
    WITH words AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), sh AS (
        SELECT doc_id, array_to_string(ws[i:i+2], ' ') AS shingle
        FROM words, UNNEST(range(1, len(ws) - 1)) t(i)
        WHERE len(ws) >= 3
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
           ROUND(1.0 - CAST(COUNT(DISTINCT shingle) AS DOUBLE) / COUNT(*), 4)
               AS rep_ratio
    FROM sh GROUP BY doc_id
    """,
)
def q_llm_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filter signal: duplicate 3-gram fraction
    per document (1 - distinct/total) — non-distinct shingle explode,
    one partial-aggregated shuffle on doc_id."""
    from clickhub_spark.operators.textops import repetition_ratio

    return repetition_ratio(load(spark, sf_dir, "documents"), "text", "doc_id", k=3)


@query(
    "q_llm_dedup_incremental",
    oracle=_MINHASH_PAIRS_CTE
    + """
    SELECT id_a, id_b FROM pairs
    WHERE id_a % 10 = 0 OR id_b % 10 = 0
    """,
)
def q_llm_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup dedup — the continuous-ingestion operating
    mode: the historical corpus' banded MinHash signatures live in a
    build-once store (written on first call, keyed on input files),
    and the NEW batch (doc_id % 10 = 0 stands in for today's crawl)
    only hashes itself, broadcasts against the store, and adds its
    within-batch pairs.  Value-equal to a from-scratch LSH run
    restricted to pairs involving the new batch — which is exactly
    what the oracle computes."""
    from clickhub_spark.artifacts import build_artifact
    from clickhub_spark.operators.dedup import (
        incremental_candidate_pairs,
        write_minhash_store,
    )

    docs = load(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % 10 != 0)
    new_batch = docs.where(F.col("doc_id") % 10 == 0)
    store = build_artifact(
        docs,
        "minhash_store",
        lambda p: write_minhash_store(corpus, "text", "doc_id", p),
    )
    return incremental_candidate_pairs(new_batch, store, "text", "doc_id")


@query(
    "q_llm_embed_centroid",
    oracle="""
    SELECT label, i - 1 AS pos,
           -- + 0 normalizes IEEE -0.0 (a tiny negative mean can
           -- round to negative zero in one engine and positive
           -- zero in the other)
           ROUND(AVG(CAST(embedding[i] AS DOUBLE)), 4) + 0 AS v
    FROM embeddings, UNNEST(range(1, 65)) t(i)
    GROUP BY label, i
    """,
)
def q_llm_embed_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid (the coarse-quantizer / cluster-
    profile build, cross-engine-checkable unlike KMeans): posexplode
    to (label, pos, v), partial-aggregated mean per component.
    Map-side combine collapses each partition to labels×64 rows before
    the shuffle, so exchange volume is O(labels × dim × partitions)
    regardless of corpus size.  Output stays in the exploded
    (label, pos, v) scalar shape — driver-hashable (the round-2
    correctness driver cannot canonicalize array columns); callers
    wanting the assembled vector apply
    ``groupBy(label).agg(sort_array(collect_list(struct(pos, v))))``
    (exercised in tests/test_llm_ops.py).  The ``+ 0.0`` after
    rounding normalizes IEEE negative zero on both engines (found at
    sf0.1: a -0.00001 mean rounds to -0.0 in one engine and 0.0 in
    the other)."""
    emb = load(spark, sf_dir, "embeddings")
    return (
        emb.select("label", F.posexplode("embedding").alias("pos", "v"))
        .groupBy("label", "pos")
        .agg((F.round(F.avg(F.col("v").cast("double")), 4) + 0.0).alias("v"))
    )


@query(
    "q_llm_mixture",
    oracle="""
    SELECT doc_id, lang, source, n_chars FROM documents
    WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
          CASE lang WHEN 'en' THEN 'zzzz'    -- keep all
                    WHEN 'de' THEN '8000'    -- 1/2
                    WHEN 'fr' THEN '4000'    -- 1/4
                    ELSE '1000' END          -- 1/16
    """,
)
def q_llm_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus-mixture sampling (operators/textops.
    mixture_sample) — downsample per-source to target data-mixing
    weights by md5-prefix threshold: repeatable, joinable, map-only
    (no shuffle; prunable under bucketing).  en kept whole, de 1/2,
    fr 1/4, everything else 1/16."""
    from clickhub_spark.operators.textops import mixture_sample

    return mixture_sample(
        load(spark, sf_dir, "documents"),
        rates={"en": 1.0, "de": 0.5, "fr": 0.25},
        group_col="lang",
        key_col="doc_id",
        default_rate=1 / 16,
    ).select("doc_id", "lang", "source", "n_chars")


@query("q_llm_knn_pq", oracle=None)  # PQ codes: engine-internal quantization
def q_llm_knn_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN top-20 (SURVEY §2.J6 scale path #3,
    operators/knn.build_pq_index): m-byte codes replace raw vectors
    (32× compression at m=8/dim=64), probes scan only the codes table
    with per-subspace lookup tables.

    Serves the certified TWO-STAGE path (VERDICT r14 item 5): ADC
    top-200 candidates, exact cosine re-rank to top-20 — single-stage
    ADC rank quality decays with corpus size (its 0.35 recall floor
    failed at 10M vectors, ANN_SCALE_r14, while two-stage held ≥0.6),
    so the registered query is the production serving shape and the
    raw ADC path remains only as the recall-certification probe
    (q_llm_knn_pq_recall, tests/test_approx.py).  Rows-only:
    quantized candidate selection is engine-internal; sims of the
    final top-20 are exact cosine."""
    from clickhub_spark.operators.knn import pq_topk

    return pq_topk(
        load(spark, sf_dir, "embeddings"),
        query_id=0,
        k=20,
        m=16,
        n_codes=32,
        rerank=200,
    )


@query(
    "q_llm_chunk",
    oracle="""
    WITH words AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), starts AS (
        SELECT doc_id, ws, s
        FROM words, UNNEST(range(0, len(ws), 30)) t(s)
        WHERE s = 0 OR s + 10 < len(ws)
    )
    SELECT doc_id, CAST(s AS INT) AS chunk_start,
           CAST(len(ws[s + 1 : s + 40]) AS INT) AS n_chunk_tokens,
           md5(array_to_string(ws[s + 1 : s + 40], ' ')) AS chunk_md5
    FROM starts
    """,
)
def q_llm_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (40-token chunks, 10-token
    overlap) — the pre-embedding prep step; map-only builtins, chunk
    content value-checked via md5."""
    from clickhub_spark.operators.textops import chunk_documents

    out = chunk_documents(
        load(spark, sf_dir, "documents"), "text", "doc_id", chunk_tokens=40, overlap=10
    )
    return out.select(
        "doc_id",
        F.col("chunk_start").cast("int").alias("chunk_start"),
        "n_chunk_tokens",
        F.md5("chunk").alias("chunk_md5"),
    )


@query(
    "q_llm_dedup_apply_near",
    oracle=_MINHASH_PAIRS_CTE
    + """
    , bidir AS (
        SELECT id_a AS a, id_b AS b FROM pairs
        UNION SELECT id_b, id_a FROM pairs
    ), reach AS (
        WITH RECURSIVE r(src, dst) AS (
            SELECT a, b FROM bidir
            UNION
            SELECT r.src, e.b FROM r JOIN bidir e ON r.dst = e.a
        ) SELECT * FROM r
    ), comp AS (
        SELECT src AS node, least(src, min(dst)) AS comp
        FROM reach GROUP BY src
    )
    SELECT d.doc_id, d.lang, d.n_chars FROM documents d
    WHERE d.doc_id NOT IN (SELECT node FROM comp WHERE node <> comp)
    """,
)
def q_llm_dedup_apply_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The near-dedup END PRODUCT: the corpus with non-canonical
    members of every near-dup cluster dropped (exact-dup apply is
    q_llm_dedup_apply; this is the fuzzy counterpart a training
    pipeline actually ships).  LSH pairs → connected components →
    anti-join of the non-canonical node set."""
    from clickhub_spark.operators.components import connected_components
    from clickhub_spark.operators.dedup import minhash_candidate_pairs_md5

    docs = load(spark, sf_dir, "documents")
    pairs = minhash_candidate_pairs_md5(docs, "text", "doc_id", k=3, num_perm=16, bands=4)
    drop = (
        connected_components(pairs)
        .where(F.col("node") != F.col("comp"))
        .select(F.col("node").alias("doc_id"))
    )
    return docs.join(drop, "doc_id", "left_anti").select("doc_id", "lang", "n_chars")


@query(
    "q_llm_pack",
    oracle="""
    WITH sized AS (
        SELECT doc_id, len(string_split(text, ' ')) AS n_tokens
        FROM documents
    ), runs AS (
        SELECT doc_id, n_tokens,
               SUM(n_tokens) OVER (ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM sized
    )
    SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
           CAST(FLOOR((cum - n_tokens) / 2048) AS BIGINT) AS bin_id
    FROM runs
    """,
)
def q_llm_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for training (context-window fill): documents
    in deterministic order are assigned to 2048-token bins by running
    token count — the standard streaming pack that turns a ragged
    corpus into fixed-budget training sequences.

    Scale note: a single global running sum is an anti-pattern at
    100 TB (one ordered partition); the production form packs within
    shards (partitionBy(shard) windows) since bins never need to span
    shards — the global form here is the cross-engine-checkable
    semantics on one window."""
    from pyspark.sql.window import Window

    sized = load(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tokens")
    )
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, 0)
    return sized.select(
        "doc_id",
        "n_tokens",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / 2048).alias("bin_id"),
    )


@query(
    "q_llm_corpus_pipeline",
    oracle=_MINHASH_PAIRS_CTE
    + """
    , bidir AS (
        SELECT id_a AS a, id_b AS b FROM pairs
        UNION SELECT id_b, id_a FROM pairs
    ), reach AS (
        WITH RECURSIVE r(src, dst) AS (
            SELECT a, b FROM bidir
            UNION
            SELECT r.src, e.b FROM r JOIN bidir e ON r.dst = e.a
        ) SELECT * FROM r
    ), comp AS (
        SELECT src AS node, least(src, min(dst)) AS comp
        FROM reach GROUP BY src
    ), toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
    ), quality AS (
        SELECT doc_id FROM toks GROUP BY doc_id
        HAVING COUNT(*) >= 20
           AND CAST(COUNT(DISTINCT w) AS DOUBLE) / COUNT(*) >= 0.3
    ), bench_sh AS (
        SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0
    ), contaminated AS (
        SELECT c.doc_id FROM sh c JOIN bench_sh b USING (shingle)
        WHERE c.doc_id % 50 <> 0
        GROUP BY c.doc_id HAVING COUNT(*) >= 2
    )
    SELECT d.doc_id, CAST(len(string_split(d.text, ' ')) AS INT) AS n_tokens
    FROM documents d
    WHERE d.doc_id % 50 <> 0                                   -- not eval data
      AND d.doc_id IN (SELECT doc_id FROM quality)             -- quality gate
      AND d.doc_id NOT IN (SELECT doc_id FROM contaminated)    -- decontaminated
      AND d.doc_id NOT IN (SELECT node FROM comp WHERE node <> comp)  -- near-dedup
    """,
)
def q_llm_corpus_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END pretraining corpus filter — what actually ships
    to the tokenizer: drop the eval slice, gate on quality
    (length + lexical diversity), remove benchmark-contaminated docs
    (broadcast shingle join), and keep only near-dup canonicals (LSH →
    connected components).  One composed plan: every stage is an
    already-verified operator; this query verifies their COMPOSITION
    end-to-end against a single oracle."""
    from clickhub_spark.operators.components import connected_components
    from clickhub_spark.operators.dedup import minhash_candidate_pairs_md5
    from clickhub_spark.operators.textops import contamination

    docs = load(spark, sf_dir, "documents")
    corpus = docs.where(F.col("doc_id") % 50 != 0)
    bench = docs.where(F.col("doc_id") % 50 == 0)

    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("w"))
    quality = (
        toks.groupBy("doc_id")
        .agg(F.count("*").alias("n"), F.count_distinct("w").alias("d"))
        .where((F.col("n") >= 20) & (F.col("d").cast("double") / F.col("n") >= 0.3))
        .select("doc_id")
    )
    contaminated = contamination(corpus, bench, "text", "doc_id", k=3, min_shared=2) \
        .select("doc_id")
    pairs = minhash_candidate_pairs_md5(docs, "text", "doc_id", k=3, num_perm=16, bands=4)
    non_canonical = (
        connected_components(pairs)
        .where(F.col("node") != F.col("comp"))
        .select(F.col("node").alias("doc_id"))
    )
    return (
        corpus.join(quality, "doc_id", "left_semi")
        .join(contaminated, "doc_id", "left_anti")
        .join(non_canonical, "doc_id", "left_anti")
        .select("doc_id", F.size(F.split("text", " ")).alias("n_tokens"))
    )


@query(
    "q_llm_dedup_substring",
    oracle="""
    WITH words AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), pg AS (
        SELECT doc_id, i - 1 AS pos, array_to_string(ws[i:i+7], ' ') AS g
        FROM words, UNNEST(range(1, len(ws) - 6)) t(i)
        WHERE len(ws) >= 8
    ), viral AS (
        SELECT g FROM (
            SELECT g, COUNT(DISTINCT doc_id) AS df FROM pg GROUP BY g
        ) WHERE df > 1000
    ), capped AS (
        SELECT doc_id, pos, g FROM pg WHERE g NOT IN (SELECT g FROM viral)
    ), m AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.pos AS pa, b.pos AS pb
        FROM capped a JOIN capped b ON a.g = b.g AND a.doc_id < b.doc_id
    ), runs AS (
        SELECT id_a, id_b, pa - pb AS diag, COUNT(*) AS n,
               MIN(pa) AS a_start, MAX(pa) AS a_end
        FROM m GROUP BY id_a, id_b, pa - pb
    )
    SELECT id_a, id_b, CAST(a_start AS INT) AS a_start,
           CAST(a_start - diag AS INT) AS b_start,
           CAST(n + 7 AS BIGINT) AS span_len
    FROM runs
    WHERE n = a_end - a_start + 1 AND n + 7 >= 12
    """,
)
def q_llm_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cross-document substring duplication ≥12 tokens — the
    suffix-array dedup family (verbatim overlaps that bag-of-shingles
    similarity underweights), distributed as 8-gram diagonal runs
    (operators/dedup.substring_dup_spans).  The output carries only
    positions and span lengths, so it is value-checkable even though
    the Spark side joins on word-hash grams and the oracle on gram
    strings."""
    from clickhub_spark.operators.dedup import substring_dup_spans

    out = substring_dup_spans(
        load(spark, sf_dir, "documents"), "text", "doc_id", k=8, min_len=12
    )
    return out.select(
        "id_a",
        "id_b",
        F.col("a_start").cast("int").alias("a_start"),
        F.col("b_start").cast("int").alias("b_start"),
        "span_len",
    )


# Shared by q_llm_perplexity (inline training) and
# q_llm_perplexity_store (persisted-store scoring): the two MUST be
# value-identical, which is exactly what one oracle checking both
# proves.
_PERPLEXITY_ORACLE = """
    WITH toked AS (
        SELECT doc_id,
               list_filter(string_split(text, ' '), x -> x <> '') AS toks
        FROM documents
    ), bg AS (
        SELECT doc_id, u.pair[1] AS prev, u.pair[2] AS w
        FROM toked,
             UNNEST(list_zip(toks[1:len(toks)-1], toks[2:len(toks)])) u(pair)
        WHERE len(toks) >= 2
    ), cbw AS (
        SELECT prev, w, COUNT(*) AS cbw FROM bg GROUP BY 1, 2
    ), cw AS (
        SELECT prev, COUNT(*) AS cw FROM bg GROUP BY 1
    ), v AS (
        SELECT COUNT(DISTINCT t.tok) AS v FROM toked, UNNEST(toks) t(tok)
    )
    SELECT b.doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(AVG(-log2((c.cbw + 0.5) / (u.cw + 0.5 * v.v))), 4) AS bits
    FROM bg b JOIN cbw c USING (prev, w) JOIN cw u USING (prev), v
    GROUP BY b.doc_id
    """


@query("q_llm_perplexity", oracle=_PERPLEXITY_ORACLE)
def q_llm_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style corpus LM quality scoring (operators/lm.py): train
    an add-k-smoothed bigram model on the corpus, score every document
    by average bits per bigram (monotone in perplexity) — the filter
    stage that drops distribution-tail documents from training data.
    Bigram extraction is map-only (slice+zip, no token window); the
    model join is Catalyst-broadcastable because model size is bounded
    by observed vocabulary, not corpus size."""
    from clickhub_spark.operators.lm import score_bits, train_bigram_lm

    docs = load(spark, sf_dir, "documents")
    model = train_bigram_lm(docs, "text", "doc_id")
    scored = score_bits(docs, model, "text", "doc_id")
    return scored.select(
        "doc_id", "n_bigrams", F.round("bits", 4).alias("bits")
    )


@query("q_llm_perplexity_store", oracle=_PERPLEXITY_ORACLE)
def q_llm_perplexity_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-once/score-many perplexity (VERDICT r3 item 6): the model
    is persisted via write_lm_store (build-once artifact keyed on the
    corpus files + plan, like the minhash/IVF stores) and scoring runs
    score_against_store — only the three small model tables plus the
    scored batch are read.  Shares q_llm_perplexity's oracle, proving
    persisted-store scoring ≡ inline training bit-for-bit."""
    from clickhub_spark.artifacts import build_artifact
    from clickhub_spark.operators.lm import (
        score_against_store,
        train_bigram_lm,
        write_lm_store,
    )

    docs = load(spark, sf_dir, "documents")
    path = build_artifact(
        docs,
        "lm_store",
        lambda p: write_lm_store(train_bigram_lm(docs, "text", "doc_id"), p),
    )
    scored = score_against_store(docs, path, "text", "doc_id")
    return scored.select(
        "doc_id", "n_bigrams", F.round("bits", 4).alias("bits")
    )


@query(
    "q_llm_vocab_coverage",
    oracle="""
    WITH toks AS (
        SELECT doc_id,
               unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS t
        FROM documents
    ), counts AS (
        SELECT t, COUNT(*) AS c FROM toks GROUP BY t
    ), vocab AS (
        SELECT t FROM counts ORDER BY c DESC, t ASC LIMIT 20
    )
    SELECT k.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           ROUND(SUM(CASE WHEN v.t IS NULL THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 4) AS oov_rate
    FROM toks k LEFT JOIN vocab v USING (t)
    GROUP BY k.doc_id
    """,
)
def q_llm_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-prep vocabulary coverage (operators/lm.py): build the
    top-20 corpus vocabulary (count DESC, token ASC — a TakeOrdered,
    never a global sort) and score every document's out-of-vocabulary
    rate against it via a broadcast probe.  This is the sizing loop a
    tokenizer-bound pipeline runs before fixing a vocab: at 100 TB the
    vocab stays top-k bounded and broadcastable, the probe is
    map-only, and the only shuffles are the token-count agg and the
    per-document rollup."""
    from clickhub_spark.operators.lm import build_vocab, oov_stats

    docs = load(spark, sf_dir, "documents")
    vocab = build_vocab(docs, "text", max_size=20)
    stats = oov_stats(docs, vocab, "text", "doc_id")
    return stats.select(
        "doc_id",
        "n_tokens",
        "n_oov",
        F.round(F.col("n_oov") / F.col("n_tokens"), 4).alias("oov_rate"),
    )


@query(
    "q_llm_shuffle",
    oracle="""
    SELECT substr(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 2) AS shard,
           md5(CAST(doc_id AS VARCHAR) || ':42') AS pos_key,
           doc_id
    FROM documents
    """,
)
def q_llm_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global corpus shuffle (operators/textops.py):
    seeded md5 permutation key + hex-prefix shard, the training-order
    decorrelation step before sequence packing.  Map-only here; the
    write path range-partitions on (shard, pos_key) so each shard
    lands as one sorted file — a uniform random read order at 100 TB
    without a single-node global sort.  Seeded + engine-portable, so
    the oracle reproduces the exact permutation."""
    from clickhub_spark.operators.textops import deterministic_shuffle

    docs = load(spark, sf_dir, "documents").select("doc_id")
    return deterministic_shuffle(docs, "doc_id", seed="42", shard_bits=8)


@query(
    "q_llm_knn_lsh_md5",
    oracle="""
    WITH e AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), sig AS (
        SELECT vec_id, v,
               CASE WHEN list_sum(list_transform(range(1, 65),
                    i -> v[i] * CASE WHEN substr(md5('0:' || (i - 1)), 1, 1) <= '7'
                                THEN 1.0 ELSE -1.0 END)) >= 0
               THEN '1' ELSE '0' END
            || CASE WHEN list_sum(list_transform(range(1, 65),
                    i -> v[i] * CASE WHEN substr(md5('1:' || (i - 1)), 1, 1) <= '7'
                                THEN 1.0 ELSE -1.0 END)) >= 0
               THEN '1' ELSE '0' END
            || CASE WHEN list_sum(list_transform(range(1, 65),
                    i -> v[i] * CASE WHEN substr(md5('2:' || (i - 1)), 1, 1) <= '7'
                                THEN 1.0 ELSE -1.0 END)) >= 0
               THEN '1' ELSE '0' END
            || CASE WHEN list_sum(list_transform(range(1, 65),
                    i -> v[i] * CASE WHEN substr(md5('3:' || (i - 1)), 1, 1) <= '7'
                                THEN 1.0 ELSE -1.0 END)) >= 0
               THEN '1' ELSE '0' END AS bucket
        FROM e
    )
    SELECT s.vec_id, ROUND(list_cosine_similarity(s.v, q.v), 4) AS sim, s.bucket
    FROM sig s, (SELECT v, bucket FROM sig WHERE vec_id = 0) q
    WHERE s.vec_id <> 0 AND s.bucket = q.bucket
    ORDER BY sim DESC, s.vec_id ASC LIMIT 10
    """,
)
def q_llm_knn_lsh_md5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle-checkable LSH ANN (SURVEY §2.J6 scale path): the md5-basis
    hyperplane twin of q_llm_knn_lsh — same bucket-pruned plan
    (map-only signatures, broadcast query row, candidates by bucket
    equality, TakeOrdered top-k), but the plane weights derive from an
    engine-portable md5 parity so DuckDB reproduces bucket AND
    similarity value-for-value.  Both engines fold the dot product
    sequentially over the array in index order, so the IEEE result is
    identical — the sign bit cannot disagree."""
    from clickhub_spark.operators.knn import lsh_bucket_topk_md5

    return lsh_bucket_topk_md5(
        load(spark, sf_dir, "embeddings"), query_id=0, k=10, n_bits=4
    )


@query(
    "q_llm_pack_sharded",
    oracle="""
    WITH sized AS (
        SELECT doc_id,
               substr(md5(CAST(doc_id AS VARCHAR) || ':42'), 1, 2) AS shard,
               md5(CAST(doc_id AS VARCHAR) || ':42') AS pos_key,
               len(string_split(text, ' ')) AS n_tokens
        FROM documents
    ), runs AS (
        SELECT doc_id, shard, n_tokens,
               SUM(n_tokens) OVER (PARTITION BY shard ORDER BY pos_key
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM sized
    )
    SELECT doc_id, shard, CAST(n_tokens AS INT) AS n_tokens,
           CAST(FLOOR((cum - n_tokens) / 2048) AS BIGINT) AS bin_id
    FROM runs
    """,
)
def q_llm_pack_sharded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION form of sequence packing: q_llm_pack's global
    running sum is an anti-pattern at 100 TB (one ordered partition),
    so here the corpus is first decorrelated by the deterministic
    seeded shuffle (operators/textops.deterministic_shuffle) and then
    packed WITHIN each hash shard — the running-sum window partitions
    by shard, so 256 independent windows run in parallel and no
    single-node global order ever materializes.  Bins never need to
    span shards; training readers consume shards independently.  Fully
    oracle-checkable because the shuffle is a seeded md5 permutation."""
    from clickhub_spark.operators.textops import deterministic_shuffle
    from pyspark.sql.window import Window

    sized = load(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).alias("n_tokens")
    )
    sharded = deterministic_shuffle(sized, "doc_id", seed="42", shard_bits=8)
    w = (
        Window.partitionBy("shard")
        .orderBy("pos_key")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return sharded.select(
        "doc_id",
        "shard",
        "n_tokens",
        F.floor((F.sum("n_tokens").over(w) - F.col("n_tokens")) / 2048).alias("bin_id"),
    )


@query(
    "q_llm_split",
    oracle="""
    SELECT doc_id,
           CASE WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':7'), 1, 4) < 'e666'
                THEN 'train'
                WHEN substr(md5(CAST(doc_id AS VARCHAR) || ':7'), 1, 4) < 'f333'
                THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
)
def q_llm_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test split (operators/textops.
    split_corpus): seeded md5-prefix assignment, map-only, stable under
    corpus growth — adding documents never moves an existing one across
    the split boundary, which is what keeps dataset-version N's test
    set uncontaminated by version N+1's training set.  The oracle
    reproduces the exact assignment."""
    from clickhub_spark.operators.textops import split_corpus

    docs = load(spark, sf_dir, "documents").select("doc_id")
    return split_corpus(
        docs, {"train": 0.9, "val": 0.05, "test": 0.05}, "doc_id", seed="7"
    )


@query(
    "q_llm_minhash_sim",
    oracle="""
    WITH words AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), sh AS (
        SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS shingle
        FROM words, UNNEST(range(1, len(ws) - 1)) t(i)
        WHERE len(ws) >= 3
    ), mins AS (
        SELECT doc_id, p, min(md5(shingle || ':' || p)) AS mh
        FROM sh, UNNEST(range(0, 16)) t(p)
        GROUP BY doc_id, p
    ), bands AS (
        SELECT doc_id, p // 4 AS band,
               md5(string_agg(mh, '|' ORDER BY p)) AS bh
        FROM mins GROUP BY doc_id, p // 4
    ), pairs AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a JOIN bands b
          ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
    ), est AS (
        SELECT p.id_a, p.id_b,
               ROUND(AVG(CASE WHEN ma.mh = mb.mh THEN 1.0 ELSE 0.0 END), 4)
                   AS est_sim
        FROM pairs p
        JOIN mins ma ON ma.doc_id = p.id_a
        JOIN mins mb ON mb.doc_id = p.id_b AND mb.p = ma.p
        GROUP BY p.id_a, p.id_b
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id
    ), inter AS (
        SELECT p.id_a, p.id_b, COUNT(*) AS ni
        FROM pairs p
        JOIN sh a ON a.doc_id = p.id_a
        JOIN sh b ON b.doc_id = p.id_b AND b.shingle = a.shingle
        GROUP BY p.id_a, p.id_b
    )
    SELECT e.id_a, e.id_b, e.est_sim,
           ROUND(CAST(COALESCE(i.ni, 0) AS DOUBLE)
                 / (sa.n + sb.n - COALESCE(i.ni, 0)), 4) AS jaccard
    FROM est e
    LEFT JOIN inter i ON i.id_a = e.id_a AND i.id_b = e.id_b
    JOIN sizes sa ON sa.doc_id = e.id_a
    JOIN sizes sb ON sb.doc_id = e.id_b
    """,
)
def q_llm_minhash_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash similarity ESTIMATION on LSH candidate pairs
    (SURVEY §2.J5 extension): the step between candidate generation
    and the dedup keep/drop decision — signature-match fraction as the
    Jaccard estimate, exact shingle Jaccard alongside for threshold
    tuning.  The estimate is a map-side zip_with over joined
    signature arrays (no shuffle beyond the pair join); exact Jaccard
    runs only on the LSH-pruned candidates, never all pairs."""
    from clickhub_spark.operators.dedup import minhash_similarity_md5

    return minhash_similarity_md5(
        load(spark, sf_dir, "documents"), "text", "doc_id", k=3, num_perm=16, bands=4
    )


@query(
    "q_llm_ngram_lm",
    oracle="""
    WITH docs AS (
        SELECT doc_id, text FROM documents WHERE length(text) >= 3
    ), tri AS (
        SELECT doc_id, substr(text, i, 3) AS t
        FROM docs, UNNEST(range(1, length(text) - 1)) u(i)
    ), corpus AS (
        SELECT t, COUNT(*) AS c FROM tri GROUP BY t
    ), tot AS (
        SELECT SUM(c) AS total FROM corpus
    )
    SELECT d.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_trigrams,
           ROUND(-AVG(LN(c / total)) / LN(2), 4) AS bits_per_trigram
    FROM tri d JOIN corpus USING (t) CROSS JOIN tot
    GROUP BY d.doc_id
    """,
)
def q_llm_ngram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-trigram LM scoring (SURVEY north-star quality
    scoring; the char-level sibling of the word-bigram perplexity in
    operators/lm.py): corpus trigram frequencies → per-doc mean
    negative log2 probability.  Trigram explode is builtin
    (sequence → transform → explode, codegen, no UDF); corpus counts
    are one hash agg; the scoring join broadcasts nothing bigger than
    the trigram table (bounded: ≤ alphabet³ distinct keys — at 100 TB
    the model table stays small even when the corpus doesn't)."""
    docs = (
        load(spark, sf_dir, "documents")
        .where(F.length("text") >= 3)
        .select("doc_id", "text")
    )
    tri = docs.select(
        "doc_id",
        F.explode(
            F.expr("transform(sequence(1, length(text) - 2), i -> substr(text, i, 3))")
        ).alias("t"),
    )
    corpus = tri.groupBy("t").agg(F.count("*").alias("c"))
    total = corpus.agg(F.sum("c").alias("total"))
    scored = (
        tri.join(F.broadcast(corpus), "t")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("long").alias("n_trigrams"),
            F.round(
                -F.avg(F.log(F.col("c") / F.col("total"))) / F.lit(0.6931471805599453),
                4,
            ).alias("bits_per_trigram"),
        )
    )
    return scored


@query(
    "q_llm_docstore_join",
    oracle="""
    SELECT d.doc_id, d.lang, d.n_chars,
           ROUND(SQRT(list_aggregate(
               list_transform(CAST(e.embedding AS DOUBLE[]), x -> x * x),
               'sum')), 4) AS emb_norm,
           CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens
    FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    WHERE d.n_chars >= 100
    """,
)
def q_llm_docstore_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-record assembly (north star): join the document store
    with its embedding table 1:1 on id, attach the features downstream
    sampling needs (embedding L2 norm, token count), filter short
    docs.  Both sides shuffle on the id — at 100 TB write both tables
    bucketed on doc_id (sources/writer.write_bucketed) and this join
    goes Exchange-free, as plan-pinned by q_join_bucketed."""
    from clickhub_spark.functions.vectors import as_double, norm

    d = load(spark, sf_dir, "documents").where(F.col("n_chars") >= 100)
    e = load(spark, sf_dir, "embeddings")
    return (
        d.join(e, d["doc_id"] == e["vec_id"])
        .select(
            "doc_id",
            "lang",
            "n_chars",
            F.expr(f"round({norm(as_double('embedding'))}, 4)").alias("emb_norm"),
            F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
        )
    )


@query(
    "q_llm_quality_v2",
    oracle="""
    WITH stats AS (
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_words,
               length(replace(text, ' ', '')) AS n_nonspace,
               length(text) AS n_chars_t,
               (length(text) - length(replace(text, 'the', ''))) / 3 AS n_the,
               (length(text) - length(replace(text, 'data', ''))) / 4 AS n_data
        FROM documents
    )
    SELECT doc_id,
           CAST(n_words AS BIGINT) AS n_words,
           ROUND(CAST(n_nonspace AS DOUBLE) / n_words, 4) AS mean_word_len,
           CAST(n_the + n_data > 0 AS BOOLEAN) AS has_common_word,
           CAST(n_words >= 10 AND n_words <= 1000
                AND CAST(n_nonspace AS DOUBLE) / n_words BETWEEN 3 AND 10
                AND n_the + n_data > 0 AS BOOLEAN) AS keep
    FROM stats
    """,
)
def q_llm_quality_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style quality rules (north star, beyond q_llm_quality's
    lexical-diversity gate): word-count bounds, mean word length
    window, common-word presence — the standard pretraining heuristics
    (Rae et al. 2021 §A1.1), composed from builtin string fns only;
    map-only, no shuffle, no UDF."""
    d = load(spark, sf_dir, "documents")
    n_words = F.size(F.split("text", " "))
    n_nonspace = F.length(F.replace(F.col("text"), F.lit(" ")))
    n_the = (F.length("text") - F.length(F.replace(F.col("text"), F.lit("the")))) / 3
    n_data = (F.length("text") - F.length(F.replace(F.col("text"), F.lit("data")))) / 4
    mean_wl = n_nonspace.cast("double") / n_words
    keep = (
        (n_words >= 10)
        & (n_words <= 1000)
        & mean_wl.between(3, 10)
        & ((n_the + n_data) > 0)
    )
    return d.select(
        "doc_id",
        n_words.cast("long").alias("n_words"),
        F.round(mean_wl, 4).alias("mean_word_len"),
        ((n_the + n_data) > 0).alias("has_common_word"),
        keep.alias("keep"),
    )


@query(
    "q_llm_tfidf",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ), tf AS (
        SELECT doc_id, tok, COUNT(*) AS tf FROM toks GROUP BY doc_id, tok
    ), df AS (
        SELECT tok, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY tok
    ), n AS (
        SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents
    ), scored AS (
        SELECT t.doc_id, t.tok,
               ROUND(t.tf * LN(CAST(n.n_docs AS DOUBLE) / d.df), 4) AS tfidf,
               row_number() OVER (
                   PARTITION BY t.doc_id
                   ORDER BY t.tf * LN(CAST(n.n_docs AS DOUBLE) / d.df) DESC,
                            t.tok
               ) AS rn
        FROM tf t JOIN df d USING (tok) CROSS JOIN n
    )
    SELECT doc_id, tok, tfidf, CAST(rn AS INT) AS rn
    FROM scored WHERE rn <= 5
    """,
)
def q_llm_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TF-IDF top-terms per document (north star — the classic
    relevance/keyword-extraction op): term frequency per doc, document
    frequency over the corpus, top-5 terms per doc by tf·idf with a
    deterministic token tiebreak.  The document-frequency table is
    vocabulary-sized and broadcasts; the rank is a per-doc window
    (partitioned, never global).  At 100 TB: two hash aggs + one
    broadcast join + a partitioned window — no global sort anywhere."""
    from pyspark.sql.window import Window as W

    toks = load(spark, sf_dir, "documents").select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    df = toks.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    n_docs = (
        load(spark, sf_dir, "documents").agg(
            F.countDistinct("doc_id").alias("n_docs")
        )
    )
    tfidf = F.round(
        F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df")), 4
    )
    w = W.partitionBy("doc_id").orderBy(
        (F.col("tf") * F.log(F.col("n_docs").cast("double") / F.col("df"))).desc(),
        F.col("tok"),
    )
    return (
        tf.join(F.broadcast(df), "tok")
        .crossJoin(F.broadcast(n_docs))
        .select(
            "doc_id",
            "tok",
            tfidf.alias("tfidf"),
            F.row_number().over(w).alias("rn"),
        )
        .where(F.col("rn") <= 5)
    )


@query(
    "q_llm_kmeans_assign",
    oracle="""
    WITH cent AS (
        SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cvec
        FROM embeddings WHERE vec_id < 8
    ), scored AS (
        SELECT e.vec_id, c.cid,
               list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cvec) AS sim
        FROM embeddings e CROSS JOIN cent c
    ), ranked AS (
        SELECT vec_id, cid, sim,
               row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn
        FROM scored
    )
    SELECT vec_id, CAST(cid AS BIGINT) AS cluster, ROUND(sim, 4) AS sim
    FROM ranked WHERE rn = 1
    """,
)
def q_llm_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means assignment step over embeddings (SURVEY §2.J6 adjunct —
    the E-step every clustering/IVF-build pipeline runs): nearest of
    k=8 fixed centroids by cosine.  Centroids are a bounded PARAMETER
    table inlined into the plan as literals (functions/vectors.
    nearest_centroid — the IVF-centroid contract), so the whole step
    is MAP-ONLY: no join, no shuffle, one codegen'd k-way array
    expression per row.  Deterministic centroid choice (vec_id < 8)
    makes the step oracle-checkable; the full Lloyd loop is this step
    iterated with re-averaged centroids."""
    from clickhub_spark.functions.vectors import as_double, nearest_centroid, norm

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr(as_double("embedding")).alias("v")
    )
    cent_rows = sorted(
        emb.where(F.col("vec_id") < 8).collect(), key=lambda r: r["vec_id"]
    )
    # normalize once per row (materialized — never inline the norm
    # into the transform lambda, that re-folds per element) so each
    # centroid score is a single dot-product fold
    nrm = emb.withColumn("n", F.nullif(F.expr(norm("v")), F.lit(0.0))).withColumn(
        "nv", F.transform(F.col("v"), lambda x: x / F.col("n"))
    )
    best = nrm.withColumn(
        "b",
        F.expr(
            nearest_centroid(
                "nv",
                [(r["vec_id"], r["v"]) for r in cent_rows],
                pre_normalized=True,
            )
        ),
    )
    return best.select(
        "vec_id",
        F.col("b.cluster").alias("cluster"),
        F.round(F.col("b.sim"), 4).alias("sim"),
    )


@query(
    "q_llm_embed_quant",
    oracle="""
    WITH v AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
    ), s AS (
        SELECT vec_id, vec,
               list_max(list_transform(vec, x -> abs(x))) AS absmax
        FROM v
    )
    SELECT vec_id,
           ROUND(absmax, 6) AS scale_maxabs,
           CAST(CASE WHEN absmax = 0 THEN 0 ELSE
               list_sum(list_transform(vec, x -> round(x * 127.0 / absmax)))
           END AS BIGINT) AS q_checksum,
           ROUND(CASE WHEN absmax = 0 THEN 0.0 ELSE
               list_max(list_transform(
                   vec, x -> abs(x - round(x * 127.0 / absmax) * absmax / 127.0)))
           END, 6) AS max_err
    FROM s
    """,
)
def q_llm_embed_quant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 embedding quantization round trip (SURVEY §2.J6 storage
    tier; functions/vectors.quantize_int8): symmetric max-abs scale,
    per-vector quantized checksum, and the max reconstruction error
    after dequantize — the 4×-compression path a 100 TB embedding
    store serves ANN from.  Scale is materialized once per row (not
    inlined into the lambda — that would be O(dim²)); everything is
    codegen'd higher-order expressions, no Python."""
    from clickhub_spark.functions.vectors import (
        as_double,
        dequantize_int8,
        maxabs,
        quantize_int8,
    )

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr(as_double("embedding")).alias("vec")
    )
    scaled = emb.withColumn("absmax", F.expr(maxabs("vec")))
    q = scaled.withColumn("q", F.expr(quantize_int8("vec", "absmax")))
    deq = q.withColumn("deq", F.expr(dequantize_int8("q", "absmax")))
    return deq.select(
        "vec_id",
        F.round("absmax", 6).alias("scale_maxabs"),
        F.aggregate(
            F.col("q"), F.lit(0).cast("bigint"), lambda acc, x: acc + x.cast("bigint")
        ).alias("q_checksum"),
        F.round(
            F.aggregate(
                F.zip_with(F.col("vec"), F.col("deq"), lambda x, d: F.abs(x - d)),
                F.lit(0.0),
                lambda acc, x: F.greatest(acc, x),
            ),
            6,
        ).alias("max_err"),
    )


@query(
    "q_llm_dataset_card",
    oracle="""
    WITH per AS (
        SELECT source, lang,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars,
               ROUND(AVG(len(string_split(text, ' '))), 4) AS avg_words
        FROM documents GROUP BY source, lang
    ), tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents)
    SELECT per.source, per.lang, per.n_docs, per.total_chars, per.avg_words,
           ROUND(100.0 * per.n_docs / tot.n, 4) AS pct_docs
    FROM per CROSS JOIN tot
    """,
)
def q_llm_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card statistics (the per-source/lang composition table
    every training-data release ships — SURVEY §2.J7 extension): doc
    counts, char totals, mean word length, and corpus share.  The
    corpus total is a 1-row broadcast joined onto the grouped result
    (TPC-H Q11's threshold pattern) — no second pass over the corpus,
    no single-partition window; two partial-aggregated shuffles
    total."""
    docs = load(spark, sf_dir, "documents")
    per = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.round(F.avg(F.size(F.split("text", " "))), 4).alias("avg_words"),
    )
    tot = docs.agg(F.count(F.lit(1)).alias("n"))
    return per.crossJoin(F.broadcast(tot)).select(
        "source",
        "lang",
        "n_docs",
        "total_chars",
        "avg_words",
        F.round(100.0 * F.col("n_docs") / F.col("n"), 4).alias("pct_docs"),
    )


@query(
    "q_llm_semdedup",
    oracle="""
    WITH k AS (
        SELECT GREATEST(8, CAST(CEIL(SQRT(COUNT(*))) AS BIGINT)) AS k
        FROM embeddings
    ), cent AS (
        SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cvec
        FROM embeddings WHERE vec_id < (SELECT k FROM k)
    ), asg AS (
        SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v,
               arg_max(c.cid, list_cosine_similarity(
                   CAST(e.embedding AS DOUBLE[]), c.cvec)) AS cluster
        FROM embeddings e CROSS JOIN cent c GROUP BY e.vec_id, v
    ), pairs AS (
        SELECT b.vec_id, a.cluster, a.vec_id AS keeper_cand,
               list_cosine_similarity(a.v, b.v) AS sim
        FROM asg a JOIN asg b
          ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        WHERE list_cosine_similarity(a.v, b.v) > 0.35
    )
    SELECT vec_id, CAST(cluster AS BIGINT) AS cluster,
           MIN(keeper_cand) AS keeper,
           ROUND(MAX(sim), 4) AS max_sim
    FROM pairs GROUP BY vec_id, cluster
    """,
)
def q_llm_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup semantic near-dup removal (operators/dedup.
    semantic_dedup; Abbas et al. 2023): embeddings clustered around
    k = max(8, ceil(sqrt(n))) deterministic centroids, intra-cluster
    pairs above cosine 0.35 dedup'd keeping the lowest id.  The
    oracle restates k from COUNT(*) (sqrt of an integer is a
    correctly-rounded IEEE op — bit-identical across engines), then
    cluster assignment + bounded pairwise scan declaratively; the
    Spark plan is inlined-centroid assignment (map-only, no Exchange)
    then a CLUSTER-partitioned self-join.  The sqrt law is the
    paper's scale contract made live: cells average ~sqrt(n) rows so
    pairwise work totals ~n (linear), and join parallelism = k grows
    with the corpus (round 5 pinned k=8: max 8 tasks, 20.4 s at
    sf0.1; auto-k=45 runs the same corpus in ~0.7 s)."""
    from clickhub_spark.operators.dedup import semantic_dedup

    return semantic_dedup(load(spark, sf_dir, "embeddings"))


@query(
    "q_llm_importance_sample",
    oracle="""
    WITH scored AS (
        SELECT doc_id, source,
               LEAST(1.0, len(string_split(text, ' ')) / 120.0) AS p_keep,
               CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INT
                    AS DOUBLE) / 65536.0 AS u
        FROM documents
    )
    SELECT doc_id, source, ROUND(p_keep, 4) AS p_keep
    FROM scored WHERE u < p_keep
    """,
)
def q_llm_importance_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-proportional deterministic sampling (the DSIR /
    importance-resampling shape every data-mixing pipeline runs —
    SURVEY §2.J7 extension next to q_sample_hash): each doc is kept
    with probability proportional to a quality proxy (here capped
    word count — stand-in for a classifier score), decided by
    comparing the doc's md5-uniform against its own weight.  Hash
    sampling, not rand(): repeatable across runs/engines, joinable,
    and map-only at any scale — no shuffle, no global state."""
    docs = load(spark, sf_dir, "documents")
    p_keep = F.least(F.lit(1.0), F.size(F.split("text", " ")) / 120.0)
    u = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4), 16, 10).cast(
        "double"
    ) / 65536.0
    return (
        docs.select("doc_id", "source", p_keep.alias("p_keep"), u.alias("u"))
        .where(F.col("u") < F.col("p_keep"))
        .select("doc_id", "source", F.round("p_keep", 4).alias("p_keep"))
    )


@query(
    "q_llm_knn_ivf_exact",
    oracle="""
    SELECT e.vec_id,
           ROUND(list_cosine_similarity(
               CAST(e.embedding AS DOUBLE[]),
               (SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id = 0)
           ), 4) AS sim
    FROM embeddings e WHERE e.vec_id <> 0
    ORDER BY sim DESC, vec_id ASC LIMIT 10
    """,
)
def q_llm_knn_ivf_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN at nprobe = n_cells (SURVEY §2.J6): probing EVERY cell
    makes IVF exactly equivalent to brute force, so the whole IVF
    machinery — build-once cell-partitioned index, driver-side
    centroid probe, partition-pruned candidate scan, top-k — is
    value-checked end-to-end against the same SQL oracle as
    q_llm_knn.  The production path (q_llm_knn_ivf, nprobe≪cells,
    rows-only + recall units) differs ONLY in the probe list; this
    twin pins everything else."""
    from clickhub_spark.operators.knn import ivf_topk

    return ivf_topk(
        load(spark, sf_dir, "embeddings"), query_id=0, k=10, n_cells=16, nprobe=16
    ).select("vec_id", "sim")


@query(
    "q_llm_dedup_bloom",
    oracle="""
    SELECT CAST(b.doc_id AS BIGINT) AS doc_id
    FROM documents b
    WHERE b.doc_id < 300
      AND EXISTS (SELECT 1 FROM documents h
                  WHERE h.doc_id >= 100 AND h.text = b.text)
    ORDER BY doc_id
    """,
)
def q_llm_dedup_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-screened incremental dedup (SURVEY §2.J4 scale tier):
    an already-ingested history (doc_id ≥ 100) and an incoming batch
    (doc_id < 300) that OVERLAPS it — re-delivery, the incremental-
    ingest case — so [100, 300) are true members and [0, 100) are
    true non-members.  A 256 Kib bloom over xxhash64(history.text) is
    built from partition-partial bitmaps (one m/8-byte row per
    partition, OR-reduced in one task) and probed MAP-SIDE on the
    batch; only bloom survivors reach the exact verify semi-join, and
    since blooms have no false negatives the screened result equals
    the plain semi-join — which is exactly the oracle relation.  At
    100 TB: build once over the corpus, persist the bitmap, screen
    every incoming batch without re-shuffling history; FP rate
    (unit-bounded in test_bloom.py) is the only wasted join traffic."""
    docs = load(spark, sf_dir, "documents")
    history = docs.where(F.col("doc_id") >= 100)
    batch = docs.where(F.col("doc_id") < 300)
    m_bits, k = 1 << 18, 6
    bitmap = bloom.build_bloom(
        history.select(F.xxhash64("text").alias("h")), "h", m_bits, k
    )
    candidates = bloom.might_contain(
        batch.withColumn("h", F.xxhash64("text")), "h", bitmap, k
    )
    # no .distinct() on the build side: left_semi semantics are
    # identical either way, and deduplicating would add a full extra
    # Exchange+HashAggregate over history on every batch
    verified = candidates.join(history.select("text"), "text", "left_semi")
    return verified.select("doc_id").orderBy("doc_id")


@query(
    "q_llm_decontam_bloom",
    oracle="""
    WITH words AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), sh AS (
        SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS shingle
        FROM words, UNNEST(range(1, len(ws) - 1)) t(i)
        WHERE len(ws) >= 3
    ), bench AS (
        SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0
    ), corpus AS (
        SELECT * FROM sh WHERE doc_id % 50 <> 0
    )
    SELECT c.doc_id, CAST(COUNT(*) AS BIGINT) AS n_shared
    FROM corpus c JOIN bench b USING (shingle)
    GROUP BY c.doc_id HAVING COUNT(*) >= 2
    ORDER BY doc_id
    """,
)
def q_llm_decontam_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-screened benchmark decontamination — the scale tier of
    q_llm_contamination for when the pooled eval-suite shingle set is
    too large to BROADCAST as a join hash relation (tens of GB across
    suites): a fixed 512 Kib bloom over the benchmark shingles screens
    corpus shingles MAP-SIDE, and only survivors (true matches + the
    bounded FP slice) reach the exact join.  No false negatives ⇒
    identical output to the broadcast-join form, which is exactly the
    oracle (same SQL as q_llm_contamination + stable ORDER BY)."""
    from clickhub_spark.operators.textops import shingles

    docs = load(spark, sf_dir, "documents")
    corpus_sh = shingles(docs.where(F.col("doc_id") % 50 != 0), "text", "doc_id", 3)
    bench_sh_raw = shingles(
        docs.where(F.col("doc_id") % 50 == 0), "text", "doc_id", 3
    ).select("shingle")
    # the JOIN side must be globally distinct (n_shared counts pairs);
    # the bloom BUILD side must not pay that exchange — inserting a
    # shingle twice sets the same bits (r17, guide §2.4: the distinct
    # aggregate+exchange in the eager build job was pure overhead)
    bench_sh = bench_sh_raw.distinct()
    m_bits, k = 1 << 19, 6
    bitmap = bloom.build_bloom(
        bench_sh_raw.select(F.xxhash64("shingle").alias("h")), "h", m_bits, k
    )
    screened = bloom.might_contain(
        corpus_sh.withColumn("h", F.xxhash64("shingle")), "h", bitmap, k
    )
    return (
        screened.join(bench_sh, "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= 2)
        .orderBy("doc_id")
    )


@query("q_llm_pca")  # no SQL oracle: eigendecomposition is not
# expressible in DuckDB; correctness is pinned by tests/test_pca.py
# (distributed fit ≡ single-node numpy fit, orthonormal components,
# descending explained variance, reduced-space kNN recall).
def q_llm_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA projection of the embeddings table (SURVEY
    §2.J6 family — the dimensionality-reduction step before ANN/
    clustering at scale): 64-dim vectors to the top-8 principal axes.
    Fit is ONE map-side pass of partial (count, Σx, ΣxxT) moments
    combined in a single tiny reduce; the d×d eigh runs on the driver
    (bounded by embedding width, not corpus size); transform is a
    map-only Arrow matmul against the broadcast component matrix —
    the data is never shuffled and never read twice
    (operators/pca.py)."""
    from clickhub_spark.operators.pca import fit_pca, transform_pca

    emb = load(spark, sf_dir, "embeddings")
    mean, comps, _ = fit_pca(emb, "embedding", k=8)
    out = transform_pca(emb, "embedding", mean, comps, ndigits=4)
    # scalar wire form: the driver canonicalizes rows-only results
    # too, and its pandas sort cannot handle array cells (round-6
    # driver-red lesson) — export the projection as a CSV string,
    # components rendered through DECIMAL(18,4) for stable padding
    # and IEEE -0.0 normalization
    return out.select(
        "vec_id",
        "label",
        F.concat_ws(
            ",",
            F.transform(
                F.col("pca"),
                lambda x: x.cast("decimal(18,4)").cast("string"),
            ),
        ).alias("pca8"),
    ).orderBy("vec_id")


@query(
    "q_llm_url_canon",
    oracle="""
    WITH u AS (
        SELECT doc_id,
               'HTTPS://GitHub.COM:443/' || source || '/' || lang
                 || '/?utm_source=x&v=2&doc=' || doc_id
                 || '&utm_campaign=y#frag' AS url
        FROM documents
    ), parts AS (
        SELECT doc_id,
               lower(regexp_extract(url, '^([A-Za-z]+)://', 1)) AS scheme,
               lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1)) AS hostport,
               regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^?#]*)', 1) AS path,
               regexp_extract(url, '\\?([^#]*)', 1) AS query
        FROM u
    ), cleaned AS (
        SELECT doc_id, scheme,
               regexp_replace(hostport, ':(443|80)$', '') AS host,
               regexp_replace(path, '/+$', '') AS path,
               array_to_string(
                 list_sort(list_filter(string_split(query, '&'),
                                       q -> NOT regexp_matches(q, '^(utm_[^=]*|fbclid)='))),
                 '&') AS canon_query
        FROM parts
    )
    SELECT doc_id,
           scheme || '://' || host || path
             || CASE WHEN canon_query = '' THEN '' ELSE '?' || canon_query END
               AS canon_url
    FROM cleaned ORDER BY doc_id
    """,
)
def q_llm_url_canon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL canonicalization for web-corpus dedup (the step before any
    URL-keyed dedup/frequency pass in a crawl pipeline): lowercase
    scheme+host, strip default ports, strip trailing slashes, drop
    the fragment, remove tracking parameters (utm_*, fbclid), and
    SORT the surviving query params so param order can't split a
    page's identity.  All JVM builtins (regexp + higher-order array
    fns) — map-only, no UDF, no shuffle before the presentation
    sort."""
    u = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("HTTPS://GitHub.COM:443/"),
            F.col("source"),
            F.lit("/"),
            F.col("lang"),
            F.lit("/?utm_source=x&v=2&doc="),
            F.col("doc_id"),
            F.lit("&utm_campaign=y#frag"),
        ).alias("url"),
    )
    scheme = F.lower(F.regexp_extract("url", r"^([A-Za-z]+)://", 1))
    hostport = F.lower(F.regexp_extract("url", r"^[A-Za-z]+://([^/?#]+)", 1))
    path = F.regexp_extract("url", r"^[A-Za-z]+://[^/?#]+([^?#]*)", 1)
    querystr = F.regexp_extract("url", r"\?([^#]*)", 1)
    host = F.regexp_replace(hostport, r":(443|80)$", "")
    path = F.regexp_replace(path, r"/+$", "")
    canon_q = F.array_join(
        F.array_sort(
            F.filter(
                F.split(querystr, "&"),
                lambda q: ~q.rlike(r"^(utm_[^=]*|fbclid)="),
            )
        ),
        "&",
    )
    canon = F.concat(
        scheme,
        F.lit("://"),
        host,
        path,
        F.when(canon_q == "", F.lit("")).otherwise(F.concat(F.lit("?"), canon_q)),
    )
    return u.select("doc_id", canon.alias("canon_url")).orderBy("doc_id")


@query(
    "q_llm_text_normalize",
    oracle="""
    WITH t AS (
        SELECT doc_id,
               text || '  Cafe' || 'e' || chr(769) || chr(9)
                    || 'TAB' AS raw
        FROM documents
    ), n AS (
        SELECT doc_id,
               trim(regexp_replace(
                   regexp_replace(lower(nfc_normalize(raw)),
                                  '[\\x00-\\x1f]', ' ', 'g'),
                   ' +', ' ', 'g')) AS norm
        FROM t
    )
    SELECT doc_id, md5(norm) AS norm_md5,
           CAST(length(norm) AS BIGINT) AS n_chars
    FROM n ORDER BY doc_id
    """,
)
def q_llm_text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unicode text normalization for corpus cleaning (SURVEY §2.J7
    family — the canonical-form pass every multilingual pipeline runs
    before hashing/dedup): NFC composition (so 'e'+U+0301 and 'é'
    hash identically), control-char removal, whitespace collapse,
    case folding.  NFC needs ICU-class tables Spark SQL lacks, so the
    normalize step is an Arrow-batched pandas UDF over Python's
    unicodedata (the Unicode-standard reference implementation);
    everything around it stays JVM-side.  The oracle exercises the
    same pipe via DuckDB's nfc_normalize, including an injected
    decomposed accent + tab."""

    @F.pandas_udf("string")
    def nfc(s: pd.Series) -> pd.Series:
        import unicodedata

        return s.map(lambda v: None if v is None else unicodedata.normalize("NFC", v))

    t = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit("  Cafe" + "é" + "\t" + "TAB")
        ).alias("raw"),
    )
    norm = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(nfc(F.col("raw"))), r"[\x00-\x1f]", " "),
            " +",
            " ",
        )
    )
    return t.select(
        "doc_id",
        F.md5(norm).alias("norm_md5"),
        F.length(norm).cast("bigint").alias("n_chars"),
    ).orderBy("doc_id")


@query(
    "q_llm_score_normalize",
    oracle="""
    WITH s AS (
        SELECT doc_id, CAST(n_chars AS DOUBLE) AS score FROM documents
    )
    SELECT doc_id,
           ROUND(percent_rank() OVER (ORDER BY score), 6) AS pr
    FROM s ORDER BY doc_id
    """,
)
def q_llm_score_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentile normalization of a per-document quality score
    (the LLM-pipeline step that maps raw scores to [0,1] before
    threshold mixing) WITHOUT the global-window trap: a naive
    ``percent_rank() OVER (ORDER BY score)`` plans SinglePartition —
    every row through one task.  Instead: aggregate per-VALUE counts
    (distinct scores ≪ rows), cumsum strictly-smaller counts over
    that small table, and broadcast-join the ranks back onto the
    fact scan.  percent_rank = (#strictly smaller)/(N-1) reproduces
    SQL semantics exactly, ties included — the oracle IS the naive
    window form."""
    from pyspark.sql.window import Window

    s = load(spark, sf_dir, "documents").select(
        "doc_id", F.col("n_chars").cast("double").alias("score")
    )
    counts = s.groupBy("score").agg(F.count(F.lit(1)).alias("cnt"))
    w = Window.orderBy("score").rowsBetween(Window.unboundedPreceding, -1)
    ranks = counts.select(
        "score",
        F.coalesce(F.sum("cnt").over(w), F.lit(0)).alias("n_smaller"),
    )
    total = s.count()
    return (
        s.join(F.broadcast(ranks), "score")
        .select(
            "doc_id",
            F.round(F.col("n_smaller") / F.lit(max(1, total - 1)), 6).alias("pr"),
        )
        .orderBy("doc_id")
    )


@query(
    "q_llm_chunk_sentences",
    oracle="""
    WITH w AS (
        SELECT doc_id, string_split(text, '. ') AS ss FROM documents
    ), s AS (
        SELECT doc_id, i AS pos, ss[i] AS sent,
               len(string_split(ss[i], ' ')) AS tok
        FROM w, UNNEST(range(1, len(ss) + 1)) t(i)
        WHERE ss[i] <> ''
    ), c AS (
        SELECT doc_id, pos, sent, tok,
               SUM(tok) OVER (PARTITION BY doc_id ORDER BY pos
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cum
        FROM s
    )
    SELECT doc_id,
           CAST(FLOOR(CAST(cum - tok AS DOUBLE) / 40) AS BIGINT) AS chunk_id,
           CAST(COUNT(*) AS BIGINT) AS n_sent,
           CAST(SUM(tok) AS BIGINT) AS n_tokens,
           md5(string_agg(sent, '. ' ORDER BY pos)) AS chunk_md5
    FROM c
    GROUP BY doc_id, chunk_id ORDER BY doc_id, chunk_id
    """,
)
def q_llm_chunk_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence-aware chunking under a token budget (the packing step
    between cleaning and tokenization; complements q_llm_chunk's
    char-window split): split into sentences, count whitespace
    tokens, greedy-pack consecutive sentences into ~40-token chunks
    via a per-doc running sum (chunk = floor(preceding-tokens /
    budget) — deterministic, no sequential loop, a single doc_id
    shuffle shared by the window and the chunk aggregate).  A chunk
    can exceed the budget only when one sentence alone does —
    standard greedy semantics."""
    from pyspark.sql.window import Window

    s = (
        load(spark, sf_dir, "documents")
        .select(
            "doc_id",
            F.posexplode(F.split("text", r"\. ")).alias("pos0", "sent"),
        )
        .where(F.col("sent") != "")
        .select(
            "doc_id",
            (F.col("pos0") + 1).alias("pos"),
            "sent",
            F.size(F.split("sent", " ")).alias("tok"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = s.withColumn("cum", F.sum("tok").over(w))
    chunk_id = F.floor((F.col("cum") - F.col("tok")).cast("double") / 40).cast(
        "bigint"
    )
    return (
        c.withColumn("chunk_id", chunk_id)
        .groupBy("doc_id", "chunk_id")
        .agg(
            F.count(F.lit(1)).alias("n_sent"),
            F.sum("tok").alias("n_tokens"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "sent"))),
                        lambda x: x["sent"],
                    ),
                    ". ",
                )
            ).alias("chunk_md5"),
        )
        .orderBy("doc_id", "chunk_id")
    )


#: DuckDB transcription of the BPE merge loop (VERDICT r12 item 4 —
#: the merge table is deterministic, so the oracle replays Sennrich's
#: algorithm as a recursive CTE): level 0 is the capped word-frequency
#: table segmented into chars + </w>; each level counts adjacent
#: symbol pairs (overlapping, freq-weighted — one unnested row per
#: occurrence), picks the global argmax (count DESC, then (l, r)
#: lexicographic = train_bpe's tie-break), and re-segments every word
#: with the double-space replace trick, which reproduces the
#: left-to-right non-overlapping merge of _merge_once exactly
#: ('a a a a' + (a,a) → 'aa aa', not 'aa a a').  Recursion stops when
#: the GLOBAL best count drops below 2 (the trainer's stop rule) or
#: at 20 merges.
_BPE_TRAIN_ORACLE = r"""
WITH RECURSIVE words AS (
    SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
    FROM (
        SELECT unnest(regexp_split_to_array(lower(text), '\s+')) AS word
        FROM documents
    ) WHERE word <> ''
    GROUP BY word
    ORDER BY freq DESC, word
    LIMIT 5000
), state AS (
    SELECT 0 AS it, word, freq,
           array_to_string(
               [word[i] for i in generate_series(1, length(word))], ' '
           ) || ' </w>' AS seg,
           CAST(NULL AS VARCHAR) AS bl, CAST(NULL AS VARCHAR) AS br
    FROM words
    UNION ALL
    SELECT it + 1 AS it, word, freq,
           trim(replace(replace(' ' || replace(seg, ' ', '  ') || ' ',
                                ' ' || bl || '  ' || br || ' ',
                                ' ' || bl || br || ' '),
                        '  ', ' ')) AS seg,
           bl, br
    FROM (
        SELECT it, word, freq, seg,
               FIRST_VALUE(l) OVER w AS bl,
               FIRST_VALUE(r) OVER w AS br,
               FIRST_VALUE(cnt) OVER w AS gcnt,
               ROW_NUMBER() OVER (
                   PARTITION BY word ORDER BY cnt DESC, l, r
               ) AS rn
        FROM (
            SELECT it, word, freq, seg, l, r,
                   SUM(freq) OVER (PARTITION BY l, r) AS cnt
            FROM (
                SELECT it, word, freq, seg,
                       unnest([ [s[i], s[i+1]]
                                for i in generate_series(1, len(s)-1) ]) AS p
                FROM (SELECT it, word, freq, seg,
                             string_split(seg, ' ') AS s
                      FROM state WHERE it < 20)
            ) t0, LATERAL (SELECT p[1] AS l, p[2] AS r) t1
        ) t2
        WINDOW w AS (ORDER BY cnt DESC, l, r)
    ) t3
    WHERE rn = 1 AND gcnt >= 2
)
SELECT CAST(it - 1 AS INT) AS rank,
       MIN(bl) AS left, MIN(br) AS right, MIN(bl || br) AS merged
FROM state WHERE it >= 1
GROUP BY it
ORDER BY rank
"""


@query("q_llm_bpe_train", oracle=_BPE_TRAIN_ORACLE)
def q_llm_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL BPE tokenizer training (Sennrich 2016; SURVEY §2.J7
    tokenization family — complements q_llm_token_bpe, which applies
    a fixed regex): learn 20 merges from the documents corpus via
    operators/bpe.py — word-frequency table once (the 100 TB move:
    distinct words are bounded and heavy-tailed, capped at the
    most-frequent 5k; the only corpus-sized stage), then the merge
    loop runs driver-side over that bounded table with incremental
    pair-count updates (one Spark job total; the r5 per-round-job
    loop paid 6.7 s of scheduler overhead for milliseconds of merge
    math — the distributed loop remains for caps beyond driver
    memory).  Deterministic ties (count DESC, pair lexicographic)
    make the merge list reproducible across runs, partitionings, and
    tiers.  Returns (rank, left, right, merged)."""
    from clickhub_spark.operators.bpe import train_bpe

    docs = load(spark, sf_dir, "documents")
    merges = train_bpe(docs, "text", n_merges=20, max_words=5000)
    return spark.createDataFrame(
        [(i, l, r, l + r) for i, (l, r) in enumerate(merges)],
        "rank int, left string, right string, merged string",
    ).orderBy("rank")


@query(
    "q_llm_dedup_editdist",
    oracle="""
    WITH d AS (
        SELECT doc_id, text, length(text) AS n,
               substr(text, 1, 12) AS blk
        FROM documents
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(levenshtein(a.text, b.text) AS BIGINT) AS edit_dist
    FROM d a JOIN d b
      ON a.blk = b.blk AND a.doc_id < b.doc_id
     AND abs(a.n - b.n) <= 20
    WHERE levenshtein(a.text, b.text) <= 40
    ORDER BY id_a, id_b
    """,
)
def q_llm_dedup_editdist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup detection (SURVEY §2.J5 family — the
    character-level complement to shingle/MinHash similarity): block
    on a 12-char prefix + length band (the classic blocking that
    turns O(n²) into per-block pairs), then verify candidates with
    exact Levenshtein ≤ 40.  Both engines implement standard
    Levenshtein (JVM builtin — no UDF).  At 100 TB the prefix block
    is the shuffle key; quadratic cost is confined within blocks and
    the length band prunes before the O(len²) distance runs."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        "text",
        F.length("text").alias("n"),
        F.substring("text", 1, 12).alias("blk"),
    )
    a = d.select(
        F.col("doc_id").alias("id_a"),
        F.col("text").alias("ta"),
        F.col("n").alias("na"),
        "blk",
    )
    b = d.select(
        F.col("doc_id").alias("id_b"),
        F.col("text").alias("tb"),
        F.col("n").alias("nb"),
        "blk",
    )
    pairs = (
        a.join(b, "blk")
        .where((F.col("id_a") < F.col("id_b")) & (F.abs(F.col("na") - F.col("nb")) <= 20))
        # r16 (guide §1.2 per-task work): pass the 40 cutoff INTO
        # levenshtein — Spark's threshold form runs the banded DP
        # (O(len·k) and early-exits) instead of the full O(len²)
        # matrix, returning -1 above the cutoff.  For kept rows the
        # value is the exact distance, so `dist != -1` ≡ the old
        # `dist <= 40` filter row-for-row (oracle unchanged).
        .withColumn("edit_dist", F.levenshtein("ta", "tb", 40).cast("bigint"))
        .where(F.col("edit_dist") != -1)
    )
    return pairs.select("id_a", "id_b", "edit_dist").orderBy("id_a", "id_b")


@query(
    "q_llm_quality_classifier",
    oracle="""
    WITH f AS (
        SELECT doc_id,
               CAST(length(text) AS DOUBLE) / 1000 AS f_len,
               CAST(len(string_split(text, ' ')) AS DOUBLE) / 100 AS f_words,
               CAST(length(text) - length(replace(text, '.', '')) AS DOUBLE)
                 / (len(string_split(text, ' ')) + 1) AS f_punct,
               CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS f_en
        FROM documents
    )
    SELECT doc_id,
           ROUND(1.0 / (1.0 + exp(-(-0.5 + 0.8 * f_len + 0.6 * f_words
                                    - 2.0 * f_punct + 0.4 * f_en))), 6)
               AS quality_score
    FROM f ORDER BY doc_id
    """,
)
def q_llm_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality classifier scoring (the fasttext-classifier
    shape of CCNet/LLaMA data pipelines, with fixed published-style
    weights — SURVEY §2.J7 family; complements the rule-based
    q_llm_quality/quality_v2): handcrafted features (length, word
    count, period density, language flag) through a sigmoid, all
    JVM-side expression math — map-only, no UDF, the shape of any
    broadcast-weights linear scorer at 100 TB."""
    f_len = F.length("text").cast("double") / 1000
    f_words = F.size(F.split(F.col("text"), " ")).cast("double") / 100
    f_punct = (
        (F.length("text") - F.length(F.replace(F.col("text"), F.lit("."), F.lit("")))).cast("double")
        / (F.size(F.split(F.col("text"), " ")) + 1)
    )
    f_en = F.when(F.col("lang") == "en", 1.0).otherwise(0.0)
    z = -0.5 + 0.8 * f_len + 0.6 * f_words - 2.0 * f_punct + 0.4 * f_en
    return (
        load(spark, sf_dir, "documents")
        .select("doc_id", F.round(1.0 / (1.0 + F.exp(-z)), 6).alias("quality_score"))
        .orderBy("doc_id")
    )


@query(
    "q_llm_kmeans_update",
    oracle="""
    WITH cent AS (
        SELECT vec_id AS cid, CAST(embedding AS DOUBLE[]) AS cvec
        FROM embeddings WHERE vec_id < 8
    ), scored AS (
        SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) AS v, c.cid,
               list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), c.cvec) AS sim
        FROM embeddings e CROSS JOIN cent c
    ), assigned AS (
        SELECT vec_id, v, cid, sim,
               row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid) AS rn
        FROM scored
    ), members AS (
        SELECT cid, v FROM assigned WHERE rn = 1
    ), dims AS (
        SELECT cid, d.i AS dim, AVG(v[d.i]) AS mu, COUNT(*) AS n
        FROM members, UNNEST(range(1, 65)) d(i)
        GROUP BY cid, d.i
    )
    SELECT CAST(cid AS BIGINT) AS cluster,
           CAST(MAX(n) AS BIGINT) AS n_members,
           ROUND(SUM(mu * mu), 4) AS centroid_sq_norm,
           ROUND(SUM(mu), 4) AS centroid_sum
    FROM dims GROUP BY cid ORDER BY cluster
    """,
)
def q_llm_kmeans_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means centroid UPDATE step (the M-step completing
    q_llm_kmeans_assign's E-step — together one full distributed
    Lloyd iteration, the loop that builds every IVF coarse
    quantizer): assign each vector map-side to its nearest fixed
    centroid (broadcast literals, no shuffle), then re-average
    members per cluster via a per-dimension partial aggregate:
    posexplode the 64 dims map-side and hash-aggregate (cluster, dim)
    sums — partial aggregation means the shuffle carries at most
    k x 64 partial sums per partition, never the member vectors.
    Exported
    as per-cluster summary scalars (sq-norm / sum of the new
    centroid) so the oracle is engine-stable."""
    from clickhub_spark.functions.vectors import as_double, nearest_centroid

    emb = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr(as_double("embedding")).alias("v")
    )
    cent_rows = sorted(
        emb.where(F.col("vec_id") < 8).collect(), key=lambda r: r["vec_id"]
    )
    cent = [(int(r["vec_id"]), list(r["v"])) for r in cent_rows]
    # cosine is scale-invariant: score the RAW vectors once
    # (pre_normalized=False folds the row norm inside the scorer) —
    # no separate normalize pass
    assigned = emb.withColumn(
        "cluster", F.expr(nearest_centroid("v", cent, pre_normalized=False))["cluster"]
    )
    # per-dimension partial sums: the shuffle after the explode
    # carries k x 64 partials per partition (map-side combine), never
    # the member vectors themselves
    dims = assigned.select("cluster", F.posexplode("v").alias("dim", "x"))
    per = dims.groupBy("cluster", "dim").agg(
        F.sum("x").alias("s"), F.count(F.lit(1)).alias("n")
    )
    mu = F.col("s") / F.col("n")
    return (
        per.groupBy("cluster")
        .agg(
            F.max("n").alias("n_members"),
            F.round(F.sum(mu * mu), 4).alias("centroid_sq_norm"),
            F.round(F.sum(mu), 4).alias("centroid_sum"),
        )
        .select(
            F.col("cluster").cast("bigint").alias("cluster"),
            "n_members",
            "centroid_sq_norm",
            "centroid_sum",
        )
        .orderBy("cluster")
    )


@query(
    "q_llm_embed_matryoshka",
    oracle="""
    WITH t AS (
        SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), c AS (
        SELECT vec_id, v, v[1:16] AS t16 FROM t
    ), n AS (
        SELECT vec_id,
               sqrt(list_sum(list_transform(t16, x -> x * x))) AS tn,
               list_cosine_similarity(v, list_concat(t16,
                   [0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0,
                    0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0,
                    0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0,
                    0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0,
                    0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0])) AS cos_keep
        FROM c
    )
    SELECT vec_id,
           ROUND(tn, 4) AS trunc_norm,
           ROUND(cos_keep, 4) AS cos_vs_full
    FROM n WHERE tn > 0 ORDER BY vec_id
    """,
)
def q_llm_embed_matryoshka(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style embedding truncation (Kusupati et al. 2022,
    arXiv:2205.13147 — SURVEY §2.J6 family; the cheap-tier trick MRL
    embeddings enable: keep the first k dims, renormalize, search in
    k-dim space): truncate 64→16, report the truncated norm and the
    cosine between the full vector and its zero-padded truncation
    (= the retained-energy fraction that decides whether the cheap
    tier is usable).  Pure array expression math, map-only."""
    t = load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("v"),
    )
    t16 = F.slice(F.col("v"), 1, 16)
    dot16 = F.aggregate(
        F.zip_with(t16, t16, lambda a, b: a * b), F.lit(0.0), lambda s, x: s + x
    )
    tn = F.sqrt(dot16)
    full_sq = F.aggregate(
        F.zip_with(F.col("v"), F.col("v"), lambda a, b: a * b),
        F.lit(0.0),
        lambda s, x: s + x,
    )
    # cos(v, pad(t16)) = |t16|^2 / (|v| * |t16|) = |t16| / |v|
    cos_keep = dot16 / (F.sqrt(full_sq) * tn)
    # filter on the UNROUNDED norm — the oracle's WHERE tn > 0 keeps
    # rows whose rounded norm is 0.0000, so rounding first would drop
    # them on the Spark side only
    return (
        t.where(tn > 0)
        .select(
            "vec_id",
            F.round(tn, 4).alias("trunc_norm"),
            F.round(cos_keep, 4).alias("cos_vs_full"),
        )
        .orderBy("vec_id")
    )


@query(
    "q_llm_boilerplate",
    oracle="""
    WITH words AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), sh AS (
        SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS shingle
        FROM words, UNNEST(range(1, len(ws) - 1)) t(i)
        WHERE len(ws) >= 3
    ), freq AS (
        SELECT shingle FROM sh GROUP BY shingle
        HAVING COUNT(DISTINCT doc_id) >= 5
    )
    SELECT s.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(COUNT(f.shingle) AS BIGINT) AS n_boiler,
           ROUND(CAST(COUNT(f.shingle) AS DOUBLE) / COUNT(*), 4)
               AS boiler_ratio
    FROM sh s LEFT JOIN freq f USING (shingle)
    GROUP BY s.doc_id ORDER BY s.doc_id
    """,
)
def q_llm_boilerplate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template/boilerplate detection (the CCNet/RefinedWeb dedup-
    adjacent cleaning pass — SURVEY §2.J7 family): n-grams whose
    document frequency crosses a threshold are template text (site
    chrome, license headers, navigation), and each document reports
    its boilerplate fraction — the filter signal.  Plan shape: the
    frequent-shingle table is produced by one (shingle → distinct-doc
    count) aggregate and is SMALL by construction (heavy-tail cut),
    so it broadcast-joins back onto the per-doc shingle stream; the
    doc-level aggregate reuses the doc_id shuffle."""
    from clickhub_spark.operators.dedup import shingles

    sh = shingles(load(spark, sf_dir, "documents"), "text", "doc_id", 3)
    freq = (
        sh.groupBy("shingle")
        .agg(F.count_distinct("doc_id").alias("df"))
        .where(F.col("df") >= 5)
        .select("shingle", F.lit(1).alias("__boiler"))
    )
    return (
        sh.join(F.broadcast(freq), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count("__boiler").alias("n_boiler"),
            F.round(
                F.count("__boiler").cast("double") / F.count(F.lit(1)), 4
            ).alias("boiler_ratio"),
        )
        .orderBy("doc_id")
    )


@query(
    "q_llm_ngram_novelty",
    oracle="""
    WITH words AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), sh AS (
        SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS shingle
        FROM words, UNNEST(range(1, len(ws) - 1)) t(i)
        WHERE len(ws) >= 3
    ), firsts AS (
        SELECT shingle, MIN(doc_id) AS first_doc FROM sh GROUP BY shingle
    )
    SELECT sh.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           ROUND(AVG(CASE WHEN f.first_doc = sh.doc_id
                          THEN 1.0 ELSE 0.0 END), 4) AS novelty
    FROM sh JOIN firsts f USING (shingle)
    GROUP BY sh.doc_id ORDER BY sh.doc_id
    """,
)
def q_llm_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document n-gram novelty (the data-curation signal behind
    'how much of this doc is new text' — RefinedWeb/FineWeb-style
    corpus analysis; SURVEY §2.J7 family next to q_llm_tfidf): the
    fraction of a doc's distinct 3-word shingles whose FIRST corpus
    occurrence (min doc_id — ingestion order) is this doc.  Exact
    boilerplate complement: duplicated/templated text scores near 0.
    Two hash shuffles, both keyed by shingle (explode → min-doc_id
    aggregate → join back on the SAME key, so the join reuses the
    aggregation's partitioning) then one doc_id aggregate — no
    windows, no all-pairs.  novelty averages exact 0/1 indicators
    over an exact count: identical division both engines; ROUND(4)
    for display."""
    from clickhub_spark.operators.dedup import shingles

    docs = load(spark, sf_dir, "documents")
    # r17 (VERDICT r16 item 4, settled TWICE): the r16 claim that
    # `repartition("shingle")` shares ONE explode via ReusedExchange
    # is false — column pruning pushes branch-specific Projects below
    # the repartition, the two exchanges are not canonically equal,
    # and the executed AQE plan runs 2 Generate nodes either way.
    # The repartition was removed on that basis, but the cold bench
    # then regressed ~30% (pin 0.921 s with it, 1.29 s min-of-3
    # without), and a 6-rep interleaved same-session A/B confirms:
    # WITH 0.83 min / 1.09 med vs WITHOUT 1.19 / 1.38.  The real
    # mechanism: the shingle partitioning satisfies BOTH downstream
    # distribution requirements (min-doc_id aggregate and join), so
    # neither pays its own post-explode exchange and the join stays a
    # co-partitioned hash join instead of broadcast-rebuilding firsts.
    # Kept per guide §1.1 — the empirical winner, with the corrected
    # explanation.  (The fuller rewrite — map-side denominator, no
    # join-back — measured slower still, 2.28 s, and stays discarded.)
    sh = shingles(docs, "text", "doc_id", k=3).repartition("shingle")
    firsts = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    return (
        sh.join(firsts, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.round(
                F.avg(
                    F.when(F.col("first_doc") == F.col("doc_id"), 1.0).otherwise(0.0)
                ),
                4,
            ).alias("novelty"),
        )
        .orderBy("doc_id")
    )


#: words per non-overlapping passage window (RefinedWeb uses larger
#: spans on real prose; 3 keeps measurable cross-doc collision rates
#: on the synthetic word-soup corpus at every test SF)
_PASSAGE_W = 3


@query(
    "q_llm_dedup_passage",
    oracle=f"""
    WITH w AS (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents
    ), p AS (
        SELECT doc_id,
               array_to_string(ws[(i * {_PASSAGE_W} + 1):(i * {_PASSAGE_W} + {_PASSAGE_W})], ' ')
                   AS passage
        FROM w, UNNEST(range(0, CAST(FLOOR(len(ws) / {_PASSAGE_W}) AS BIGINT))) t(i)
        WHERE len(ws) >= {_PASSAGE_W}
    ), h AS (
        SELECT doc_id, md5(passage) AS ph FROM p
    ), d AS (
        SELECT ph, COUNT(DISTINCT doc_id) AS nd FROM h GROUP BY ph
    ), agg AS (
        SELECT doc_id,
               CAST(COUNT(*) AS BIGINT) AS n_passages,
               CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup
        FROM h JOIN d USING (ph) GROUP BY doc_id
    )
    SELECT doc_id, n_passages, n_dup,
           FLOOR(CAST(n_dup AS DOUBLE) / n_passages * 10000) / 10000 AS dup_frac,
           (CAST(n_dup AS DOUBLE) / n_passages) >= 0.5 AS flagged
    FROM agg ORDER BY doc_id
    """,
)
def q_llm_dedup_passage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-frequency deduplication (the RefinedWeb / CCNet
    corpus-curation technique; complements q_llm_dedup_substring's
    pairwise longest-run form): split each document into
    non-overlapping W-word passages, count the DISTINCT documents
    containing each passage hash, and flag documents where ≥50% of
    passages occur verbatim in some other document — boilerplate-heavy
    pages that no single-pair comparison catches.

    100 TB shape: one shuffle keyed by passage hash (the frequency
    aggregate — map-side combine collapses repeats per partition),
    one join back keyed the same way, one doc-keyed aggregate.  No
    pairwise anything: cost is linear in corpus passages, and the
    passage-hash key space is huge so the shuffle cannot skew.
    dup_frac is FLOOR-scaled (not ROUND): ratios of small integers
    land exactly on decimal halves (3/32 = .09375) where the engines'
    ROUND modes diverge.  Implementation:
    operators/textops.passage_dup_stats (shared with the 100× scale
    smoke, ``tools/scale passage_dedup``)."""
    from clickhub_spark.operators.textops import passage_dup_stats

    docs = load(spark, sf_dir, "documents").select("doc_id", "text")
    return passage_dup_stats(docs, "text", "doc_id", w=_PASSAGE_W).orderBy(
        "doc_id"
    )


def logreg_features(df: DataFrame) -> DataFrame:
    """The quality-classifier design matrix: (lang == 'en') label +
    three text statistics.  SINGLE-SOURCED — q_llm_logreg_fit trains
    on it and q_llm_logreg_cert certifies the same
    construction; edits here change both together."""
    return df.select(
        "doc_id",
        (F.col("lang") == "en").cast("int").alias("label"),
        (F.length("text").cast("double") / 1000).alias("f_len"),
        (F.size(F.split(F.col("text"), " ")).cast("double") / 100).alias(
            "f_words"
        ),
        (
            F.length(F.regexp_replace(F.col("text"), r"[^aeiou]", "")).cast(
                "double"
            )
            / (F.length("text") + 1)
        ).alias("f_vowels"),
    )


@query("q_llm_logreg_fit")  # no SQL oracle: iterative IRLS is not
# SQL-expressible; correctness pinned by tests/test_glm.py
# (distributed moment-pass loop ≡ single-node numpy IRLS to 1e-8,
# deterministic refit, separable-slice stability) — the PCA contract.
def q_llm_logreg_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-then-score a quality classifier ON the corpus (the
    fasttext-style step CCNet/LLaMA pipelines run; completes
    q_llm_quality_classifier, which scores with FIXED weights):
    logistic regression of (lang == 'en') on three text statistics,
    fitted by operators/glm.logistic_fit — each IRLS iteration is one
    map-side moment aggregate with the coefficients broadcast as
    literals (no shuffle, no UDF; the driver solves a 4×4 system),
    then a map-only scoring pass.  Output is (doc_id, label,
    FLOOR-scaled score) — scalar wire form."""
    from clickhub_spark.operators.glm import logistic_fit, logistic_score

    docs = logreg_features(load(spark, sf_dir, "documents"))
    beta = logistic_fit(docs, ["f_len", "f_words", "f_vowels"], "label")
    return (
        logistic_score(docs, ["f_len", "f_words", "f_vowels"], beta)
        .select(
            "doc_id",
            "label",
            (F.floor(F.col("score") * 1000000) / 1000000).alias("score"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# §2 certification rows for approximate operators:
# the q_agg_topk_bounds pattern — the query's OUTPUT is the invariant,
# with every exact quantity recomputed independently by the oracle and
# every bound check a column whose expected value is a constant.
# --------------------------------------------------------------------------

#: certification geometry shared by the four ANN recall certificates:
#: mean recall over the first 20 query vectors, so the flags are
#: stable across SFs.
_NQ = 20

#: LSH recall certification geometry — matches the registered
#: q_llm_knn_lsh serving configuration EXACTLY (n_bits=4 hyperplane
#: signature over the first 64 components WITH Hamming-1 multi-probe;
#: the serving path adopted multi_probe=1 in round 10, ADVICE r9 #3),
#: measured 0.470 / 0.485 / 0.470 at sf0.001/0.01/0.1 vs the ~0.31
#: random-candidate baseline of scanning 5 of 16 buckets.
_LSH_K, _LSH_BITS = 10, 4


def _ann_queries(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The embeddings table and the certificates' query set: the first
    ``_NQ`` vectors as (qid, __qvec), the batch layout of the
    operators/knn probes."""
    emb = load(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < _NQ).select(
        F.col("vec_id").alias("qid"), F.expr(as_double("embedding")).alias("__qvec")
    )
    return emb, q


def _query_vectors(q: DataFrame) -> list:
    """The 20 query vectors as (qid, vector): a bounded parameter
    fetch, the IVF and PQ probes' driver-side input."""
    return [(r.qid, r["__qvec"]) for r in q.collect()]


def _recall_row(
    emb: DataFrame,
    q: DataFrame,
    k: int,
    ann: DataFrame,
    gate: float,
    extras: list[DataFrame],
    cols: list,
) -> DataFrame:
    """ONE certificate row: n_vectors, n_queries and n_exact_pairs (the
    exact cosine top-k pairs, operators/knn.exact_topk_pairs), then
    ``cols`` in order.  ``extras`` are one-row aggregates cross-joined
    in for ``cols`` to read, and ``cols`` can name the recall flag
    ``recall_ge_NNN`` (NNN = gate in hundredths): the ANN (qid,
    vec_id) pairs hit at least ``gate`` of the exact ones."""
    from clickhub_spark.operators.knn import exact_topk_pairs

    exact = exact_topk_pairs(emb, q, k)
    row = (
        emb.agg(F.count(F.lit(1)).alias("n_vectors"))
        .crossJoin(q.agg(F.count(F.lit(1)).alias("n_queries")))
        .crossJoin(exact.agg(F.count(F.lit(1)).alias("n_exact_pairs")))
        .crossJoin(
            exact.join(ann, ["qid", "vec_id"]).agg(F.count(F.lit(1)).alias("__hits"))
        )
    )
    for extra in extras:
        row = row.crossJoin(extra)
    row = row.withColumn(
        f"recall_ge_{round(gate * 100):03d}",
        (F.col("__hits") >= gate * F.col("n_exact_pairs")).cast("int"),
    )
    return row.select("n_vectors", "n_queries", "n_exact_pairs", *cols)


def _pruned_le_050() -> F.Column:
    """Candidates (``__cand``) are at most half the query × corpus pairs."""
    return (
        (F.col("__cand") <= 0.50 * F.col("n_queries") * (F.col("n_vectors") - 1))
        .cast("int")
        .alias("pruned_le_050")
    )


@query(
    "q_llm_knn_lsh_recall",
    oracle=f"""
    WITH t AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors FROM embeddings
    ), q AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_queries
        FROM embeddings WHERE vec_id < {_NQ}
    )
    SELECT t.n_vectors, q.n_queries,
           CAST(q.n_queries * LEAST({_LSH_K}, t.n_vectors - 1) AS BIGINT)
               AS n_exact_pairs,
           CAST(1 AS INT) AS recall_ge_040,
           CAST(1 AS INT) AS pruned_le_050
    FROM t, q
    """,
)
def q_llm_knn_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall certification for the rows-only xxhash LSH ANN path
    (q_llm_knn_lsh): mean top-10 recall over 20 query vectors against
    the EXACT cosine top-10 (the operator q_llm_knn's oracle-green
    brute force), as a driver-checkable boolean — plus the pruning
    claim that makes it an ANN at all (candidates ≤ half the corpus
    despite Hamming-1 multi-probe; expected 5/16 of buckets probed).

    Both sides run in one plan: the ANN side is the serving probe
    (operators/knn.lsh_probe) over the 20 broadcast query rows, the
    exact side a deliberate O(n·q) cross score (q=20 — certification
    cost, not the serving path), per-query top-k is a rank window over
    ≤n·q scored rows, and the output is ONE row of counts + flags.

    Unlike q_agg_topk_bounds / q_agg_uniq_bounds / the quantile twin,
    the 0.40 recall gate is a MEASURED margin (0.470/0.485/0.470
    observed across the three SFs), not a theorem — random-hyperplane
    LSH carries no distribution-free recall guarantee; the gate's
    value is catching signature/probe regressions, with ~15% headroom
    over the observed floor (VERDICT r9 item 7)."""
    from clickhub_spark.operators.knn import (
        hyperplane_signature,
        lsh_probe,
        topk_per_query,
    )

    emb, q = _ann_queries(spark, sf_dir)
    sig = emb.withColumn(
        "bucket", F.expr(hyperplane_signature(as_double("embedding"), _LSH_BITS, 64))
    )
    qb = q.withColumn("__qbucket", F.expr(hyperplane_signature("__qvec", _LSH_BITS, 64)))
    cand = lsh_probe(sig, qb, _LSH_BITS, multi_probe=1)
    ann = topk_per_query(cand, _LSH_K).select("qid", "vec_id")
    return _recall_row(
        emb,
        q,
        _LSH_K,
        ann,
        0.40,
        [cand.agg(F.count(F.lit(1)).alias("__cand"))],
        ["recall_ge_040", _pruned_le_050()],
    )


#: IVF serving configuration being certified (q_llm_knn_ivf:
#: n_cells=16, nprobe=4, k=10).  Measured recall@10: 0.645 / 0.710 /
#: 0.600 at sf0.001/0.01/0.1 — gate 0.50 (~17% headroom under the
#: floor); measured candidate fraction 0.29-0.34 — gate 0.50.
_IVF_CELLS, _IVF_NPROBE, _IVF_K = 16, 4, 10

#: PQ serving configuration being certified (q_llm_knn_pq: m=16
#: subspaces, 32 codes, k=20).  Measured recall@20: 0.552 / 0.583 /
#: 0.438 — gate 0.35 (~20% headroom under the floor).
_PQ_M, _PQ_CODES, _PQ_K = 16, 32, 20


@query(
    "q_llm_knn_ivf_recall",
    oracle=f"""
    WITH t AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors FROM embeddings
    ), q AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_queries
        FROM embeddings WHERE vec_id < {_NQ}
    )
    SELECT t.n_vectors, q.n_queries,
           CAST(q.n_queries * LEAST({_IVF_K}, t.n_vectors - 1) AS BIGINT)
               AS n_exact_pairs,
           CAST(q.n_queries * {_IVF_NPROBE} AS BIGINT) AS probe_pairs,
           CAST(1 AS INT) AS recall_ge_050,
           CAST(1 AS INT) AS pruned_le_050
    FROM t, q
    """,
)
def q_llm_knn_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall certification for the rows-only IVF ANN path
    (q_llm_knn_ivf): mean top-10 recall over 20 query vectors against
    the exact cosine top-10, as a driver-checkable boolean, plus the
    structural pruning claims — every query probes EXACTLY nprobe of
    the n_cells index partitions (probe_pairs = 20·4: the serving cell
    chooser's output, counted), and the probed cells together hold at
    most half the corpus (measured 0.29-0.34).

    The certified configuration is the registered serving path's own
    build-once index artifact (operators/knn.ivf_index, n_cells=16)
    probed by the serving code: ``ivf_cells`` picks each query's
    nprobe=4 cells driver-side and ``ivf_probe`` scores the 20 queries'
    candidates in one broadcast-pruned scan; the ANN top-k is a rank
    window.  Recall gate 0.50 is a MEASURED margin (floor 0.600
    across SFs), not a theorem."""
    from clickhub_spark.operators.knn import (
        ivf_cells,
        ivf_index,
        ivf_probe,
        topk_per_query,
    )

    emb, q = _ann_queries(spark, sf_dir)
    path = ivf_index(emb, _IVF_CELLS)
    queries = _query_vectors(q)
    cells = ivf_cells(spark, path, [v for _, v in queries], _IVF_NPROBE)
    cand = ivf_probe(spark, path, queries, cells)
    ann = topk_per_query(cand, _IVF_K).select("qid", "vec_id")
    return _recall_row(
        emb,
        q,
        _IVF_K,
        ann,
        0.50,
        [cand.agg(F.count(F.lit(1)).alias("__cand"))],
        [
            F.lit(sum(map(len, cells))).cast("bigint").alias("probe_pairs"),
            "recall_ge_050",
            _pruned_le_050(),
        ],
    )


@query(
    "q_llm_knn_pq_recall",
    oracle=f"""
    WITH t AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors FROM embeddings
    ), q AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_queries
        FROM embeddings WHERE vec_id < {_NQ}
    )
    SELECT t.n_vectors, q.n_queries,
           CAST(q.n_queries * LEAST({_PQ_K}, t.n_vectors - 1) AS BIGINT)
               AS n_exact_pairs,
           t.n_vectors AS code_rows,
           CAST(0 AS BIGINT) AS bad_codes,
           CAST(1 AS INT) AS recall_ge_035
    FROM t, q
    """,
)
def q_llm_knn_pq_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall certification for the rows-only PQ ANN path
    (q_llm_knn_pq): mean top-20 recall over 20 query vectors against
    the exact cosine top-20 as a driver-checkable boolean, plus the
    index-integrity theorems — the codes table covers the corpus
    exactly (code_rows = n_vectors; the oracle recomputes the corpus
    count) and every code is a length-m array of valid codebook
    entries (bad_codes = 0).

    The certified configuration is the registered serving path's own
    build-once artifact (operators/knn.pq_index, m=16, n_codes=32)
    scored by the serving ADC scorer: ``pq_scores`` runs ONE
    vectorized mapInPandas over the codes table emitting all 20
    queries' sims per Arrow batch (sim = 1 − L2²/2 on build-normalized
    vectors, rounded to 4dp), and the ANN top-k is a rank window.
    Recall gate 0.35 is a MEASURED margin (floor 0.438 across SFs),
    not a theorem."""
    from clickhub_spark.operators.knn import pq_index, pq_scores, topk_per_query

    emb, q = _ann_queries(spark, sf_dir)
    path = pq_index(emb, _PQ_M, _PQ_CODES)
    sims = pq_scores(spark, path, _query_vectors(q))
    ann = topk_per_query(sims, _PQ_K, "vid").select("qid", F.col("vid").alias("vec_id"))
    bad = (F.size("code") != _PQ_M) | F.exists(
        "code", lambda x: (x < 0) | (x >= _PQ_CODES)
    )
    codes = spark.read.parquet(path + "/codes").agg(
        F.count(F.lit(1)).alias("code_rows"),
        F.sum(bad.cast("long")).alias("bad_codes"),
    )
    return _recall_row(
        emb, q, _PQ_K, ann, 0.35, [codes], ["code_rows", "bad_codes", "recall_ge_035"]
    )


# --------------------------------------------------------------------------
# Certification rows for the model-fitting rows-only operators (the
# last uncertified entries in the rows-only census): unlike the ANN
# recall gates above, these three emit THEOREM invariants — Newton
# stationarity, eigendecomposition orthonormality / variance identity,
# and BPE's lossless-roundtrip guarantee — so every expected value is
# an exact constant.
# --------------------------------------------------------------------------

#: logreg stationarity tolerance: at the ridge-IRLS fixed point
#: X'(y − p) − λβ = 0 exactly; 8 Newton iterations land the residual
#: at ~1e-13 (measured across SFs) — 1e-6 is a million-fold margin
#: over float summation noise while still certifying convergence.
_GRAD_TOL = 1e-6


@query(
    "q_llm_logreg_cert",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(4 AS INT) AS n_params,
           CAST(0 AS BIGINT) AS viol_grad
    FROM documents
    """,
)
def q_llm_logreg_cert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationarity certification for the rows-only IRLS logistic fit
    (q_llm_logreg_fit): at the ridge-IRLS fixed point the penalized
    log-likelihood gradient X'(y − σ(Xβ)) − λβ is EXACTLY zero —
    Newton's method converges quadratically, so 8 iterations leave a
    ~1e-13 residual (measured) against the 1e-6 gate.  This is the
    mathematical definition of "the fit is correct" checked at scale:
    the residual is ONE distributed map-side aggregate over the full
    corpus with β broadcast as plan literals (the training pass's own
    shape), so a wrong coefficient, a dropped partition, or a biased
    moment pass all surface as a nonzero gradient.  viol_grad counts
    parameters whose residual exceeds the gate — expected 0, a
    theorem, not a tuned threshold.  The design matrix and the ridge
    λ are IMPORTED from the registered fit's own definitions
    (logreg_features above, glm.DEFAULT_RIDGE), so the
    certificate cannot drift from what it certifies."""
    from clickhub_spark.operators.glm import DEFAULT_RIDGE, logistic_fit

    feats = ["f_len", "f_words", "f_vowels"]
    docs = logreg_features(load(spark, sf_dir, "documents"))
    beta = logistic_fit(docs, feats, "label")

    cols = [F.lit(1.0)] + [F.col(c).cast("double") for c in feats]
    eta = sum(float(b) * c for b, c in zip(beta, cols))
    p = F.lit(1.0) / (F.lit(1.0) + F.exp(-eta))
    y = F.col("label").cast("double")
    aggs = [
        F.sum((y - p) * c).alias(f"__g{i}") for i, c in enumerate(cols)
    ] + [F.count(F.lit(1)).alias("n_docs")]
    row = docs.agg(*aggs)
    viol = sum(
        (
            F.abs(F.col(f"__g{i}") - F.lit(DEFAULT_RIDGE * beta[i]))
            > _GRAD_TOL
        ).cast("long")
        for i in range(len(cols))
    )
    return row.select(
        "n_docs",
        F.lit(len(cols)).cast("int").alias("n_params"),
        viol.alias("viol_grad"),
    )


#: PCA identity tolerances: eigh returns orthonormal eigenvectors to
#: ~1e-15 and the projection's population variance along component i
#: IS eigenvalue i (measured agreement ~1e-15 relative) — 1e-9 gates
#: both with a million-fold margin.
_PCA_TOL = 1e-9


@query(
    "q_llm_pca_cert",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors,
           CAST(8 AS INT) AS k,
           CAST(0 AS BIGINT) AS viol_ortho,
           CAST(0 AS BIGINT) AS viol_order,
           CAST(0 AS BIGINT) AS viol_var
    FROM embeddings
    """,
)
def q_llm_pca_cert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectral-identity certification for the rows-only distributed
    PCA (q_llm_pca, k=8 over the 64-dim embeddings): three theorems of
    a correct eigendecomposition, each expected to hold exactly —

    - viol_ortho: the component matrix is orthonormal (V·V' = I to
      1e-9; eigh guarantees ~1e-15) — checked on the k×d parameter
      matrix the fit returns;
    - viol_order: explained variances are non-increasing;
    - viol_var: the DISTRIBUTED population variance of the projection
      along component i equals eigenvalue i (the spectral identity
      Var(x·vᵢ) = λᵢ) — one map-only Arrow-matmul projection plus one
      16-column aggregate over the full corpus, so a wrong component,
      a stale mean, or a dropped partition shows up as a variance
      mismatch.  This ties the driver-side fit to the data the way
      the logreg gradient check does.

    All three are theorems, not tuned thresholds; the oracle
    recomputes n_vectors and pins the zeros/constants."""
    import numpy as np

    from clickhub_spark.operators.pca import fit_pca, transform_pca

    emb = load(spark, sf_dir, "embeddings")
    mean, comps, evals = fit_pca(emb, "embedding", k=8)
    k = comps.shape[0]

    viol_ortho = int(
        (np.abs(comps @ comps.T - np.eye(k)) > _PCA_TOL).sum()
    )
    viol_order = int(sum(evals[i] < evals[i + 1] for i in range(k - 1)))

    proj = transform_pca(emb, "embedding", mean, comps, ndigits=None)
    aggs = [F.count(F.lit(1)).alias("n_vectors")]
    for i in range(k):
        x = F.col("pca")[i]
        aggs += [F.sum(x).alias(f"__s{i}"), F.sum(x * x).alias(f"__q{i}")]
    row = proj.agg(*aggs)
    n = F.col("n_vectors").cast("double")
    viol_var = sum(
        (
            F.abs(
                (F.col(f"__q{i}") / n - (F.col(f"__s{i}") / n) ** 2)
                - F.lit(float(evals[i]))
            )
            > _PCA_TOL * F.lit(max(float(evals[i]), 1e-12))
        ).cast("long")
        for i in range(k)
    )
    return row.select(
        "n_vectors",
        F.lit(k).cast("int").alias("k"),
        F.lit(viol_ortho).cast("long").alias("viol_ortho"),
        F.lit(viol_order).cast("long").alias("viol_order"),
        viol_var.alias("viol_var"),
    )


@query(
    "q_llm_bpe_cert",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(20 AS INT) AS n_merges,
           CAST(0 AS BIGINT) AS viol_vocab,
           CAST(0 AS BIGINT) AS viol_roundtrip,
           CAST(1 AS INT) AS compressed_le_base
    FROM documents
    """,
)
def q_llm_bpe_cert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lossless-roundtrip certification for the rows-only BPE trainer
    (q_llm_bpe_train, 20 merges / 5k-word cap): three guarantees of a
    well-formed byte-pair encoder, all theorems —

    - viol_vocab: every merge combines symbols that exist at its rank
      (single characters, the end-of-word marker, or the output of an
      EARLIER merge) — well-formedness of the learned merge list;
    - viol_roundtrip: decode(encode(text)) == normalized text for
      EVERY document — BPE merges only ever concatenate ADJACENT
      symbols within a word, so the symbol concatenation is a merge
      invariant: "".join(tokens) must equal the word stream with the
      end-of-word marker appended to each word.  Compared as joined
      STRINGS (never by re-splitting on the marker, which would
      miscount legitimate text that itself contains the marker
      sequence); checked distributed (one mapInPandas over the corpus
      with the same Python string semantics the trainer used);
    - compressed_le_base: applying merges never increases the token
      count (each merge application strictly reduces symbols), so the
      corpus token total is bounded by the base char+EOW count.

    The oracle pins the constants and recomputes n_docs."""
    import pandas as pd

    from clickhub_spark.operators.bpe import EOW, _merge_once, train_bpe

    docs = load(spark, sf_dir, "documents")
    merges = train_bpe(docs, "text", n_merges=20, max_words=5000)

    vocab = {EOW}
    viol_vocab = 0
    for left, right in merges:
        for part in (left, right):
            if len(part) > 1 and part != EOW and part not in vocab:
                viol_vocab += 1
        vocab.add(left + right)

    def check(batches, merges=merges):
        for pdf in batches:
            bad, toks, base = 0, 0, 0
            for text in pdf["text"]:
                words = str(text).lower().split()
                out = []
                for w in words:
                    syms = list(w) + [EOW]
                    base += len(syms)
                    for left, right in merges:
                        if len(syms) < 2:
                            break
                        syms = _merge_once(syms, left, right)
                    out.extend(syms)
                toks += len(out)
                # decode: symbol concatenation is invariant under
                # merges — compare the joined strings directly (a
                # split on EOW would break on text that legitimately
                # contains the marker sequence)
                if "".join(out) != "".join(w + EOW for w in words):
                    bad += 1
            yield pd.DataFrame(
                {"n": [len(pdf)], "bad": [bad], "toks": [toks], "base": [base]}
            )

    agg = (
        docs.select("text")
        .mapInPandas(check, "n long, bad long, toks long, base long")
        .agg(
            F.sum("n").alias("n_docs"),
            F.sum("bad").alias("viol_roundtrip"),
            F.sum("toks").alias("__toks"),
            F.sum("base").alias("__base"),
        )
    )
    return agg.select(
        "n_docs",
        F.lit(len(merges)).cast("int").alias("n_merges"),
        F.lit(viol_vocab).cast("long").alias("viol_vocab"),
        "viol_roundtrip",
        (F.col("__toks") <= F.col("__base")).cast("int").alias(
            "compressed_le_base"
        ),
    )


#: ADC candidate depth of the certified two-stage configuration:
#: 10 candidates per final slot (rerank = 10 * k = 200), the ratio
#: ``tools/scale ann_scale`` certifies at 500k vectors.
_PQ_RERANK = 10 * _PQ_K


@query(
    "q_llm_knn_pq_rerank_recall",
    oracle=f"""
    WITH t AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_vectors FROM embeddings
    ), q AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_queries
        FROM embeddings WHERE vec_id < {_NQ}
    )
    SELECT t.n_vectors, q.n_queries,
           CAST(q.n_queries * LEAST({_PQ_K}, t.n_vectors - 1) AS BIGINT)
               AS n_exact_pairs,
           CAST(0 AS BIGINT) AS cand_overflow,
           CAST(1 AS INT) AS recall_ge_060
    FROM t, q
    """,
)
def q_llm_knn_pq_rerank_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall certification for the TWO-STAGE PQ serving path
    (operators/knn.py:pq_rerank_topk): ADC top-(10·k) candidates per
    query from the same build-once artifact q_llm_knn_pq serves
    (m=16, n_codes=32), exact cosine re-rank to top-20, mean recall
    over 20 query vectors against the exact top-20 as a
    driver-checkable boolean.

    Also pins the structural contract of the candidate stage:
    cand_overflow counts queries whose candidate set exceeds the
    rerank depth (must be 0 — the window cap is the stage's whole
    scale guarantee: the exact re-rank touches at most 10·k raw
    vectors per query no matter the corpus size).

    Plan shape: the serving ADC scorer (``pq_scores``, one mapInPandas
    scan for all 20 queries), a rank window capped at 10·k, a
    broadcast join of the tiny candidate table back to the raw
    vectors, and a second rank window over candidate rows only.  At
    100 TB the codes scan does all the data-volume work; stage two is
    20 x 200 rows."""
    from clickhub_spark.operators.knn import pq_index, pq_scores, topk_per_query

    emb, q = _ann_queries(spark, sf_dir)
    path = pq_index(emb, _PQ_M, _PQ_CODES)
    cand = topk_per_query(
        pq_scores(spark, path, _query_vectors(q)), _PQ_RERANK, "vid"
    ).select("qid", F.col("vid").alias("vec_id"))
    # stage two: exact cosine over candidate rows only (broadcast of
    # the <= nq * rerank candidate table), then the final top-k rank
    rer = (
        emb.join(F.broadcast(cand), "vec_id")
        .join(F.broadcast(q), "qid")
        .withColumn("sim", F.expr(cosine(as_double("embedding"), "__qvec")))
    )
    ann = topk_per_query(rer, _PQ_K).select("qid", "vec_id")
    overflow = (
        cand.groupBy("qid")
        .agg(F.count(F.lit(1)).alias("__nc"))
        .agg(F.sum((F.col("__nc") > _PQ_RERANK).cast("long")).alias("__overflow"))
    )
    return _recall_row(
        emb,
        q,
        _PQ_K,
        ann,
        0.60,
        [overflow],
        [
            F.coalesce(F.col("__overflow"), F.lit(0)).alias("cand_overflow"),
            "recall_ge_060",
        ],
    )
