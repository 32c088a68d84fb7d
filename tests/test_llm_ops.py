"""LLM-pipeline query value checks that don't fit the DuckDB oracle
harness — e.g. re-assembling the exploded centroid rows back into the
vector shape a downstream consumer (IVF coarse quantizer) would use."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from clickhub_spark.plans import all_specs

from tests.conftest import SF_DIR, cached_entries, final_plan, spark_jobs


def test_embed_centroid_assembles_to_correct_vectors(spark):
    """q_llm_embed_centroid emits driver-hashable (label, pos, v) rows;
    the assembled per-label vector must equal the numpy mean of that
    label's embeddings (rounded as the query rounds)."""
    pv = all_specs()["q_llm_embed_centroid"].builder(spark, SF_DIR)
    assembled = (
        pv.groupBy("label")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "v"))), lambda s: s.v
            ).alias("centroid")
        )
        .collect()
    )
    got = {r.label: np.array(r.centroid) for r in assembled}
    emb = (
        spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
        .select("label", "embedding")
        .toPandas()
    )
    for label, grp in emb.groupby("label"):
        expect = np.round(np.stack(grp["embedding"].values).mean(axis=0), 4)
        assert label in got and got[label].shape == (64,)
        assert np.allclose(got[label], expect, atol=1e-9), label


def test_int8_quantization_preserves_similarity(spark):
    """quantize_int8/dequantize_int8: reconstruction cosine ≥ 0.999
    per vector, codes within int8, zero vector safe."""
    from clickhub_spark.functions.vectors import (
        as_double,
        cosine,
        dequantize_int8,
        maxabs,
        quantize_int8,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet").limit(200)
    v = as_double("embedding")
    out = emb.select(
        F.col("vec_id"),
        F.expr(quantize_int8(v)).alias("q"),
        F.expr(maxabs(v)).alias("scale"),
        F.expr(f"round({cosine(v, dequantize_int8(quantize_int8(v), maxabs(v)))}, 5)").alias("c"),
    )
    rows = out.collect()
    assert all(r.c >= 0.999 for r in rows)
    assert all(-127 <= code <= 127 for r in rows for code in r.q)
    zero = spark.createDataFrame([([0.0] * 4,)], "embedding array<double>")
    zq = zero.select(F.expr(quantize_int8("embedding")).alias("q")).first().q
    assert zq == [0, 0, 0, 0]


def test_mixture_sample_realized_rates(spark):
    """Realized per-group keep fractions must track the target weights
    (md5 prefix is uniform; tolerance covers small-group variance)."""
    from clickhub_spark.operators.textops import mixture_sample

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    rates = {"en": 1.0, "de": 0.5, "fr": 0.25}
    sampled = mixture_sample(docs, rates, group_col="lang", key_col="doc_id",
                             default_rate=0.0)
    before = {r.lang: r.n for r in docs.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    after = {r.lang: r.n for r in sampled.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert after.get("en") == before["en"]          # rate 1.0 keeps all
    assert set(after) <= set(rates)                  # default 0 drops others
    for lang, rate in [("de", 0.5), ("fr", 0.25)]:
        realized = after.get(lang, 0) / before[lang]
        assert abs(realized - rate) < 0.2, (lang, realized)
    # determinism: same input → identical sample
    again = {r.doc_id for r in sampled.select("doc_id").collect()}
    assert again == {r.doc_id for r in mixture_sample(
        docs, rates, group_col="lang", key_col="doc_id", default_rate=0.0
    ).select("doc_id").collect()}


def test_lm_heldout_scoring_uses_smoothing_floor(spark):
    """Bigrams absent from the model must score the k/(cw+kV) floor
    via the left join's NULL path, and a wholly-unseen prev the
    uniform 1/V — not NULL/error (operators/lm.py)."""
    import math

    from clickhub_spark.operators.lm import score_bits, train_bigram_lm

    train = spark.createDataFrame(
        [(1, "a b a b"), (2, "a b c")], "id long, text string"
    )
    model = train_bigram_lm(train, "text", "id")
    # "c a": prev=c seen once (c->nothing? c is last token of doc2 so
    # cw(c)=0 rows -> unseen prev), "a x": prev seen, bigram unseen
    held = spark.createDataFrame([(10, "a x"), (11, "z q")], "id long, text string")
    rows = {r["id"]: r for r in score_bits(held, model, "text", "id").collect()}
    v = 3  # vocab {a, b, c}
    k = 0.5
    # a->x unseen bigram, cw(a)=3 (a->b x3): p = k/(cw + k*v)
    want_ax = -math.log2(k / (3 + k * v))
    assert abs(rows[10]["bits"] - want_ax) < 1e-9
    # z->q: prev unseen entirely: p = k/(0 + k*v) = 1/v
    want_zq = -math.log2(1.0 / v)
    assert abs(rows[11]["bits"] - want_zq) < 1e-9
    # self-scoring the training corpus: every bigram observed, finite
    self_rows = score_bits(train, model, "text", "id").collect()
    assert all(r["bits"] > 0 for r in self_rows)


def test_lm_store_write_releases_bigram_cache(spark, tmp_path):
    """write_lm_store persists the bigram table only for the span of its
    writes; afterwards the CacheManager holds no more entries than it
    did before, or a long-running Spark application would keep it."""
    from pyspark.storagelevel import StorageLevel

    from clickhub_spark.operators.lm import train_bigram_lm, write_lm_store

    train = spark.createDataFrame(
        [(1, "a b a b c"), (2, "a b c d")], "id long, text string"
    )
    before = cached_entries(spark)
    model = train_bigram_lm(train, "text", "id")
    write_lm_store(model, str(tmp_path / "lm"))
    assert model[0].storageLevel == StorageLevel.NONE
    assert cached_entries(spark) == before


@pytest.mark.parametrize(
    "name",
    [
        "q_agg_topk_sketch",
        "q_agg_topk_weighted",
        "q_agg_topk_bounds",
        "q_llm_perplexity",
        "q_llm_perplexity_store",
    ],
)
def test_query_leaves_no_cached_table(spark, name):
    """Building and collecting a registered query leaves the
    CacheManager with exactly the entries it had before: nothing
    unpersists a builder's cache once its DataFrame is returned."""
    before = cached_entries(spark)
    all_specs()[name].builder(spark, SF_DIR).collect()
    assert cached_entries(spark) == before


def test_inline_perplexity_trains_bigrams_once(spark):
    """Both model joins of the inline q_llm_perplexity plan read ONE
    bigram aggregate: with nothing cached to share it, the executed
    plan reuses its exchange instead of re-running the corpus pass."""
    df = all_specs()["q_llm_perplexity"].builder(spark, SF_DIR)
    df.collect()
    assert "ReusedExchange" in final_plan(df)


def test_lm_store_reuse_equals_inline_training(spark, tmp_path):
    """write_lm_store → score_against_store must reproduce inline
    score_bits exactly (train-once/score-many contract), and scoring a
    NEW batch against the store must only read the three model tables
    — the training corpus is never re-scanned."""
    from clickhub_spark.operators.lm import (
        score_against_store,
        score_bits,
        train_bigram_lm,
        write_lm_store,
    )

    train = spark.createDataFrame(
        [(1, "a b a b c"), (2, "a b c d"), (3, "x y x y")],
        "id long, text string",
    )
    model = train_bigram_lm(train, "text", "id")
    path = write_lm_store(model, str(tmp_path / "lm"))

    inline = {(r["id"], r["n_bigrams"], round(r["bits"], 10))
              for r in score_bits(train, model, "text", "id").collect()}
    stored = {(r["id"], r["n_bigrams"], round(r["bits"], 10))
              for r in score_against_store(train, path, "text", "id").collect()}
    assert inline == stored

    # new batch: inputFiles of the scoring plan = model store only
    held = spark.createDataFrame([(10, "a b x")], "id long, text string")
    scored = score_against_store(held, path, "text", "id")
    files = set(scored.inputFiles())
    assert files and all("/lm/" in f for f in files)
    assert scored.count() == 1


def test_lm_store_reads_under_declared_schemas(spark, tmp_path):
    """read_lm_store reads the three store tables under declared
    schemas — equal to what inference returns from a store that
    write_lm_store wrote — so a read starts no Spark job."""
    from clickhub_spark.operators.lm import (
        LM_STORE_SCHEMAS,
        read_lm_store,
        train_bigram_lm,
        write_lm_store,
    )

    train = spark.createDataFrame(
        [(1, "a b a b c"), (2, "a b c d")], "id long, text string"
    )
    path = write_lm_store(train_bigram_lm(train, "text", "id"), str(tmp_path / "lm"))
    tables, jobs = spark_jobs(spark, lambda: read_lm_store(spark, path))
    assert jobs == 0
    for table, df in zip(LM_STORE_SCHEMAS, tables):
        assert df.schema == spark.read.parquet(f"{path}/{table}").schema, table
    assert tables[0].count() > 0


def test_vocab_build_and_oov_stats(spark):
    """Top-k vocab with deterministic ties (count DESC, token ASC) and
    per-doc OOV stats via the broadcast probe."""
    from clickhub_spark.operators.lm import build_vocab, oov_stats

    df = spark.createDataFrame(
        [(1, "a a a b b c"), (2, "a b x y"), (3, "z z q")],
        "id long, text string",
    )
    vocab = build_vocab(df, "text", max_size=3)
    # counts: a=4, b=3, z=2, then c/x/y/q at 1 — top-3 cuts before ties
    assert [(r["t"], r["c"]) for r in vocab.collect()] == [
        ("a", 4), ("b", 3), ("z", 2)
    ]
    stats = {r["doc_id"]: (r["n_tokens"], r["n_oov"])
             for r in oov_stats(df, vocab, "text", "id").collect()}
    assert stats == {1: (6, 1), 2: (4, 2), 3: (3, 1)}
    # min_count prunes the long tail before the top-k
    assert build_vocab(df, "text", max_size=10, min_count=2).count() == 3


def test_deterministic_shuffle_is_seeded_and_uniform(spark, tmp_path):
    """Same seed → identical permutation; different seed → different
    order; the sharded write round-trips to a complete, duplicate-free
    corpus in shuffled order."""
    from clickhub_spark.operators.textops import deterministic_shuffle

    df = spark.range(200).withColumnRenamed("id", "doc_id")
    a = deterministic_shuffle(df, "doc_id", seed="s1")
    b = deterministic_shuffle(df, "doc_id", seed="s1")
    c = deterministic_shuffle(df, "doc_id", seed="s2")
    order = lambda frame: [r["doc_id"] for r in frame.orderBy("shard", "pos_key").collect()]
    assert order(a) == order(b)
    assert order(a) != order(c)
    assert order(a) != list(range(200))  # actually permuted
    # shard prefix is consistent with pos_key (range-partition safe)
    assert all(r["pos_key"].startswith(r["shard"]) for r in a.collect())
    # sharded sorted write = the shuffled dataset, complete and unique
    out = str(tmp_path / "shuffled")
    a.repartitionByRange(4, "shard", "pos_key").sortWithinPartitions(
        "shard", "pos_key"
    ).write.parquet(out)
    back = spark.read.parquet(out)
    assert back.count() == 200 and back.select("doc_id").distinct().count() == 200
    with pytest.raises(ValueError):
        deterministic_shuffle(df, "doc_id", shard_bits=6)


def test_split_corpus_stable_under_growth(spark):
    """A doc's split label never changes when the corpus grows (the
    anti-contamination property), realized fractions track targets,
    and bad fractions are rejected."""
    from clickhub_spark.operators.textops import split_corpus

    fr = {"train": 0.9, "val": 0.05, "test": 0.05}
    small = spark.range(500).withColumnRenamed("id", "doc_id")
    big = spark.range(2000).withColumnRenamed("id", "doc_id")
    s_small = {r.doc_id: r.split for r in split_corpus(small, fr, "doc_id").collect()}
    s_big = {r.doc_id: r.split for r in split_corpus(big, fr, "doc_id").collect()}
    assert all(s_big[k] == v for k, v in s_small.items())  # growth-stable
    from collections import Counter
    c = Counter(s_big.values())
    assert abs(c["train"] / 2000 - 0.9) < 0.05
    assert abs(c["val"] / 2000 - 0.05) < 0.03
    assert abs(c["test"] / 2000 - 0.05) < 0.03
    with pytest.raises(ValueError):
        split_corpus(small, {"train": 0.5, "val": 0.1}, "doc_id")
