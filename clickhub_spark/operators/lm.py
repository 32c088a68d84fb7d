"""Corpus n-gram language model + perplexity scoring — the
CCNet-style quality-filter stage of an LLM data pipeline (documents
far from the corpus distribution score high bits-per-bigram; the
filter drops the tails).

The classic pipeline trains a KenLM n-gram model on a reference
corpus and scores candidate documents by perplexity.  Re-expressed
Spark-first, with builtin functions only (no UDFs anywhere):

- ``train_bigram_lm``: two hash aggregations (bigram and unigram
  counts — map-side combined, one shuffle each on the word keys) plus
  a 1-row vocabulary count.  Model size is bounded by the OBSERVED
  bigram vocabulary, not the corpus size, so at 100 TB the model is
  typically table-broadcastable after training (and can be persisted
  and reused — training and scoring are separate operators).
- ``score_bits``: bigram extraction is MAP-ONLY (slice + arrays_zip
  + explode — no window over token position, so no per-token
  shuffle), then one join to the model (Catalyst broadcasts it when
  small; AQE handles the rest) and a per-document average.

Probabilities use add-k smoothing: p(w|prev) = (c(prev,w) + k) /
(c(prev) + k·V).  Bigrams unseen in the model (held-out scoring)
fall back to the k/(c(prev)+kV) floor via the left join's NULL path;
a prev unseen entirely scores the uniform 1/V.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def tokens(text: F.Column | str) -> F.Column:
    """Whitespace tokens, empties dropped (map-only)."""
    col = F.col(text) if isinstance(text, str) else text
    return F.filter(F.split(col, " "), lambda x: x != "")


def _bigrams(df: DataFrame, text: str, id_col: str) -> DataFrame:
    """(id, prev, w) rows via slice+zip+explode — no window shuffle."""
    toked = df.select(
        F.col(id_col).alias("__id"), tokens(text).alias("toks")
    ).where(F.size("toks") >= 2)
    pairs = toked.select(
        "__id",
        F.explode(
            F.arrays_zip(
                F.slice(F.col("toks"), 1, F.size("toks") - 1).alias("prev"),
                F.slice(F.col("toks"), 2, F.size("toks") - 1).alias("w"),
            )
        ).alias("pair"),
    )
    return pairs.select("__id", F.col("pair.prev").alias("prev"), F.col("pair.w").alias("w"))


def train_bigram_lm(df: DataFrame, text: str, id_col: str) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Returns (bigram_counts[prev, w, cbw], unigram_counts[prev, cw],
    vocab[v]) — the three relations of the smoothed model.

    r17 (guide §2.4 — remove passes): unigram counts used to be a
    SECOND corpus scan + bigram explode + corpus-sized shuffle on
    ``prev``; they now derive from the vocab-bounded bigram table
    (``sum(cbw)`` over ``w`` ≡ the count of bigram instances per
    ``prev`` — exact integer algebra, same rows).  Nothing is cached
    here: in the inline scoring plan both model joins sit on the same
    bigram-aggregate exchange, which Spark's exchange reuse runs once,
    and ``write_lm_store`` persists the bigram table only for the span
    of its writes.  ``vocab`` keeps its own corpus scan: it counts
    distinct tokens over ALL documents, including single-token docs
    that contribute no bigram."""
    # tokens are never NULL, so this filter drops nothing; it states
    # up front the not-NULL constraints the scoring joins would
    # otherwise infer differently for each model table, which keeps
    # both tables on ONE bigram-aggregate exchange that Spark reuses
    bg = _bigrams(df, text, id_col).where(
        F.col("prev").isNotNull() & F.col("w").isNotNull()
    )
    bigram_counts = bg.groupBy("prev", "w").agg(F.count("*").alias("cbw"))
    unigram_counts = bigram_counts.groupBy("prev").agg(
        F.sum("cbw").alias("cw")
    )
    vocab = (
        df.select(F.explode(tokens(text)).alias("t"))
        .agg(F.count_distinct("t").alias("v"))
    )
    return bigram_counts, unigram_counts, vocab


def write_lm_store(
    model: tuple[DataFrame, DataFrame, DataFrame], path: str
) -> str:
    """Persist a trained bigram model (train_bigram_lm output) as three
    parquet tables under ``path`` — the train-once/score-many operating
    mode (mirrors write_minhash_store): at 100 TB the reference corpus
    is scored-against for months, so training must not rerun per batch.
    Model size is bounded by observed bigram vocabulary, so the store
    is small (typically broadcastable on read).  The bigram table is
    persisted for the span of the writes and released before return."""
    from concurrent.futures import ThreadPoolExecutor

    bigram_counts, unigram_counts, vocab = model
    # r17 (guide §2.6 — overlap independent jobs): the bigram and
    # vocab writes are independent corpus passes, so the vocab job
    # back-fills the bigram job's task tail instead of queuing behind
    # it.  The unigram write waits for the bigram write: the bigram
    # table is lazily persisted here, so that ordering makes the
    # unigram write (whose plan contains the bigram aggregate) a
    # KB-scale cached-table scan, never a corpus pass.
    # coalesce(1): the model is vocabulary-bounded ("typically
    # broadcastable"), far under one target-size output file — and the
    # persisted bigram table would otherwise write one shard per
    # cached shuffle partition (the persist boundary blocks AQE's
    # write coalescing; measured 32 files for a 46 KB table).
    bigram_counts.persist()
    try:
        with ThreadPoolExecutor(max_workers=2) as pool:
            fb = pool.submit(
                lambda: bigram_counts.coalesce(1)
                .write.mode("overwrite")
                .parquet(f"{path}/bigrams")
            )
            fv = pool.submit(
                lambda: vocab.coalesce(1)
                .write.mode("overwrite")
                .parquet(f"{path}/vocab")
            )
            fb.result()
            unigram_counts.coalesce(1).write.mode("overwrite").parquet(
                f"{path}/unigrams"
            )
            fv.result()
    finally:
        bigram_counts.unpersist()
    return path


#: the store's tables as ``write_lm_store`` writes them — declared,
#: so a read (every micro-batch of a store-scored stream) starts no
#: schema-inference job
LM_STORE_SCHEMAS = {
    "bigrams": "prev string, w string, cbw bigint",
    "unigrams": "prev string, cw bigint",
    "vocab": "v bigint",
}


def read_lm_store(spark, path: str) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Load a persisted model for score_bits — (bigram_counts,
    unigram_counts, vocab), schema-identical to train_bigram_lm."""
    return tuple(
        spark.read.schema(schema).parquet(f"{path}/{table}")
        for table, schema in LM_STORE_SCHEMAS.items()
    )


def score_against_store(
    df: DataFrame, path: str, text: str, id_col: str, k: float = 0.5
) -> DataFrame:
    """Score a (new) batch against a persisted model: touches only the
    three small model tables plus the batch itself — the corpus that
    trained the model is never re-read."""
    return score_bits(df, read_lm_store(df.sparkSession, path), text, id_col, k)


def score_bits(
    df: DataFrame,
    model: tuple[DataFrame, DataFrame, DataFrame],
    text: str,
    id_col: str,
    k: float = 0.5,
) -> DataFrame:
    """Per-document average bits per bigram, -avg(log2 p(w|prev)) —
    monotone in perplexity (ppl = 2^bits).  Columns: id_col,
    n_bigrams, bits."""
    bigram_counts, unigram_counts, vocab = model
    bg = _bigrams(df, text, id_col)
    p = (F.coalesce(F.col("cbw"), F.lit(0)) + F.lit(k)) / (
        F.coalesce(F.col("cw"), F.lit(0)) + F.lit(k) * F.col("v")
    )
    scored = (
        bg.join(bigram_counts, ["prev", "w"], "left")
        .join(unigram_counts, ["prev"], "left")
        .crossJoin(F.broadcast(vocab))
        .select("__id", (-F.log2(p)).alias("bits"))
    )
    return scored.groupBy(F.col("__id").alias(id_col)).agg(
        F.count("*").alias("n_bigrams"), F.avg("bits").alias("bits")
    )


def build_vocab(
    df: DataFrame, text: str, max_size: int = 1000, min_count: int = 1
) -> DataFrame:
    """Corpus vocabulary for tokenizer prep: top-``max_size`` tokens by
    frequency (count DESC, token ASC — deterministic ties), minimum
    count ``min_count``.  Returns (t, c).  One hash agg on the token
    key (map-side combined), then TakeOrdered for the cutoff — no
    global-window rank, so the selection is a top-k, not a sort, at
    any corpus size; the result is vocabulary-bounded and
    broadcastable."""
    counts = (
        df.select(F.explode(tokens(text)).alias("t"))
        .groupBy("t")
        .agg(F.count("*").alias("c"))
        .where(F.col("c") >= min_count)
    )
    return counts.orderBy(F.col("c").desc(), F.col("t").asc()).limit(max_size)


def oov_stats(df: DataFrame, vocab: DataFrame, text: str, id_col: str) -> DataFrame:
    """Per-document out-of-vocabulary stats against a built vocab:
    (doc_id, n_tokens, n_oov).  The vocab is broadcast (it is top-k
    bounded by construction), so the token→vocab probe is map-only;
    the only shuffle is the final per-document aggregation — the
    coverage / OOV-rate filter stage a tokenizer-bound pipeline runs
    before committing to a vocab size."""
    toks = df.select(F.col(id_col).alias("doc_id"), F.explode(tokens(text)).alias("t"))
    probe = toks.join(
        F.broadcast(vocab.select("t", F.lit(1).alias("__in"))), "t", "left"
    )
    return probe.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.sum(F.when(F.col("__in").isNull(), 1).otherwise(0)).alias("n_oov"),
    )
