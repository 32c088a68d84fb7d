"""Training-data text operators beyond the reference's analytics
surface — the filters a 100 TB pretraining pipeline runs between raw
crawl and tokenizer (no reference parallel; these extend SURVEY §2.J7
alongside the dedup family in operators/dedup.py).

All three are pure builtin-function plans (regexp/array/aggregate
expressions inside whole-stage codegen — no Python in the hot path):

- ``scrub_patterns``: PII redaction.  Counts and replaces a pattern
  list (emails, phone numbers, denylist terms) per document in one
  projection — a map-only operator, no shuffle, linear scan at any
  scale.
- ``contamination``: benchmark-contamination check.  Benchmark suites
  are tiny next to the corpus, so their shingle set is BROADCAST and
  the corpus never shuffles — the join cost is one scan of the corpus
  regardless of corpus size.
- ``repetition_ratio``: Gopher-style intra-document repetition score
  (duplicate k-gram fraction); one shuffle on doc id with map-side
  partial aggregation.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from clickhub_spark.operators.dedup import shingles


def scrub_patterns(
    df: DataFrame,
    text: str,
    id_col: str,
    patterns: Sequence[str],
    replacement: str = "<REDACTED>",
) -> DataFrame:
    """Redact every regex in ``patterns`` (applied in order, each seeing
    the previous pattern's output) and count total redactions.

    Returns (id, n_redactions, scrubbed).  Patterns must stay in the
    Java∩RE2 common regex subset (no backreferences/lookaround) so the
    same pattern list is portable to other engines.
    """
    t = F.col(text)
    total = F.lit(0)
    for pat in patterns:
        total = total + F.regexp_count(t, F.lit(pat))
        t = F.regexp_replace(t, pat, replacement)
    return df.select(
        F.col(id_col),
        total.cast("int").alias("n_redactions"),
        t.alias("scrubbed"),
    )


def contamination(
    df: DataFrame,
    bench: DataFrame,
    text: str,
    id_col: str,
    k: int = 3,
    min_shared: int = 2,
) -> DataFrame:
    """Corpus documents sharing ≥ ``min_shared`` distinct k-gram
    shingles with a benchmark set — the pre-training decontamination
    pass.  The benchmark shingle set is broadcast (benchmarks are
    KB-MB against a TB-PB corpus), so the corpus side never
    exchanges: scan → broadcast-hash-join → partial-aggregated count
    per document."""
    corpus_sh = shingles(df, text, id_col, k)
    bench_sh = shingles(bench, text, id_col, k).select("shingle").distinct()
    return (
        corpus_sh.join(F.broadcast(bench_sh), "shingle")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
    )


def repetition_ratio(df: DataFrame, text: str, id_col: str, k: int = 3) -> DataFrame:
    """Duplicate k-gram fraction per document (0 = no repetition) —
    the Gopher repetition filter's core signal.  Non-distinct shingles
    aggregated once per doc; rep_ratio = 1 - distinct/total."""
    sh = shingles(df, text, id_col, k, distinct=False)
    return sh.groupBy(id_col).agg(
        F.count("*").alias("n_grams"),
        F.round(
            F.lit(1.0) - F.count_distinct("shingle") / F.count("*"), 4
        ).alias("rep_ratio"),
    )


def chunk_documents(
    df: DataFrame,
    text: str,
    id_col: str,
    chunk_tokens: int = 40,
    overlap: int = 10,
) -> DataFrame:
    """Split documents into overlapping token-window chunks — the
    context-window prep step before embedding/indexing.  Stride =
    chunk_tokens - overlap; a tail start is kept only if it
    contributes tokens beyond the previous chunk's overlap (s == 0 or
    s + overlap < n).  Pure builtins (split → filtered sequence of
    starts → slice → posexplode): map-only, no shuffle, no Python —
    chunking 100 TB is a linear scan.

    Returns (id, chunk_start, n_chunk_tokens, chunk)."""
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be smaller than chunk_tokens")
    stride = chunk_tokens - overlap
    words = F.split(F.col(text), " ")
    n = F.size(words)
    starts = F.filter(
        F.sequence(F.lit(0), n - 1, F.lit(stride)),
        lambda s: (s == 0) | (s + overlap < n),
    )
    return (
        df.select(F.col(id_col), words.alias("__w"), F.explode(starts).alias("chunk_start"))
        .select(
            id_col,
            "chunk_start",
            F.slice(F.col("__w"), F.col("chunk_start") + 1, chunk_tokens).alias("__c"),
        )
        .select(
            id_col,
            "chunk_start",
            F.size("__c").alias("n_chunk_tokens"),
            F.concat_ws(" ", "__c").alias("chunk"),
        )
    )


def mixture_sample(
    df: DataFrame,
    rates: dict[str, float],
    group_col: str = "source",
    key_col: str = "doc_id",
    default_rate: float = 0.0,
) -> DataFrame:
    """Deterministic corpus-mixing sampler — the data-mixture step of
    a training pipeline (downsample over-represented sources to target
    weights).  Sampling is by md5(key) prefix against a per-group
    threshold, NOT random: repeatable across runs/engines, joinable
    across tables sampled on the same key (the ClickHouse SAMPLE
    philosophy), and map-only — no shuffle, prunable when the table is
    bucketed by the key.  ``rates`` maps group value → keep fraction
    in [0, 1]; unlisted groups keep ``default_rate``.

    The 16-bit hash prefix quantizes rates to 1/65536 steps —
    deterministic parity beats sub-basis-point rate precision here."""
    def threshold(rate: float) -> str:
        if rate >= 1.0:
            return "zzzz"  # above any hex digit → keep all
        return format(max(0, int(rate * 65536)), "04x")

    thr = F.lit(None).cast("string")
    expr = None
    for value, rate in rates.items():
        cond = F.col(group_col) == value
        expr = F.when(cond, threshold(rate)) if expr is None else expr.when(cond, threshold(rate))
    thr = expr.otherwise(threshold(default_rate)) if expr is not None else F.lit(threshold(default_rate))
    return df.where(
        F.substring(F.md5(F.col(key_col).cast("string")), 1, 4) < thr
    )


def deterministic_shuffle(
    df: DataFrame,
    key_col: str = "doc_id",
    seed: str = "0",
    shard_bits: int = 8,
) -> DataFrame:
    """Deterministic global corpus shuffle — the training-order
    permutation step of a data pipeline (decorrelate adjacent examples
    before packing into batches).  The permutation key is
    md5(key || ':' || seed): seeded, repeatable across runs and
    engines, and resumable (a given doc's position never changes for a
    fixed seed).  Emits (shard, pos_key, <row>): shard is the top
    ``shard_bits`` of the hash (kept as the hex prefix string — engine-
    portable, orders identically to the numeric value) — at 100 TB you
    ``repartitionByRange`` on (shard, pos_key) and write one sorted
    file per shard, which IS the shuffled dataset; readers stream
    shards in order and get a uniform random document order without
    ever materializing a global sort of the corpus on one node."""
    if shard_bits % 4:
        raise ValueError("shard_bits must be a multiple of 4 (hex prefix)")
    h = F.md5(F.concat(F.col(key_col).cast("string"), F.lit(":"), F.lit(seed)))
    return df.select(
        F.substring(h, 1, shard_bits // 4).alias("shard"),
        h.alias("pos_key"),
        "*",
    )


def split_corpus(
    df: DataFrame,
    fractions: dict[str, float],
    key_col: str = "doc_id",
    seed: str = "0",
) -> DataFrame:
    """Deterministic train/val/test assignment — the holdout-split step
    of a training pipeline.  Each row gets a ``split`` label by md5
    (key || ':' || seed) prefix against cumulative fraction
    boundaries: seeded, repeatable across runs and engines, map-only,
    and stable under corpus growth (a doc's split never changes when
    other docs are added — the property random split lacks, and the
    one that prevents silent train/test contamination across dataset
    versions).  ``fractions`` maps label → fraction, summing to ~1;
    boundaries quantize to 1/65536 like mixture_sample."""
    total = sum(fractions.values())
    if not 0.999 <= total <= 1.001:
        raise ValueError(f"fractions must sum to 1, got {total}")
    h = F.substring(
        F.md5(F.concat(F.col(key_col).cast("string"), F.lit(":"), F.lit(seed))), 1, 4
    )
    expr = None
    cum = 0.0
    items = list(fractions.items())
    for label, frac in items[:-1]:
        cum += frac
        bound = format(min(65535, int(cum * 65536)), "04x")
        expr = F.when(h < bound, label) if expr is None else expr.when(h < bound, label)
    last = items[-1][0]
    split = expr.otherwise(last) if expr is not None else F.lit(last)
    return df.withColumn("split", split)


def passage_dup_stats(
    df: DataFrame, text: str, id_col: str, w: int = 3, flag_frac: float = 0.5
) -> DataFrame:
    """Passage-frequency duplication profile (RefinedWeb/CCNet corpus
    curation; plans/queries_llm.q_llm_dedup_passage is the registered
    twin): split each document into non-overlapping ``w``-word
    passages, count the DISTINCT documents per passage hash, and per
    document report how many of its passages occur verbatim in some
    OTHER document.  Flags boilerplate-heavy documents that no
    single-pair comparison catches.

    Returns (id_col, n_passages, n_dup, dup_frac, flagged);
    ``dup_frac`` is FLOOR-scaled to 4 dp (engine-stable).  Documents
    with fewer than ``w`` words have NO passages and are OMITTED from
    the output (n_passages would be 0 and dup_frac undefined) — left-
    join the result back to the corpus if every id must appear.

    100 TB shape: one shuffle keyed by passage hash (map-side combine
    collapses in-partition repeats), one hash-keyed join back, one
    doc-keyed aggregate — linear in corpus passages, and the md5 key
    space cannot skew.  No pairwise stage exists anywhere.  Passage
    construction is ``dedup.shingles(stride=w)`` — the shared window
    pipeline, which also _spread-repartitions a narrow input before
    the CPU-bound explode (review r7: a one-file corpus otherwise
    builds every passage on one core).
    """
    from clickhub_spark.operators.dedup import shingles

    passages = shingles(df, text, id_col, k=w, distinct=False, stride=w)
    # r17 (guide §2.4): both consumers below need exactly (id, __ph),
    # so one repartition on the passage hash canonicalizes the two
    # branch exchanges and AQE reuses the shuffle — the corpus is
    # exploded ONCE per run (ReusedExchange + single scan verified in
    # the final AQE plan; quiet A/B best 0.98 → 0.80 s).  This is the
    # same trick that did NOT work for ngram_novelty/lttb_cert, where
    # branch-specific column pruning broke canonical equality.  The
    # shared-with-another-doc test is min(id) != max(id) — equivalent
    # to count_distinct(id) >= 2 with plain min/max partial aggregates
    # instead of the distinct expansion.
    h = passages.select(id_col, F.md5("shingle").alias("__ph")).repartition(
        "__ph"
    )
    freq = h.groupBy("__ph").agg(
        (F.min(id_col) != F.max(id_col)).alias("__dup")
    )
    agg = (
        h.join(freq, "__ph")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_passages"),
            F.sum(F.when(F.col("__dup"), 1).otherwise(0)).alias("n_dup"),
        )
    )
    frac = F.col("n_dup").cast("double") / F.col("n_passages")
    return agg.select(
        id_col,
        "n_passages",
        "n_dup",
        (F.floor(frac * 10000) / 10000).alias("dup_frac"),
        (frac >= flag_frac).alias("flagged"),
    )
