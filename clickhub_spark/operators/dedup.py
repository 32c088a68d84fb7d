"""Dedup operators.

``final_view`` is the ReplacingMergeTree FINAL read-view — the one
piece of non-standard read semantics the reference storage engine
provides that Spark lacks (reference README.md:133-134: ENGINE =
ReplacingMergeTree ORDER BY (repo_name, time, hash), version column
updated_at DateTime MATERIALIZED now(), README.md:132).  ClickHouse
applies replacement lazily at merge time; we apply it lazily at read
time, which yields the same visible semantics for any query routed
through the view.

Scale notes (100 TB): the view shuffles once on the dedup key and
its max_by aggregate collapses partials map-side (measured ~3× a
row_number window locally).  If the table is
bucketed/partitioned by the key the shuffle is avoided entirely
(Catalyst recognizes the existing distribution).  Supply enough
version columns to make the ordering total and survivors are
deterministic (ClickHouse keeps an arbitrary row on ties; we document
the fix — SURVEY §7 M4 hard part #1).

The LLM-pipeline dedup family (exact hash, MinHash-LSH, SimHash,
n-gram Jaccard) lives in plans/queries_llm.py as composed DataFrame
ops; helpers here.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def final_view(
    df: DataFrame,
    keys: Sequence[str],
    version: Sequence[str],
) -> DataFrame:
    """Latest-version-per-key view (ReplacingMergeTree FINAL).

    ``keys``: the dedup key (the reference's ORDER BY prefix).
    ``version``: ordering columns, highest wins; supply enough columns
    to make the ordering total or the survivor among exact ties is
    arbitrary (ClickHouse keeps an arbitrary row there too).

    The view is ``groupBy(keys)`` + ``max_by(struct(non-key columns),
    struct(version))`` — a hash aggregate with map-side partial
    combine; measured ~3× faster than a row_number window at sf0.1 and
    strictly better at 100 TB (no per-key sort, partials collapse
    before the shuffle).  Struct comparison is lexicographic over the
    version columns, exactly a window's ORDER BY ... DESC.  The key
    columns come out of the grouping itself (they are constant per
    group, so the survivor is unchanged), which keeps them visible to
    Catalyst: a predicate on keys is pushed below the aggregate into
    the scan (parquet row-group statistics skip other keys' row
    groups), and a projection of keys only drops the ``max_by`` and
    plans a distinct.  When every column is a key the view is that
    distinct.  No keys (``ORDER BY tuple()``) make the whole input one
    group.  The input's column names, order and types are kept.
    """
    key_set = set(keys)
    rest = [c for c in df.columns if c not in key_set]
    if not rest:
        return df.distinct()
    latest = F.max_by(F.struct(*rest), F.struct(*[F.col(c) for c in version]))
    out = [F.col(c) if c in key_set else F.col("__r")[c].alias(c) for c in df.columns]
    grouped = df.groupBy(*keys).agg(latest.alias("__r"))
    if not keys:
        # a keyless table (ORDER BY tuple()) is one group, and a global
        # aggregate answers an empty input with one all-NULL row
        grouped = grouped.where(F.col("__r").isNotNull())
    return grouped.select(*out)


def exact_dup_groups(df: DataFrame, content: str, id_col: str) -> DataFrame:
    """Exact-duplicate groups by content hash (SURVEY §2.J4).

    Returns one row per distinct content: (content_hash, n_dups,
    canonical_id = min id).  Single shuffle on the 128-bit hash;
    at 100 TB this is the standard sha/md5 groupBy dedup pass.
    """
    return (
        df.select(F.md5(F.col(content)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.count("*").alias("n_dups"),
            F.min(id_col).alias("canonical_id"),
        )
    )


def _spread(df: DataFrame) -> DataFrame:
    """Repartition a narrow input before CPU-heavy explode work.

    Document tables often arrive as a handful of files (one partition
    each); the shingle/hash pipeline is compute-bound, so a small
    input would otherwise run on one core.  At scale inputs already
    have many partitions and this is a no-op.
    """
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, target // 2):
        return df.repartition(target)
    return df


def shingles(
    df: DataFrame,
    text: str,
    id_col: str,
    k: int = 3,
    distinct: bool = True,
    stride: int = 1,
) -> DataFrame:
    """k-word shingles per document: (id, shingle) — distinct per doc
    by default (the dedup/Jaccard form); ``distinct=False`` keeps every
    occurrence (the repetition-scoring form).  ``stride`` spaces the
    window starts: 1 (default) is the overlapping shingle form,
    ``stride=k`` yields NON-overlapping passages (the
    passage-frequency dedup form, textops.passage_dup_stats) — one
    window pipeline serves both instead of two copies (review r7).

    Built-in fns only (split → transform over indices → explode) so
    the hot path stays in whole-stage codegen — no Python UDF.  The
    word array is materialized once per row (``__words``) so the
    per-shingle slice doesn't re-split the text.
    """
    words = F.col("__words")
    n = F.size(words)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)), F.lit(stride))
    sh = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(words, i + 1, k)))
    if distinct:
        sh = F.array_distinct(sh)
    return (
        _spread(df)
        .withColumn("__words", F.split(F.col(text), " "))
        .where(n >= k)
        .select(F.col(id_col), F.explode(sh).alias("shingle"))
    )


def jaccard_pairs(
    df: DataFrame,
    text: str,
    id_col: str,
    k: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = 1000,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs via a shingle inverted index
    (SURVEY §2.J5 exact variant).

    Distributed shape: explode to (id, shingle) → self-join on shingle
    (co-occurrence counts = |A∩B|) → join per-doc shingle counts →
    jaccard = inter / (|A| + |B| - inter).

    ``max_doc_freq`` bounds the self-join at scale: a shingle present
    in d documents emits d·(d-1)/2 pairs, so one viral boilerplate
    shingle at 100 TB quadratically explodes a single join bucket.
    Shingles appearing in more than ``max_doc_freq`` documents are
    dropped from BOTH the inverted index and the per-doc size counts,
    i.e. Jaccard is computed exactly over the non-stop shingle space —
    the standard stop-shingle semantics, applied identically in the
    oracle SQL so the check stays value-exact.  The filter is a window
    count over ``shingle`` — the same shuffle key the self-join needs,
    so it adds no extra exchange.  ``None`` disables the cap.

    The filtered shingle index is consumed three times (sizes + both
    join sides); it is materialized once via an eager
    ``localCheckpoint`` whose blocks the ContextCleaner frees when the
    plan is garbage-collected — unlike ``.cache()``, repeated calls in
    a long-lived session do not accumulate executor storage.
    """
    sh = shingles(df, text, id_col, k)
    if max_doc_freq is not None:
        w = Window.partitionBy("shingle")
        sh = (
            sh.withColumn("__df", F.count("*").over(w))
            .where(F.col("__df") <= max_doc_freq)
            .drop("__df")
        )
    sh = sh.localCheckpoint(eager=True)
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    sz_a = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    sz_b = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    return (
        inter.join(sz_a, "id_a")
        .join(sz_b, "id_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter")), 4
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_signatures(
    df: DataFrame,
    text: str,
    id_col: str,
    k: int = 3,
    num_perm: int = 32,
) -> DataFrame:
    """MinHash signatures via xxhash64 with per-permutation seeds.

    MAP-ONLY form (r13): the per-doc signature is computed inside one
    projection — shingle base hashes as an ARRAY column, then
    ``array_min(transform(hs, h -> xxhash64(h, p)))`` per permutation
    — so signature computation shuffles NOTHING.  The r12 wide
    groupBy(id) form already kept the exchange at |docs| rows via
    map-side partial min; this removes even that exchange (and the
    aggregate hash map) — at 100 TB the only shuffle left on the LSH
    path is the banded bucket join.  Values are bit-identical to the
    groupBy form: min over an array equals min over the exploded
    distinct rows (duplicates never change a min).

    The shingle STRING is never materialized on this path: the base
    hash is xxhash64 over the k word values directly, and each
    permutation hashes the 8-byte base with its index as salt —
    num_perm integer hashes instead of num_perm string hashes, and no
    per-shingle concat allocation.  The md5 pipeline variants keep
    string shingles — the oracle needs an engine-portable hash basis.
    """
    words = F.col("__words")
    n = F.size(words)
    idx = F.sequence(F.lit(0), n - k)
    hs = F.transform(
        idx,
        lambda i: F.xxhash64(*[F.element_at(words, i + j + 1) for j in range(k)]),
    )
    base = (
        _spread(df)
        .withColumn("__words", F.split(F.col(text), " "))
        .where(n >= k)
        .withColumn("__hs", hs)
    )
    sig_cols = [
        F.array_min(
            F.transform(F.col("__hs"), lambda h, p=p: F.xxhash64(h, F.lit(p)))
        ).alias(f"h{p}")
        for p in range(num_perm)
    ]
    return base.select(F.col(id_col), *sig_cols)


def minhash_candidate_pairs(
    df: DataFrame,
    text: str,
    id_col: str,
    k: int = 3,
    num_perm: int = 32,
    bands: int = 8,
) -> DataFrame:
    """MinHash-LSH near-dup candidate pairs (SURVEY §2.J5).

    Hash each band of the signature (num_perm/bands columns → one
    xxhash64), explode to (id, band, band_hash), GROUP docs sharing a
    bucket, emit bucket-local pairs.  This is the 100 TB near-dup
    path: cost is O(docs × num_perm) + bucket-local pair expansion.

    r13 shape: bucket GROUPING instead of a bucket self-JOIN — the
    join form scanned the corpus and computed every signature TWICE
    (once per join branch; nothing for AQE to reuse since the small
    side broadcast), where one groupBy(band, hash) shuffles each
    (band, hash, id) triple once.  Pair expansion is a two-level
    explode (ids sorted; left index, then the tail slice), so the
    per-row intermediate is O(bucket), never the O(bucket²) pair
    array — a mega-bucket of near-identical docs streams exactly
    like the join form did, without its duplicate corpus scan.
    """
    rows_per_band = num_perm // bands
    sig = minhash_signatures(df, text, id_col, k, num_perm)
    band_hashes = F.array(
        *[
            F.xxhash64(*[F.col(f"h{b * rows_per_band + i}") for i in range(rows_per_band)])
            for b in range(bands)
        ]
    )
    banded = sig.select(
        F.col(id_col),
        F.posexplode(band_hashes).alias("band", "band_hash"),
    )
    buckets = (
        banded.groupBy("band", "band_hash")
        .agg(F.array_sort(F.collect_list(id_col)).alias("ids"))
        .where(F.size("ids") >= 2)
    )
    lefts = buckets.select(
        "ids", F.posexplode("ids").alias("__i", "id_a")
    ).where(F.col("__i") < F.size("ids") - 1)
    return (
        lefts.select(
            "id_a",
            F.explode(
                F.slice("ids", F.col("__i") + 2, F.size("ids"))
            ).alias("id_b"),
        )
        .distinct()
    )


def simhash(df: DataFrame, text: str, id_col: str, bits: int = 64) -> DataFrame:
    """64-bit SimHash per document (SURVEY §2.J5 SimHash variant).

    Majority vote per bit over xxhash64(word): explode words → explode
    bit positions → sum(sign) per (doc, bit) → assemble.  Pure builtin
    fns; one shuffle on (id, bit) then one on id.
    """
    words = (
        _spread(df)
        .select(F.col(id_col), F.explode(F.split(F.col(text), " ")).alias("w"))
        # empty tokens from irregular whitespace would cast a constant
        # 64-bit vote per gap, dragging signatures toward xxhash64('');
        # simhash_md5 already filters them — keep the two token sets
        # identical so the md5 twin stays a valid test vector
        .where(F.col("w") != "")
        .withColumn("h", F.xxhash64("w"))
    )
    bit = F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("bit")
    votes = (
        words.select(id_col, "h", bit)
        # shiftright/shiftleft take a literal in the Python DSL; the
        # per-row shift amount needs the SQL expression form.
        .withColumn("vote", F.expr("IF((shiftright(h, bit) & 1) = 1, 1, -1)"))
        .groupBy(id_col, "bit")
        .agg(F.sum("vote").alias("v"))
    )
    return votes.groupBy(id_col).agg(
        F.sum(F.expr("IF(v > 0, shiftleft(CAST(1 AS BIGINT), bit), CAST(0 AS BIGINT))")).alias(
            "simhash"
        )
    )


def simhash_md5(df: DataFrame, text: str, id_col: str, bits: int = 32) -> DataFrame:
    """SimHash with an engine-portable hash basis (SURVEY §2.J5): bit
    votes derive from md5(word) hex nibbles instead of engine-internal
    xxhash64, so the result is reproducible in any SQL engine and the
    query built on it is fully oracle-checkable (the role
    ``md5_banded_signatures`` plays for MinHash).  xxhash64 ``simhash``
    stays the production default — integer hashing beats hex-string
    slicing — and this form doubles as its cross-engine test vector.

    Bit b of a word's hash = bit (b % 4) of the nibble value of hex
    char b // 4 (1-based substring), where nibble value is the char's
    0-based position in '0123456789abcdef'.  Same shuffle shape as
    ``simhash``: one on (id, bit), one on id.
    """
    words = (
        _spread(df)
        .select(F.col(id_col), F.explode(F.split(F.col(text), " ")).alias("w"))
        .where(F.col("w") != "")
        .withColumn("hex", F.md5("w"))
    )
    bit = F.explode(F.sequence(F.lit(0), F.lit(bits - 1))).alias("bit")
    votes = (
        words.select(id_col, "hex", bit)
        # per-row shift amounts need the SQL expression form (the
        # Python DSL's shiftright takes a literal only)
        .withColumn(
            "vote",
            F.expr(
                "IF((shiftright(instr('0123456789abcdef',"
                " substring(hex, (bit div 4) + 1, 1)) - 1, bit % 4) & 1) = 1,"
                " 1, -1)"
            ),
        )
        .groupBy(id_col, "bit")
        .agg(F.sum("vote").alias("v"))
    )
    return votes.groupBy(id_col).agg(
        F.sum(
            F.expr("IF(v > 0, shiftleft(CAST(1 AS BIGINT), bit), CAST(0 AS BIGINT))")
        ).alias("simhash_md5")
    )


def md5_banded_signatures(
    df: DataFrame,
    text: str,
    id_col: str,
    k: int = 3,
    num_perm: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Banded MinHash signatures with engine-portable hashing:
    (id, band, bh) where the per-permutation hash is
    ``min(md5(shingle || ':' || p))`` — a string minimum, identical in
    any engine — so pipelines built on it are oracle-checkable, not
    just rows-only.  xxhash64 remains the production default (integer
    compares beat 32-char string compares); this form doubles as its
    cross-engine test vector."""
    rows_per_band = num_perm // bands
    sh = shingles(df, text, id_col, k)
    sig = sh.groupBy(id_col).agg(
        *[
            F.min(F.md5(F.concat(F.col("shingle"), F.lit(f":{p}")))).alias(f"h{p}")
            for p in range(num_perm)
        ]
    )
    band_hashes = F.array(
        *[
            F.md5(
                F.concat_ws(
                    "|", *[F.col(f"h{b * rows_per_band + i}") for i in range(rows_per_band)]
                )
            )
            for b in range(bands)
        ]
    )
    return sig.select(F.col(id_col), F.posexplode(band_hashes).alias("band", "bh"))


def minhash_candidate_pairs_md5(
    df: DataFrame,
    text: str,
    id_col: str,
    k: int = 3,
    num_perm: int = 16,
    bands: int = 4,
) -> DataFrame:
    """MinHash-LSH candidate pairs over the md5 banded signatures
    (see md5_banded_signatures) — the fully oracle-checked variant of
    minhash_candidate_pairs."""
    banded = md5_banded_signatures(df, text, id_col, k, num_perm, bands)
    a = banded.select(F.col(id_col).alias("id_a"), "band", "bh")
    b = banded.select(F.col(id_col).alias("id_b"), "band", "bh")
    return (
        a.join(b, ["band", "bh"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def write_minhash_store(
    df: DataFrame,
    text: str,
    id_col: str,
    path: str,
    k: int = 3,
    num_perm: int = 16,
    bands: int = 4,
) -> str:
    """One-time signature store for INCREMENTAL dedup: banded md5
    MinHash signatures of the historical corpus, written partitioned
    by band.  At 100 TB this is the operating mode that matters —
    signatures of the existing corpus are computed once at ingest,
    and each new batch only hashes itself and joins the store; the
    alternative (re-minhashing the whole corpus per batch) is
    quadratic in total ingest."""
    banded = md5_banded_signatures(df, text, id_col, k, num_perm, bands)
    # r17 (guide §6 — output file sizing): partitionBy("band") makes
    # every write task emit one file PER band it holds, so the store
    # fanned out to (write tasks × bands) small files.  Clustering by
    # band first gives one task per band value → one file per band
    # directory.  (At a scale where single-band files exceed ~1 GB,
    # add a bh hash-range to the repartition key for more files per
    # band.)
    banded.repartition("band").write.mode("overwrite").partitionBy(
        "band"
    ).parquet(path)
    return path


def incremental_candidate_pairs(
    new_docs: DataFrame,
    store_path: str,
    text: str,
    id_col: str,
    k: int = 3,
    num_perm: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Near-dup candidate pairs for a NEW batch against a prebuilt
    signature store (write_minhash_store) plus within-batch pairs.

    The new batch's banded signatures are BROADCAST against the store
    (a daily/hourly batch is tiny next to the historical corpus), so
    the store side — the big side — never shuffles; with the store
    partitioned by band the scan is also partition-local.  Pair ids
    are normalized (least, greatest) so results match a from-scratch
    run restricted to pairs involving the new batch.
    """
    spark = new_docs.sparkSession
    nb = md5_banded_signatures(new_docs, text, id_col, k, num_perm, bands)
    nb = nb.select(F.col(id_col).alias("__nid"), "band", "bh").localCheckpoint(
        eager=True
    )
    store = spark.read.parquet(store_path).select(
        F.col(id_col).alias("__sid"), "band", "bh"
    )
    vs_store = store.join(F.broadcast(nb), ["band", "bh"]).select(
        F.least("__nid", "__sid").alias("id_a"),
        F.greatest("__nid", "__sid").alias("id_b"),
    )
    a = nb.select(F.col("__nid").alias("id_a"), "band", "bh")
    b = nb.select(F.col("__nid").alias("id_b"), "band", "bh")
    vs_new = (
        a.join(b, ["band", "bh"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
    )
    return vs_store.unionByName(vs_new).distinct()


def substring_dup_spans(
    df: DataFrame,
    text: str,
    id_col: str,
    k: int = 8,
    min_len: int = 12,
    max_doc_freq: int = 1000,
) -> DataFrame:
    """Cross-document EXACT substring duplication — the suffix-array
    dedup family (long verbatim overlaps that MinHash's bag-of-
    shingles similarity underweights), distributed as k-gram DIAGONAL
    RUNS instead of a suffix array:

    explode positional k-grams → self-join on the gram → matches
    between doc a position i and doc b position j lie on diagonal
    d = i - j; a contiguous run of matches on one diagonal IS an exact
    common substring of length run + k - 1.  One shuffle on the gram,
    one aggregate on (a, b, diagonal).

    Returns (id_a, id_b, a_start, b_start, span_len) for maximal
    single-run diagonals with span_len ≥ min_len (tokens).  A diagonal
    whose matches are non-contiguous (several separate repeats) is
    conservatively skipped — each run is still reported through the
    other diagonals it creates.  ``max_doc_freq`` drops grams
    appearing in more than that many DISTINCT documents before the
    self-join (same rationale as jaccard_pairs' stop-shingle cap;
    here it needs a distinct-docs aggregate because positional grams
    repeat within one document, so a raw occurrence count would let a
    single self-repetitive document evict a gram corpus-wide).  The
    viral-gram list is tiny by construction (only grams above the
    cap), so it broadcast-anti-joins — the gram stream itself never
    shuffles twice.
    """
    words = F.col("__words")
    n = F.size(words)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    gram = F.transform(
        idx, lambda i: F.xxhash64(*[F.element_at(words, i + j + 1) for j in range(k)])
    )
    pos_grams = (
        _spread(df)
        .withColumn("__words", F.split(F.col(text), " "))
        .where(n >= k)
        .select(F.col(id_col), F.posexplode(gram).alias("pos", "g"))
    )
    if max_doc_freq is not None:
        viral = (
            pos_grams.select("g", id_col)
            .distinct()
            .groupBy("g")
            .agg(F.count("*").alias("__df"))
            .where(F.col("__df") > max_doc_freq)
            .select("g")
        )
        pos_grams = pos_grams.join(F.broadcast(viral), "g", "left_anti")
    pos_grams = pos_grams.localCheckpoint(eager=True)
    a = pos_grams.select(F.col(id_col).alias("id_a"), F.col("pos").alias("pa"), "g")
    b = pos_grams.select(F.col(id_col).alias("id_b"), F.col("pos").alias("pb"), "g")
    runs = (
        a.join(b, "g")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b", (F.col("pa") - F.col("pb")).alias("diag"))
        .agg(
            F.count("*").alias("n"),
            F.min("pa").alias("a_start"),
            F.max("pa").alias("a_end"),
        )
        # single contiguous run: every position between min and max hit
        .where(F.col("n") == F.col("a_end") - F.col("a_start") + 1)
        .withColumn("span_len", F.col("n") + F.lit(k - 1))
        .where(F.col("span_len") >= min_len)
    )
    return runs.select(
        "id_a",
        "id_b",
        "a_start",
        (F.col("a_start") - F.col("diag")).alias("b_start"),
        "span_len",
    )


def minhash_similarity_md5(
    df: DataFrame,
    text: str,
    id_col: str,
    k: int = 3,
    num_perm: int = 16,
    bands: int = 4,
) -> DataFrame:
    """Similarity ESTIMATION on LSH candidate pairs — the step between
    candidate generation and the dedup decision: for each banded-
    collision pair, the MinHash estimate (fraction of matching
    signature components) alongside the exact shingle Jaccard, so the
    keep/drop threshold can be tuned against ground truth.

    Scale shape: signatures are one hash-agg over shingles (same
    shuffle as candidate generation); the estimate itself is a
    map-side ``zip_with`` over the joined signature arrays — no extra
    shuffle beyond the pair join.  The exact Jaccard IS re-computed
    here (two joins through the shingle table), which is affordable
    precisely because it runs only on candidate pairs (LSH-pruned),
    never all pairs — at 100 TB the candidate set is O(dups), not
    O(n²).  md5 string-min hashing keeps it engine-portable /
    oracle-checkable; swap xxhash64 in production (integer min beats
    32-char string min)."""
    rows_per_band = num_perm // bands
    sh = shingles(df, text, id_col, k)
    mins = sh.groupBy(id_col).agg(
        *[
            F.min(F.md5(F.concat(F.col("shingle"), F.lit(f":{p}")))).alias(f"h{p}")
            for p in range(num_perm)
        ]
    )
    sig = mins.select(
        F.col(id_col),
        F.array(*[F.col(f"h{p}") for p in range(num_perm)]).alias("sig"),
        F.array(
            *[
                F.md5(
                    F.concat_ws(
                        "|",
                        *[
                            F.col(f"h{b * rows_per_band + i}")
                            for i in range(rows_per_band)
                        ],
                    )
                )
                for b in range(bands)
            ]
        ).alias("bands"),
    )
    banded = sig.select(
        F.col(id_col), F.posexplode("bands").alias("band", "bh")
    )
    a = banded.select(F.col(id_col).alias("id_a"), "band", "bh")
    b = banded.select(F.col(id_col).alias("id_b"), "band", "bh")
    pairs = (
        a.join(b, ["band", "bh"])
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    sa = sig.select(F.col(id_col).alias("id_a"), F.col("sig").alias("sig_a"))
    sb = sig.select(F.col(id_col).alias("id_b"), F.col("sig").alias("sig_b"))
    est = pairs.join(sa, "id_a").join(sb, "id_b").select(
        "id_a",
        "id_b",
        F.round(
            F.aggregate(
                F.zip_with(
                    "sig_a",
                    "sig_b",
                    lambda x, y: F.when(x == y, F.lit(1.0)).otherwise(F.lit(0.0)),
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            )
            / num_perm,
            4,
        ).alias("est_sim"),
    )
    sh_a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    sh_b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        est.select("id_a", "id_b")
        .join(sh_a, "id_a")
        .join(sh_b, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_inter"))
    )
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    return (
        est.join(inter, ["id_a", "id_b"], "left")
        .join(sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a")), "id_a")
        .join(sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b")), "id_b")
        .select(
            "id_a",
            "id_b",
            "est_sim",
            F.round(
                F.coalesce(F.col("n_inter"), F.lit(0)).cast("double")
                / (F.col("n_a") + F.col("n_b") - F.coalesce(F.col("n_inter"), F.lit(0))),
                4,
            ).alias("jaccard"),
        )
    )


def semantic_dedup(
    emb: DataFrame,
    n_centroids: int | None = None,
    threshold: float = 0.35,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster embeddings around ``n_centroids``
    deterministic seeds (the first n ids — a fixed, oracle-stable
    centroid choice; production would feed k-means centroids), then
    drop any vector that has a LOWER-id neighbor in the same cluster
    with cosine above ``threshold``.  Returns the dropped rows with
    their keeper (the smallest such neighbor id) and the max
    similarity that condemned them.

    ``id_col`` must be an INTEGRAL column (validated up front): the
    deterministic centroid seed is ``id < n_centroids``, keeper choice
    is min-id, and the output schema fixes id/keeper/cluster to long
    (ADVICE r6: the Arrow path's int64 frames silently narrowed the
    previously type-agnostic form — now it's an explicit contract).
    String-keyed corpora should dense-rank ids first.

    Numeric caveat (ADVICE r6): per-cell cosines come from one BLAS
    ``X @ X.T`` whose blocked/FMA summation can differ from a
    sequential dot in the LAST ULP — a pair sitting exactly on the
    threshold or a 4-dp rounding boundary may flip relative to an
    oracle that folds sequentially.  The registered query's gates
    pass (no boundary pair exists in the test corpora); a caller
    comparing against a sequential-dot oracle should allow 1-ulp
    tolerance on max_sim.  An EXACTLY-representable boundary is safe:
    tests/test_dedup.py::test_semantic_dedup_threshold_boundary_engines_agree
    pins the cos = 24/25 pair at threshold 0.96 — both engines land
    on the identical double and agree on strict-`>` exclusion.

    ``n_centroids=None`` (the default) applies the paper's scale law
    in-operator: k = max(8, ceil(sqrt(n))).  Cells then average
    ~sqrt(n) vectors, so per-cell pairwise work is ~n total (linear,
    never quadratic) and the cluster-keyed self-join has k distinct
    key values — parallelism GROWS with the corpus instead of being
    capped by a fixed k (round-5 registered form: k pinned to 8 → at
    most 8 tasks and 20 s at a mere 2,000 vectors; auto-k=45 runs the
    same corpus ~30× faster).  sqrt/ceil are correctly-rounded IEEE
    ops, so an oracle can restate the same k from COUNT(*) exactly.

    100 TB shape: the centroids are a bounded parameter table inlined
    into the plan as literals (k rows — the IVF-centroid contract), so
    cluster assignment is a pure map-side expression with NO Exchange.
    The candidate self-join is partitioned BY
    CLUSTER — pairwise cost is bounded per cluster, and k grows with
    the corpus so clusters stay ~constant size (the paper's design:
    quadratic-inside-cell, never all-pairs).  Keeper choice is
    min-id, a deterministic variant of the paper's
    keep-closest-to-centroid."""
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    from clickhub_spark.functions.vectors import as_double

    id_type = emb.schema[id_col].dataType
    if not isinstance(id_type, (ByteType, ShortType, IntegerType, LongType)):
        raise TypeError(
            f"semantic_dedup: {id_col!r} must be an integral column "
            f"(got {id_type.simpleString()}) — centroid seeding, keeper "
            f"choice and the Arrow int64 path all key on numeric ids; "
            f"dense-rank string ids first"
        )
    base = emb.select(F.col(id_col), F.expr(as_double(vec_col)).alias("__v"))
    if n_centroids is None:
        import math

        n_centroids = max(8, math.ceil(math.sqrt(base.count())))
    # Centroids are a bounded PARAMETER table (k rows — same contract
    # as the IVF centroid collect, knn.py): inline them as literals so
    # assignment is a pure map-side expression.  The aggregate
    # alternative (explode × k then max_by) re-shuffles the corpus
    # keyed by the raw vector — a scan-sized Exchange that this form
    # deletes outright.
    from clickhub_spark.functions.vectors import (
        nearest_centroid,
        nearest_centroid_vectorized,
    )

    cent_rows = sorted(
        base.where(F.col(id_col) < n_centroids).collect(),
        key=lambda r: r[id_col],
    )
    cent = [(r[id_col], r["__v"]) for r in cent_rows]
    # Normalize ONCE per row, before assignment: cosine(a, b) =
    # dot(a/|a|, b/|b|), so centroid scoring AND each candidate pair
    # cost one array fold instead of three (dot + both norms).  At n·k
    # pairs per cell that is the dominant cost of the whole operator.
    # The norm is materialized as a column first — inlining it into
    # the transform lambda would re-fold the vector per ELEMENT,
    # O(dim²)/row (the same trap quantize_int8 documents).
    from clickhub_spark.functions.vectors import norm

    nrm = base.withColumn(
        "__n", F.nullif(F.expr(norm("__v")), F.lit(0.0))
    ).withColumn("__nv", F.transform(F.col("__v"), lambda x: x / F.col("__n")))
    # Small k inlines the (pre-normalized) centroids as literals
    # scored by zip_with dot products; larger k switches to the
    # Arrow-batched matmul tier — both map-only, unit-tested
    # equivalent.  r17: cutoff 64 → 16.  zip_with is a higher-order
    # function (CodegenFallback — interpreted per element), so the
    # literal tier costs k·dim interpreted flops per row, and the
    # k×dim array-of-arrays literal pays an F.expr parse per build;
    # at the sqrt-law k=45 (sf0.1) the matmul tier measured 0.60 s vs
    # 0.93 s exec and 1.1 s vs 5.9 s cold build, identical output.
    # k ≤ 16 (n ≤ 256 corpora) keeps the literal tier, where one
    # Arrow boundary crossing costs more than the tiny interpreted
    # fold.
    if len(cent) <= 16:
        cluster = F.expr(nearest_centroid("__nv", cent, pre_normalized=True))["cluster"]
    else:
        cluster = nearest_centroid_vectorized(F.col("__v"), cent)["cluster"]
    nrm = nrm.withColumn("cluster", cluster)
    # Per-cell pairwise scoring runs in the Arrow-matmul tier: one
    # applyInPandas group per cluster, scored with a single S = X·Xᵀ
    # BLAS call over the cell's (pre-normalized) vectors.  The round-5
    # form was a cluster-keyed self-join with a per-pair aggregate-HOF
    # dot — higher-order functions are CodegenFallback (interpreted,
    # ~ms/pair with per-pair array allocation), and AQE's small-shuffle
    # coalescing collapsed the tiny sf0.1 exchange to ONE task, so 43k
    # pairs took 100 s.  The matmul form costs cell_rows²·dim fused
    # flops per cell (~µs), transfers each vector over Arrow once
    # (never per pair), and keeps one shuffle keyed by cluster — k
    # groups, parallelism grows with the corpus.  Pair semantics are
    # identical: for each vector, condemning neighbors are the
    # LOWER-id same-cell rows with cosine > threshold; keeper = min
    # such id, max_sim = max such cosine (the join+groupBy restated
    # cell-locally).
    import numpy as np
    import pandas as pd

    thr = float(threshold)
    out_schema = f"{id_col} long, cluster long, keeper long, max_sim double"

    def _cell_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf[pdf["__nv"].notna()]
        if len(pdf) < 2:
            return pd.DataFrame(
                {id_col: [], "cluster": [], "keeper": [], "max_sim": []}
            ).astype({id_col: "int64", "cluster": "int64", "keeper": "int64"})
        pdf = pdf.sort_values("__id").reset_index(drop=True)
        ids = pdf["__id"].to_numpy()
        x = np.array(pdf["__nv"].tolist(), dtype=np.float64)
        sims = x @ x.T
        # strict upper triangle: column j's candidates are rows i < j
        cond = np.triu(sims > thr, k=1)
        hit = cond.any(axis=0)
        if not hit.any():
            return pd.DataFrame(
                {id_col: [], "cluster": [], "keeper": [], "max_sim": []}
            ).astype({id_col: "int64", "cluster": "int64", "keeper": "int64"})
        js = np.flatnonzero(hit)
        keepers = np.array([ids[np.flatnonzero(cond[:, j])[0]] for j in js])
        masked = np.where(cond, sims, -np.inf)
        max_sims = masked[:, js].max(axis=0)
        return pd.DataFrame(
            {
                id_col: ids[js],
                "cluster": np.repeat(int(pdf["cluster"].iloc[0]), len(js)),
                "keeper": keepers,
                "max_sim": np.round(max_sims, 4),
            }
        )

    cells = nrm.select(F.col(id_col).alias("__id"), "__nv", "cluster")
    return cells.groupBy("cluster").applyInPandas(_cell_pairs, out_schema)
