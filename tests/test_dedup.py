"""ReplacingMergeTree FINAL semantics (SURVEY §2.E1) + LLM dedup ops
(§2.J4-J5), on hand-built duplicate-key fixtures mirroring the
reference's dedup contract (reference README.md:133-134)."""

from datetime import datetime

import pytest

from pyspark.sql import functions as F

from clickhub_spark.operators.dedup import (
    exact_dup_groups,
    final_view,
    jaccard_pairs,
    minhash_candidate_pairs,
    simhash,
)

from tests.conftest import SF_DIR


def _commits(spark):
    rows = [
        # (repo, hash, time, updated_at, lines) — two versions of (r1,h1,t1)
        ("r1", "h1", datetime(2023, 1, 1), datetime(2023, 1, 1, 10), 10),
        ("r1", "h1", datetime(2023, 1, 1), datetime(2023, 1, 2, 10), 99),
        ("r1", "h2", datetime(2023, 1, 2), datetime(2023, 1, 1, 10), 20),
        ("r2", "h1", datetime(2023, 1, 1), datetime(2023, 1, 1, 10), 30),
    ]
    return spark.createDataFrame(
        rows, "repo_name string, hash string, time timestamp, updated_at timestamp, lines long"
    )


def test_final_view_keeps_latest_version(spark):
    df = _commits(spark)
    out = final_view(df, keys=["repo_name", "time", "hash"], version=["updated_at"])
    got = {(r.repo_name, r.hash): r.lines for r in out.collect()}
    assert got[("r1", "h1")] == 99  # latest updated_at wins
    assert got[("r1", "h2")] == 20
    assert got[("r2", "h1")] == 30
    assert out.count() == 3


def test_final_view_idempotent_reimport(spark):
    """Re-importing the same increment then reading FINAL dedups —
    the reference's append + ReplacingMergeTree pattern
    (repo/importer.py:95,107 + README.md:133)."""
    df = _commits(spark)
    doubled = df.unionByName(df)
    out = final_view(doubled, keys=["repo_name", "time", "hash"], version=["updated_at"])
    assert out.count() == 3


def _stored_commits(spark, tmp_path):
    path = str(tmp_path / "commits")
    _commits(spark).write.parquet(path)
    return spark.read.parquet(path)


def test_final_view_key_predicate_reaches_scan(spark, tmp_path):
    """A key predicate on the FINAL view is pushed through the dedup
    aggregate into the parquet scan (the app's point read by
    repo_name), leaving no filter above the aggregate."""
    view = final_view(
        _stored_commits(spark, tmp_path),
        keys=["repo_name", "time", "hash"],
        version=["updated_at"],
    )
    point = view.where(F.col("repo_name") == "r1")
    plan = point._jdf.queryExecution().executedPlan().toString()
    lines = plan.splitlines()
    scan = next(ln for ln in lines if "FileScan parquet" in ln)
    assert "EqualTo(repo_name,r1)" in scan, scan
    first_agg = next(i for i, ln in enumerate(lines) if "Aggregate(" in ln)
    assert not any("Filter" in ln for ln in lines[:first_agg]), plan
    assert {(r.hash, r.lines) for r in point.collect()} == {("h1", 99), ("h2", 20)}


def test_final_view_key_only_projection_drops_max_by(spark, tmp_path):
    """Reading only key columns (the app's count(repo_name) and
    max(time) reads) plans a distinct over the keys, without max_by."""
    view = final_view(
        _stored_commits(spark, tmp_path),
        keys=["repo_name", "time", "hash"],
        version=["updated_at"],
    )
    counted = view.where(F.col("repo_name") == "r1").agg(F.count("repo_name").alias("n"))
    plan = counted._jdf.queryExecution().executedPlan().toString()
    assert "max_by" not in plan, plan
    assert counted.first().n == 2


def test_exact_dup_groups(spark):
    docs = spark.createDataFrame(
        [(1, "aaa"), (2, "bbb"), (3, "aaa")], "doc_id long, text string"
    )
    out = {r.canonical_id: r.n_dups for r in exact_dup_groups(docs, "text", "doc_id").collect()}
    assert out == {1: 2, 2: 1}


def test_jaccard_identical_docs_score_one(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "completely different words entirely here now"),
        ],
        "doc_id long, text string",
    )
    pairs = {(r.id_a, r.id_b): r.jaccard for r in
             jaccard_pairs(docs, "text", "doc_id", k=3, threshold=0.5).collect()}
    assert pairs == {(1, 2): 1.0}


def test_jaccard_stop_shingle_cap_bounds_viral_pairs(spark):
    """One boilerplate shingle shared by every doc must not produce
    O(n²) pairs when it exceeds max_doc_freq: the docs below share
    ONLY the viral shingle, so with the cap they yield zero pairs,
    while the uncapped run yields all 45."""
    docs = spark.createDataFrame(
        [(i, f"viral boiler plate u{i}a u{i}b u{i}c") for i in range(10)],
        "doc_id long, text string",
    )
    capped = jaccard_pairs(docs, "text", "doc_id", k=3, threshold=0.0, max_doc_freq=5)
    assert capped.count() == 0
    uncapped = jaccard_pairs(docs, "text", "doc_id", k=3, threshold=0.0, max_doc_freq=None)
    assert uncapped.count() == 45


def test_jaccard_cap_above_max_freq_is_exact(spark):
    """A cap larger than any shingle's doc frequency changes nothing."""
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog"),
            (2, "the quick brown fox jumps over the lazy dog"),
            (3, "completely different words entirely here now"),
        ],
        "doc_id long, text string",
    )
    pairs = {(r.id_a, r.id_b): r.jaccard for r in
             jaccard_pairs(docs, "text", "doc_id", k=3, threshold=0.5,
                           max_doc_freq=1000).collect()}
    assert pairs == {(1, 2): 1.0}


def test_minhash_finds_exact_dups_and_skips_disjoint(spark):
    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "the quick brown fox jumps over the lazy dog today"),
            (3, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
        ],
        "doc_id long, text string",
    )
    pairs = {(r.id_a, r.id_b) for r in
             minhash_candidate_pairs(docs, "text", "doc_id").collect()}
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_simhash_identical_text_identical_hash(spark):
    docs = spark.createDataFrame(
        [(1, "spark window merge join"), (2, "spark window merge join"),
         (3, "utterly different content stream")],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.simhash for r in simhash(docs, "text", "doc_id").collect()}
    assert got[1] == got[2]
    assert got[1] != got[3]


def test_simhash_md5_matches_pure_python(spark):
    """The md5-basis SimHash must equal an independent pure-Python
    computation of the same definition (bit b = bit b%4 of hex nibble
    b//4) — the engine-portability property its DuckDB oracle relies
    on — and agree on identical-text collision like the xxhash form."""
    import hashlib

    from clickhub_spark.operators.dedup import simhash_md5

    texts = {1: "spark window merge join", 2: "spark window merge join",
             3: "utterly different content stream"}

    def expect(text: str) -> int:
        votes = [0] * 32
        for w in text.split(" "):
            if not w:
                continue
            hx = hashlib.md5(w.encode()).hexdigest()
            for b in range(32):
                nib = int(hx[b // 4], 16)
                votes[b] += 1 if (nib >> (b % 4)) & 1 else -1
        return sum(1 << b for b in range(32) if votes[b] > 0)

    docs = spark.createDataFrame(list(texts.items()), "doc_id long, text string")
    got = {r.doc_id: r.simhash_md5
           for r in simhash_md5(docs, "text", "doc_id").collect()}
    assert got == {i: expect(t) for i, t in texts.items()}
    assert got[1] == got[2] != got[3]


def test_approx_distinct_bounded_error(spark):
    from clickhub_spark.catalog import load

    li = load(spark, SF_DIR, "lineitem")
    exact = li.select(F.countDistinct("l_partkey").alias("n")).first().n
    approx = li.select(F.approx_count_distinct("l_partkey", 0.01).alias("n")).first().n
    assert abs(approx - exact) / exact < 0.05


def test_connected_components_shapes(spark):
    """Chain, clique, and isolated pair must resolve to min-id
    components regardless of propagation order."""
    from clickhub_spark.operators.components import connected_components, dedup_groups

    pairs = spark.createDataFrame(
        # chain 1-2-3-4, pair 10-11, triangle 20-21-22
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21), (21, 22), (20, 22)],
        "id_a long, id_b long",
    )
    cc = {r.node: r.comp for r in connected_components(pairs).collect()}
    assert cc == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20, 22: 20}
    groups = {r.component: (r.n_members, r.canonical_id)
              for r in dedup_groups(pairs).collect()}
    assert groups == {1: (4, 1), 10: (2, 10), 20: (3, 20)}


def test_connected_components_long_chain_converges_logarithmically(spark):
    """Adaptive pointer doubling: an 80-edge path must converge within
    12 rounds (plain propagation needs 80 — it would blow the max_iter
    guard), and every node must still land on the chain's min id."""
    from clickhub_spark.operators.components import connected_components

    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(80)], "id_a long, id_b long"
    )
    cc = {r.node: r.comp for r in connected_components(pairs, max_iter=12).collect()}
    assert cc == {i: 0 for i in range(81)}


def test_incremental_pairs_match_full_run_and_reuse_store(spark, tmp_path):
    """Incremental dedup (new batch vs prebuilt signature store) must
    equal the from-scratch LSH restricted to pairs involving the new
    batch, without rebuilding the store."""
    import os

    from clickhub_spark.operators.dedup import (
        incremental_candidate_pairs,
        minhash_candidate_pairs_md5,
        write_minhash_store,
    )

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "alpha beta gamma delta epsilon zeta eta theta iota"),
            (10, "the quick brown fox jumps over the lazy dog today"),  # dup of 1
            (20, "alpha beta gamma delta epsilon zeta eta theta iota"),  # dup of 2
            (30, "alpha beta gamma delta epsilon zeta eta theta iota"),  # dup of 2+20
        ],
        "doc_id long, text string",
    )
    corpus = docs.where("doc_id < 10")
    new = docs.where("doc_id >= 10")
    store = str(tmp_path / "store")
    write_minhash_store(corpus, "text", "doc_id", store)
    built_at = os.path.getmtime(store)

    inc = {(r.id_a, r.id_b) for r in
           incremental_candidate_pairs(new, store, "text", "doc_id").collect()}
    full = {(r.id_a, r.id_b) for r in
            minhash_candidate_pairs_md5(docs, "text", "doc_id").collect()}
    expected = {p for p in full if p[0] >= 10 or p[1] >= 10}
    assert inc == expected
    assert (1, 10) in inc and (20, 30) in inc  # cross-store and within-batch
    assert os.path.getmtime(store) == built_at  # store untouched


def test_chunk_documents_boundaries(spark):
    """Chunk windows: full chunks at stride, a tail only when it adds
    tokens beyond the overlap, single short doc = one chunk."""
    from clickhub_spark.operators.textops import chunk_documents

    docs = spark.createDataFrame(
        [
            (1, " ".join(f"w{i}" for i in range(10))),   # 10 tokens: 1 chunk
            (2, " ".join(f"w{i}" for i in range(12))),   # 12: starts 0,8 → 8+2<12 keep
            (3, " ".join(f"w{i}" for i in range(11))),   # 11: start 8 → 8+2<11 keep
            (4, " ".join(f"w{i}" for i in range(9))),    # 9: start 8 → 8+2=10 ≥ 9 drop
        ],
        "doc_id long, text string",
    )
    got = {
        (r.doc_id, r.chunk_start): r.n_chunk_tokens
        for r in chunk_documents(docs, "text", "doc_id", chunk_tokens=10, overlap=2).collect()
    }
    assert got == {
        (1, 0): 10,
        (2, 0): 10, (2, 8): 4,
        (3, 0): 10, (3, 8): 3,
        (4, 0): 9,
    }


def test_substring_dup_spans_positions_and_lengths(spark):
    """A known 14-token verbatim run shared at different offsets must
    be reported with exact start positions and length; disjoint docs
    and short overlaps must not."""
    from clickhub_spark.operators.dedup import substring_dup_spans

    run = " ".join(f"s{i}" for i in range(14))  # the shared substring
    docs = spark.createDataFrame(
        [
            (1, f"a1 a2 a3 {run} z1 z2"),            # run at pos 3
            (2, f"b1 {run} y1 y2 y3 y4"),            # run at pos 1
            (3, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10 c11 c12 c13 c14 c15"),  # disjoint
        ],
        "doc_id long, text string",
    )
    got = {(r.id_a, r.id_b): (r.a_start, r.b_start, r.span_len) for r in
           substring_dup_spans(docs, "text", "doc_id", k=8, min_len=12).collect()}
    assert got == {(1, 2): (3, 1, 14)}


def test_substring_cap_is_document_frequency_not_occurrences(spark):
    """max_doc_freq counts DISTINCT documents per gram: one document
    repeating a gram many times must not evict that gram corpus-wide
    (an occurrence-count cap would, killing a legitimate cross-doc
    span), while a gram spread over more than max_doc_freq documents
    must be dropped."""
    from clickhub_spark.operators.dedup import substring_dup_spans

    run = " ".join(f"s{i}" for i in range(14))
    # doc 1 additionally repeats the run's FIRST 8-gram (s0..s7) four
    # more times: 6 total occurrences across 2 docs.  An occurrence cap
    # of 3 would drop that gram and shrink the reported span to 13
    # starting at gram 1; the document-frequency cap (df=2 ≤ 3) keeps
    # the full 14-token span.
    echo = " ".join(["x"] + [" ".join(f"s{i}" for i in range(8))] * 4)
    rows = [(1, f"{run} {echo}"), (2, f"pfx {run}")]
    # 4 docs all sharing one viral 8-gram → df=4 > cap=3 → dropped
    viral = "v1 v2 v3 v4 v5 v6 v7 v8"
    rows += [(10 + i, f"u{i}a u{i}b u{i}c u{i}d {viral}") for i in range(4)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        (r.id_a, r.id_b): (r.a_start, r.b_start, r.span_len)
        for r in substring_dup_spans(
            docs, "text", "doc_id", k=8, min_len=12, max_doc_freq=3
        ).collect()
    }
    # the full run survives doc 1's self-repetition; no viral-gram pairs
    assert got == {(1, 2): (0, 1, 14)}


def test_substring_identical_docs_full_span(spark):
    """Two identical n-token docs must yield exactly one maximal span
    of length n starting at 0/0."""
    from clickhub_spark.operators.dedup import substring_dup_spans

    text = " ".join(f"t{i}" for i in range(30))
    docs = spark.createDataFrame([(1, text), (2, text)], "doc_id long, text string")
    rows = substring_dup_spans(docs, "text", "doc_id", k=8, min_len=12).collect()
    assert [(r.id_a, r.id_b, r.a_start, r.b_start, r.span_len) for r in rows] == [
        (1, 2, 0, 0, 30)
    ]


def test_semantic_dedup_properties(spark):
    """SemDeDup invariants on synthetic vectors: every dropped row is
    condemned by a LOWER-id same-cluster neighbor above threshold, and
    tightening the threshold can only drop fewer vectors."""
    from clickhub_spark.catalog import load
    from clickhub_spark.operators.dedup import semantic_dedup

    emb = load(spark, SF_DIR, "embeddings")
    dropped = semantic_dedup(emb, threshold=0.35).collect()
    assert dropped, "threshold 0.35 must drop at least one synthetic vector"
    for r in dropped:
        assert r.keeper < r.vec_id
        assert r.max_sim > 0.35
    tighter = semantic_dedup(emb, threshold=0.45).collect()
    assert len(tighter) < len(dropped)
    assert {r.vec_id for r in tighter} <= {r.vec_id for r in dropped}


def test_nearest_centroid_tiers_agree(spark):
    """The literal-inline and Arrow-matmul assignment tiers must give
    identical clusters and sims equal to ~1e-9 on the synthetic
    corpus (BLAS reassociation may move the last ulp)."""
    from pyspark.sql import functions as F

    from clickhub_spark.catalog import load
    from clickhub_spark.functions.vectors import (
        as_double,
        nearest_centroid,
        nearest_centroid_vectorized,
    )

    emb = load(spark, SF_DIR, "embeddings").select(
        "vec_id", F.expr(as_double("embedding")).alias("v")
    )
    cent = [
        (r["vec_id"], r["v"])
        for r in sorted(
            emb.where(F.col("vec_id") < 8).collect(), key=lambda r: r["vec_id"]
        )
    ]
    both = emb.select(
        "vec_id",
        F.expr(nearest_centroid("v", cent)).alias("a"),
        nearest_centroid_vectorized(F.col("v"), cent).alias("b"),
    ).collect()
    assert both
    for r in both:
        assert r.a.cluster == r.b.cluster, r.vec_id
        assert abs(r.a.sim - r.b.sim) < 1e-9, r.vec_id


def test_semantic_dedup_rejects_non_integral_ids(spark):
    # ADVICE r6: the Arrow path fixes id/keeper to int64 — a string
    # id must fail loudly up front, not at astype/schema time
    from clickhub_spark.operators.dedup import semantic_dedup

    df = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [0.0, 1.0])], "vec_id string, embedding array<double>"
    )
    with pytest.raises(TypeError, match="integral"):
        semantic_dedup(df, n_centroids=2)


def test_semantic_dedup_threshold_boundary_engines_agree(spark):
    """VERDICT r7 item 7 — the threshold-ulp watch item, adjudicated
    with a fixture pair EXACTLY on the boundary.

    The pair (3,4)/(4,3) has mathematically exact cosine 24/25 = 0.96,
    and both engines land on the IDENTICAL double: the operator's
    normalize-then-BLAS path computes 3/5·4/5 + 4/5·3/5 → 0.96, and
    DuckDB's list_cosine_similarity computes 24/(25·1) → 0.96 (IEEE
    division and parsing of '0.96' are both correctly rounded to the
    same double).  Under the strict `> threshold` contract, BOTH
    engines therefore EXCLUDE the boundary pair — membership on an
    exactly-representable boundary is engine-independent.  The 1-ulp
    caveat in the docstring remains for pairs whose cosine is NOT
    exactly representable AND lies within 1 ulp of the threshold (no
    such pair exists in any test corpus; callers comparing against a
    sequential-dot oracle should allow 1 ulp on max_sim)."""
    import duckdb

    from clickhub_spark.operators.dedup import semantic_dedup

    rows = [
        (0, [3.0, 4.0]),   # centroid (n_centroids=1): one cell
        (1, [4.0, 3.0]),   # cos(0,1) = 24/25 = 0.96 EXACTLY — boundary
        (2, [6.0, 8.0]),   # cos(0,2) = 1.0 — strictly above, dropped
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = sorted(
        (r.vec_id, r.keeper, r.max_sim)
        for r in semantic_dedup(emb, n_centroids=1, threshold=0.96).collect()
    )
    # id 1 survives (0.96 is NOT > 0.96); id 2 is condemned by id 0
    assert got == [(2, 0, 1.0)]

    # the oracle restatement agrees row-for-row post 4-dp rounding
    con = duckdb.connect()
    oracle = con.execute(
        """
        WITH v(vec_id, emb) AS (VALUES
            (0, [3.0, 4.0]::DOUBLE[]),
            (1, [4.0, 3.0]::DOUBLE[]),
            (2, [6.0, 8.0]::DOUBLE[])),
        pairs AS (
            SELECT b.vec_id, a.vec_id AS keeper_cand,
                   list_cosine_similarity(a.emb, b.emb) AS sim
            FROM v a JOIN v b ON a.vec_id < b.vec_id
            WHERE list_cosine_similarity(a.emb, b.emb) > 0.96
        )
        SELECT vec_id, MIN(keeper_cand) AS keeper,
               ROUND(MAX(sim), 4) AS max_sim
        FROM pairs GROUP BY vec_id ORDER BY vec_id
        """
    ).fetchall()
    assert [(r[0], r[1], r[2]) for r in oracle] == got

    # and the boundary doubles themselves are bit-identical
    import numpy as np

    x = np.array([[3.0, 4.0], [4.0, 3.0]])
    x = x / np.linalg.norm(x, axis=1, keepdims=True)
    blas = (x @ x.T)[0, 1]
    dd = con.execute(
        "SELECT list_cosine_similarity([3.0,4.0]::DOUBLE[], [4.0,3.0]::DOUBLE[])"
    ).fetchone()[0]
    assert blas == dd == 0.96
