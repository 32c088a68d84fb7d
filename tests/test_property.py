"""Property-based tests (hypothesis) — randomized invariants the
reference's test suite lacks entirely (SURVEY §5)."""

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from clickhub_spark.operators.dedup import final_view

rows_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),  # key
        st.integers(min_value=0, max_value=100),  # version
        st.integers(min_value=-1000, max_value=1000),  # value
    ),
    min_size=1,
    max_size=30,
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=rows_strategy)
def test_final_view_invariants(spark, rows):
    """For ANY multiset of (key, version, value) rows: one row per
    distinct key; each surviving row carries that key's max version;
    the surviving value is the max value among max-version rows (the
    deterministic tie-break)."""
    df = spark.createDataFrame(rows, "k int, ver int, v int")
    out = final_view(df, keys=["k"], version=["ver", "v"]).collect()
    by_key = {}
    for k, ver, v in rows:
        by_key.setdefault(k, []).append((ver, v))
    assert len(out) == len(by_key)
    for r in out:
        assert (r.ver, r.v) == max(by_key[r.k])


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=rows_strategy)
def test_final_view_idempotent(spark, rows):
    """final_view(final_view(x)) == final_view(x) and replay-union is
    absorbed — the ReplacingMergeTree re-import contract."""
    df = spark.createDataFrame(rows, "k int, ver int, v int")
    once = final_view(df, keys=["k"], version=["ver", "v"])
    replay = final_view(
        df.unionByName(df), keys=["k"], version=["ver", "v"]
    )
    assert sorted(map(tuple, once.collect())) == sorted(map(tuple, replay.collect()))


keyed_rows_strategy = st.lists(
    st.tuples(
        st.none() | st.integers(min_value=0, max_value=2),  # k1 (nullable)
        st.none() | st.sampled_from(["a", "b"]),  # k2 (nullable)
        st.integers(min_value=0, max_value=3),  # version
        st.integers(min_value=-5, max_value=5),  # value
    ),
    min_size=1,
    max_size=30,
)


@settings(max_examples=15, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    rows=keyed_rows_strategy,
    shape=st.sampled_from(["versioned", "version_is_keys", "all_keys"]),
)
def test_final_view_agg_matches_window(spark, rows, shape):
    """For ANY rows with null and in-batch duplicate keys, final_view's
    max_by aggregate returns the same rows and schema (names, order,
    types) as the row_number window form.  Shapes: a total version order; version ==
    keys (the DDL fallback for a ReplacingMergeTree with no version
    column, where each key's rows are exact re-imports, so the
    survivor is unique); and a table whose columns are all keys."""
    keys = ["k1", "k2"]
    version = ["ver", "v"]
    if shape == "version_is_keys":
        first = {}
        rows = [first.setdefault((k1, k2), (k1, k2, ver, v)) for k1, k2, ver, v in rows]
        version = keys
    # keys sit between non-key columns, so the output must re-interleave them
    df = spark.createDataFrame(
        [(v, k1, ver, k2) for k1, k2, ver, v in rows], "v int, k1 int, ver int, k2 string"
    )
    if shape == "all_keys":
        df = df.select("k2", "k1")
        version = keys
    agg = final_view(df, keys=keys, version=version)
    # reference: the row_number window form of the same view
    w = Window.partitionBy(*keys).orderBy(*[F.desc(c) for c in version])
    win = df.withColumn("__rn", F.row_number().over(w)).where("__rn = 1").drop("__rn")
    assert [(f.name, f.dataType) for f in agg.schema] == [
        (f.name, f.dataType) for f in win.schema
    ]
    assert sorted(map(tuple, agg.collect()), key=repr) == sorted(
        map(tuple, win.collect()), key=repr
    )


texts_strategy = st.lists(
    st.lists(
        st.sampled_from(["alpha", "beta", "gamma", "delta", "epsilon"]),
        min_size=1,
        max_size=25,
    ).map(" ".join),
    min_size=1,
    max_size=8,
)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(texts=texts_strategy)
def test_chunk_documents_cover_and_reassemble(spark, texts):
    """For ANY documents: chunk starts are stride-aligned and sorted,
    every token index is covered by some chunk, and concatenating each
    chunk's non-overlap prefix tokens reassembles the document."""
    from clickhub_spark.operators.textops import chunk_documents

    chunk, overlap = 10, 3
    stride = chunk - overlap
    docs = [(i, t) for i, t in enumerate(texts)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    out = chunk_documents(df, "text", "doc_id", chunk_tokens=chunk, overlap=overlap)
    by_doc = {}
    for r in out.collect():
        by_doc.setdefault(r.doc_id, []).append((r.chunk_start, r.chunk))
    for doc_id, text in docs:
        words = text.split(" ")
        chunks = sorted(by_doc[doc_id])
        assert all(s % stride == 0 for s, _ in chunks)
        # coverage: last chunk reaches the end of the doc
        last_s, last_c = chunks[-1]
        assert last_s + len(last_c.split(" ")) == len(words)
        # reassembly: each chunk's tokens occupy [start, start+len)
        rebuilt = {}
        for s, c in chunks:
            for j, w in enumerate(c.split(" ")):
                rebuilt[s + j] = w
        assert [rebuilt[i] for i in range(len(words))] == words


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(texts=texts_strategy)
def test_jaccard_cap_never_adds_pairs(spark, texts):
    """Tightening max_doc_freq can only REMOVE candidate pairs, and an
    infinite cap equals no cap."""
    from clickhub_spark.operators.dedup import jaccard_pairs

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )

    def pairs(cap):
        return {
            (r.id_a, r.id_b)
            for r in jaccard_pairs(df, "text", "doc_id", k=2, threshold=0.0,
                                   max_doc_freq=cap).collect()
        }

    uncapped = pairs(None)
    assert pairs(10**9) == uncapped
    assert pairs(2) <= uncapped


# -- SQL-shim bracket rewriting -------------------------------------------

_sql_fragment = st.text(
    alphabet=" abc_0123456789'\\[],()`\"x>-",
    min_size=0,
    max_size=40,
)


@settings(max_examples=200, deadline=None, suppress_health_check=list(HealthCheck))
@given(s=_sql_fragment)
def test_rewrite_array_literals_structural_invariants(s):
    """For ANY input: output length only grows at '[' sites (each
    'array(' adds 5 chars), characters inside single-quoted strings
    are byte-identical, and the rewrite is idempotent on inputs with
    no brackets."""
    from clickhub_spark.sql_compat import _rewrite_array_literals

    out = _rewrite_array_literals(s)
    n_lit = out.count("array(") - s.count("array(")
    assert len(out) == len(s) + 5 * n_lit
    if "[" not in s and "]" not in s:
        assert out == s
        assert _rewrite_array_literals(out) == out


@settings(max_examples=100, deadline=None, suppress_health_check=list(HealthCheck))
@given(inner=st.text(alphabet=" abc[],\\'x", min_size=0, max_size=20))
def test_rewrite_array_literals_preserves_string_bodies(inner):
    """A single-quoted literal (with escaped quotes/backslashes made
    safe) passes through the rewriter untouched."""
    from clickhub_spark.sql_compat import _rewrite_array_literals

    body = inner.replace("\\", "\\\\").replace("'", "\\'")
    sql = f"SELECT '{body}' AS s, [1] AS a"
    out = _rewrite_array_literals(sql)
    assert f"'{body}'" in out
    assert out.endswith("array(1) AS a")


@given(st.binary(max_size=2048))
@settings(max_examples=200, deadline=None)
def test_mp3_parser_total_on_arbitrary_bytes(payload):
    # never raises; frame index tiles monotonically within bounds
    from clickhub_spark.operators.multimodal import parse_mp3_frames

    frames = parse_mp3_frames(payload)
    pos = -1
    for off, size, rate, ch, samples, kbps in frames:
        assert off > pos and size > 0 and off + size <= len(payload)
        assert rate > 0 and ch in (1, 2) and samples in (384, 576, 1152)
        pos = off


@given(st.binary(max_size=2048))
@settings(max_examples=200, deadline=None)
def test_avi_probe_total_on_arbitrary_bytes(payload):
    from clickhub_spark.operators.multimodal import probe_video

    fmt = probe_video(payload)[0]
    assert fmt in (None, "avi")


@given(
    st.lists(st.binary(min_size=1, max_size=64), min_size=1, max_size=8),
    st.integers(min_value=1, max_value=64),
    st.integers(min_value=1, max_value=64),
)
@settings(max_examples=100, deadline=None)
def test_avi_container_round_trips_any_frame_bytes(frames, w, h):
    # the container is codec-agnostic: whatever bytes go in as '00dc'
    # chunks come back byte-exact at the parsed offsets
    from clickhub_spark.operators.multimodal import encode_avi_mjpeg, parse_avi

    avi = encode_avi_mjpeg(w, h, frames, fps=7)
    info = parse_avi(avi)
    assert (info["w"], info["h"], info["n_frames"]) == (w, h, len(frames))
    for (off, size), f in zip(info["frames"], frames):
        assert avi[off : off + size] == f


@given(st.lists(st.integers(min_value=-(2**63), max_value=2**63 - 1), min_size=1, max_size=64))
@settings(max_examples=200, deadline=None)
def test_bloom_positions_in_range(hashes):
    import numpy as np

    from clickhub_spark.operators.bloom import _positions

    m_bits, k = 1 << 16, 7
    pos = _positions(np.array(hashes, dtype=np.int64), m_bits, k)
    assert pos.shape == (k, len(hashes))
    assert (pos >= 0).all() and (pos < m_bits).all()


@given(
    st.lists(st.sampled_from("abc"), min_size=0, max_size=20),
    st.sampled_from("abc"),
    st.sampled_from("abc"),
)
@settings(max_examples=300, deadline=None)
def test_bpe_merge_once_invariants(syms, left, right):
    from clickhub_spark.operators.bpe import _merge_once

    out = _merge_once(list(syms), left, right)
    # concatenation preserved
    assert "".join(out) == "".join(syms)
    # no surviving adjacent (left, right) pair
    assert not any(
        a == left and b == right for a, b in zip(out, out[1:])
    )


@given(st.binary(max_size=2048))
@settings(max_examples=200, deadline=None)
def test_jpeg_decoder_total_on_arbitrary_bytes(payload):
    # decode_jpeg must terminate and raise only dispatch-catchable
    # errors on garbage — including crafted zero-length segments (the
    # marker walk would otherwise stall) and truncated progressive
    # scans.  A valid SOI prefix steers the fuzzer into the parser.
    import struct as _struct

    from clickhub_spark.operators.jpeg import decode_jpeg

    for candidate in (payload, b"\xff\xd8" + payload):
        try:
            decode_jpeg(candidate)
        except (ValueError, IndexError, KeyError, _struct.error):
            pass


@given(st.binary(max_size=512))
@settings(max_examples=100, deadline=None)
def test_progressive_scan_bytes_fuzz(payload):
    # splice garbage into the entropy section of a real progressive
    # stream: the multi-scan decoder must stay total (terminate with
    # a catchable error or produce SOME image, never hang or segv)
    import struct as _struct

    from clickhub_spark.operators.jpeg import (
        decode_jpeg,
        encode_jpeg_progressive,
    )

    base = encode_jpeg_progressive(16, 16, 1, bytes(range(256)), quality=60)
    first_sos = base.index(b"\xff\xda")
    spliced = base[: first_sos + 12] + payload + base[-2:]
    try:
        decode_jpeg(spliced)
    except (ValueError, IndexError, KeyError, _struct.error):
        pass


changelog_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=4),   # key
        st.integers(min_value=0, max_value=50),  # seq (order)
        st.integers(min_value=0, max_value=9),   # payload
        st.sampled_from([1, -1]),                # sign
    ),
    min_size=1,
    max_size=30,
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=changelog_strategy, cut=st.integers(min_value=0, max_value=30))
def test_collapse_accumulator_merge_equals_batch(spark, rows, cut):
    """For ANY changelog and ANY batch split: merging the per-batch
    accumulators and finalizing equals the one-shot batch collapse,
    and both equal a sequential reference fold.  (Ties on (k, seq)
    among same-sign rows are excluded by deduping on those — ClickHouse
    keeps an arbitrary row there, as does max_by.)"""
    from clickhub_spark.operators.collapsing import (
        collapse_accumulate,
        collapse_final,
        collapse_finalize,
        collapse_merge,
    )

    # drop (k, seq, sign) duplicates so the surviving payload is unique
    seen, dedup = set(), []
    for r in rows:
        key = (r[0], r[1], r[3])
        if key not in seen:
            seen.add(key)
            dedup.append(r)
    rows = dedup
    cut = min(cut, len(rows))
    schema = "k int, seq int, payload int, sign int"
    whole = spark.createDataFrame(rows, schema)
    batches = [rows[:cut], rows[cut:]]

    batch = sorted(
        tuple(r)
        for r in collapse_final(whole, ["k"], "sign", ["seq"]).collect()
    )
    accs = [
        collapse_accumulate(spark.createDataFrame(b, schema), ["k"], "sign", ["seq"])
        for b in batches
        if b
    ]
    merged = accs[0]
    for a in accs[1:]:
        merged = merged.unionByName(a)
    inc = sorted(
        tuple(r)
        for r in collapse_finalize(
            collapse_merge(merged, ["k"], ["seq"])
        ).collect()
    )
    ref = sorted(
        (k, seq, payload, sign)
        for (k, seq, payload, sign) in _brute_collapse_rows(rows)
    )
    assert batch == inc == ref


def _brute_collapse_rows(rows):
    by_key = {}
    for k, seq, payload, sign in rows:
        acc = by_key.setdefault(
            k, {"net": 0, "ls": None, "fc": None, "lc": None}
        )
        acc["net"] += sign
        if sign == 1 and (acc["ls"] is None or seq > acc["ls"][0]):
            acc["ls"] = (seq, payload)
        if sign == -1 and (acc["fc"] is None or seq < acc["fc"][0]):
            acc["fc"] = (seq, payload)
        if sign == -1 and (acc["lc"] is None or seq > acc["lc"]):
            acc["lc"] = seq
    for k, acc in by_key.items():
        if acc["net"] > 0:
            yield (k, acc["ls"][0], acc["ls"][1], 1)
        elif acc["net"] < 0:
            yield (k, acc["fc"][0], acc["fc"][1], -1)
        elif acc["ls"] is not None and (
            acc["lc"] is None or acc["ls"][0] > acc["lc"]
        ):
            # engine rule: equal counts ENDING on a state keep the
            # (first cancel, last state) pair; order ties read
            # state-before-cancel, so a tied pair fully cancels
            yield (k, acc["fc"][0], acc["fc"][1], -1)
            yield (k, acc["ls"][0], acc["ls"][1], 1)


vchangelog_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),   # key
        st.integers(min_value=1, max_value=6),   # version
        st.integers(min_value=0, max_value=40),  # seq (order)
        st.integers(min_value=0, max_value=9),   # payload
        st.sampled_from([1, -1]),                # sign
    ),
    min_size=1,
    max_size=30,
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=vchangelog_strategy)
def test_versioned_collapse_matches_reference(spark, rows):
    """For ANY versioned changelog: per (key, version) cells whose
    signs net positive survive with their last state by order; FINAL
    is the max surviving version per key.  (Ties on (k, ver, seq, sign)
    deduped — the survivor among exact ties is arbitrary in both.)"""
    from clickhub_spark.operators.collapsing import collapse_final_versioned

    seen, dedup = set(), []
    for r in rows:
        key = (r[0], r[1], r[2], r[4])
        if key not in seen:
            seen.add(key)
            dedup.append(r)
    rows = dedup
    df = spark.createDataFrame(
        rows, "k int, ver long, seq int, payload int, sign int"
    )
    got = sorted(
        (r.k, r.ver, r.payload)
        for r in collapse_final_versioned(
            df, keys=["k"], sign="sign", version="ver", order=["seq"]
        ).collect()
    )
    # sequential reference
    cells = {}
    for k, ver, seq, payload, sign in rows:
        c = cells.setdefault((k, ver), {"net": 0, "ls": None})
        c["net"] += sign
        if sign == 1 and (c["ls"] is None or seq > c["ls"][0]):
            c["ls"] = (seq, payload)
    best = {}
    for (k, ver), c in cells.items():
        if c["net"] > 0 and c["ls"] is not None:
            if k not in best or ver > best[k][0]:
                best[k] = (ver, c["ls"][1])
    exp = sorted((k, ver, payload) for k, (ver, payload) in best.items())
    assert got == exp


rollup_rows_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=2),          # key
        st.integers(min_value=0, max_value=29 * 86400), # offset sec in window
        st.integers(min_value=0, max_value=99),         # value cents
    ),
    min_size=1,
    max_size=40,
)


@settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
@given(rows=rollup_rows_strategy)
def test_retention_rollup_conservation_laws(spark, rows):
    """For ANY row set: the rollup conserves row count and value total
    exactly (cent-valued inputs), every bucket_start is aligned to its
    tier's width, and each row's bucket matches the brute-force tier
    assignment."""
    from datetime import datetime, timezone

    from pyspark.sql import functions as F

    from clickhub_spark.operators.retention import rollup_retention

    t0 = int(
        datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp()
    )
    df = spark.createDataFrame(
        [(str(k), off, c / 100.0) for k, off, c in rows],
        "k string, off long, v double",
    ).select("k", F.timestamp_seconds(F.lit(t0) + F.col("off")).alias("ts"), "v")
    tiers = [("2024-01-25 00:00:00", 3600), ("2024-01-11 00:00:00", 21600)]
    out = rollup_retention(df, "ts", ["k"], "v", tiers, 86400).collect()

    assert sum(r.n for r in out) == len(rows)
    assert abs(sum(r.total for r in out) - sum(c for _, _, c in rows) / 100.0) < 1e-6
    assert all(r.bucket_start % r.bucket_s == 0 for r in out)

    def tier_of(off):
        if off >= 24 * 86400:
            return 3600
        if off >= 10 * 86400:
            return 21600
        return 86400

    exp_buckets = {}
    for k, off, c in rows:
        b = tier_of(off)
        start = ((t0 + off) // b) * b
        cell = exp_buckets.setdefault((str(k), b, start), [0, 0])
        cell[0] += 1
        cell[1] += c
    got = {(r.k, r.bucket_s, r.bucket_start): (r.n, r.total) for r in out}
    assert set(got) == set(exp_buckets)
    for cell, (n, cents) in exp_buckets.items():
        gn, gtotal = got[cell]
        assert gn == n and abs(gtotal - cents / 100.0) < 1e-9


# TSV escaping round-trip (round 12): the sink escapes backslashes and
# frames out control characters; the readers unescape.  Property: any
# string whose control characters were already spaced out (the sink's
# documented lossy framing rule) round-trips BYTE-IDENTICALLY through
# write -> read, including values that look like the \N null marker,
# quote characters, and arbitrary backslash runs.
# min_size=1: the strict CSV reader maps an EMPTY unquoted cell to
# NULL (long-standing Spark csv behavior; the tolerant reader keeps
# '' — its docstring documents the difference), so '' is excluded
# from the byte-identity property.
_tsv_text = st.text(
    alphabet=st.characters(
        codec="utf-8",
        exclude_characters="\t\n\r\x00",
    ),
    min_size=1,
    max_size=25,
)


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(vals=st.lists(_tsv_text, min_size=1, max_size=12))
def test_tsv_sink_round_trip_property(spark, vals, tmp_path_factory):
    import os

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    from clickhub_spark.sources.pyds import register_sources
    from clickhub_spark.sources.tsv import read_positional_tsv

    register_sources(spark)
    # strip remaining C0/C1 controls the strategy can still emit —
    # the sink frames them to spaces (documented lossy rule), so the
    # identity property only holds for control-free values; keep
    # non-empty (see strategy note)
    vals = [
        "".join(ch for ch in v if ch >= " ") or "_" for v in vals
    ]
    out = str(tmp_path_factory.mktemp("tsvprop") / "t")
    os.makedirs(out)
    schema = StructType(
        [StructField("s", StringType()), StructField("n", LongType())]
    )
    rows = [(v, i) for i, v in enumerate(vals)]
    spark.createDataFrame(rows, schema).coalesce(1).write.format(
        "engine_tsv"
    ).option("path", out).mode("append").save()
    got = read_positional_tsv(spark, out, schema).orderBy("n").collect()
    assert [(r.s, r.n) for r in got] == rows


# --------------------------------------------------------------------------
# DDL parser (ddl.py): render → parse → JSON round-trip
# --------------------------------------------------------------------------

_scalar_types = st.sampled_from(
    ["String", "UInt8", "UInt32", "UInt64", "Int8", "Int32", "Int64",
     "Float32", "Float64", "Date", "DateTime", "DateTime('UTC')",
     "Bool", "UUID", "Decimal(12, 3)"]
)
_ch_types = st.recursive(
    _scalar_types,
    lambda inner: st.one_of(
        inner.map(lambda t: f"LowCardinality({t})" if "(" not in t else t),
        inner.map(lambda t: f"Nullable({t})" if "(" not in t else t),
        inner.map(lambda t: f"Array({t})"),
        st.tuples(inner, inner).map(lambda kv: f"Map(String, {kv[1]})"),
    ),
    max_leaves=3,
)
_col_names = st.lists(
    st.from_regex(r"[a-z][a-z0-9_]{0,10}", fullmatch=True),
    min_size=1, max_size=8, unique=True,
)


@settings(max_examples=100, deadline=None)
@given(names=_col_names, types=st.lists(_ch_types, min_size=8, max_size=8))
def test_ddl_render_parse_json_roundtrip(names, types):
    """For ANY rendered CREATE TABLE over random ClickHouse type
    trees: parse → serialize → reparse preserves every column name,
    raw type text, and derived Spark type (the _ddl.json persistence
    contract)."""
    from clickhub_spark.ddl import (
        _tabledef_from_json,
        _tabledef_to_json,
        parse_create_table,
    )

    cols = ", ".join(
        f"`{n}` {t}" for n, t in zip(names, types[: len(names)])
    )
    sql = (
        f"CREATE TABLE db1.t1 ({cols}) ENGINE = MergeTree "
        f"ORDER BY ({names[0]})"
    )
    td = parse_create_table(sql)
    td2 = _tabledef_from_json(_tabledef_to_json(td))
    assert [(c.name, c.ch_type, c.spark_type) for c in td.columns] == [
        (c.name, c.ch_type, c.spark_type) for c in td2.columns
    ]
    assert td2.order_by == [names[0]]


@settings(max_examples=100, deadline=None)
@given(
    labels=st.lists(
        st.text(
            alphabet=st.characters(
                codec="ascii", exclude_characters="'\\\x00"
            ),
            min_size=1, max_size=12,
        ),
        min_size=1, max_size=6, unique=True,
    )
)
def test_ddl_enum_labels_roundtrip(labels):
    """Enum8 label maps survive parse for arbitrary quote-free ASCII
    labels (escaped quotes covered separately in test_ddl.py)."""
    from clickhub_spark.ddl import parse_type

    inner = ", ".join(f"'{lb}' = {i}" for i, lb in enumerate(labels))
    _, parsed = parse_type(f"Enum8({inner})")
    assert parsed == dict(enumerate(labels))


# --------------------------------------------------------------------------
# WITH FILL (operators/fill.py) vs a sequential python model
# --------------------------------------------------------------------------


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    xs=st.lists(
        st.integers(min_value=-20, max_value=20),
        min_size=1, max_size=12, unique=True,
    ),
    bounds=st.tuples(
        st.integers(min_value=-25, max_value=25),
        st.integers(min_value=1, max_value=30),
        st.integers(min_value=1, max_value=5),
    ),
)
def test_with_fill_matches_python_model(spark, xs, bounds):
    """For ANY integer row set and FROM/TO/STEP: output keys are
    exactly (originals ∪ grid∩[FROM,TO)), sorted; original rows keep
    their value, inserted rows carry the default 0."""
    from pyspark.sql import functions as F

    from clickhub_spark.operators.fill import with_fill

    lo, width, step = bounds
    hi = lo + width
    df = spark.createDataFrame([(x, x * 10) for x in xs], "x int, v int")
    out = with_fill(
        df, "x", from_=F.lit(lo), to=F.lit(hi), step=F.lit(step)
    ).collect()
    grid = set(range(lo, hi, step))
    expect_keys = sorted(set(xs) | grid)
    assert [r.x for r in out] == expect_keys
    vals = {x: x * 10 for x in xs}
    for r in out:
        assert r.v == vals.get(r.x, 0)


# --- round-12 session-3: battery-render differentials vs python models ---
# One Spark job per family over a seeded random batch (hypothesis's
# per-example round-trip through spark.sql would be ~100x slower for
# the same coverage; the seed pins reproducibility).


def _dialect_batch(spark, rows, schema, exprs):
    """Evaluate dialect expressions over a batch in ONE spark job."""
    from clickhub_spark.sql_compat import run

    spark.createDataFrame(rows, schema).createOrReplaceTempView("prop_b")
    cols = ", ".join(f"{e} AS r{i}" for i, e in enumerate(exprs))
    return run(spark, f"SELECT __row_id, {cols} FROM prop_b").collect()


def test_gcd_lcm_render_matches_math(spark):
    import math
    import random

    rng = random.Random(12012)
    rows = [
        (i, rng.randint(-10**9, 10**9), rng.randint(-10**6, 10**6))
        for i in range(200)
    ]
    rows += [(200, 0, 0), (201, 0, 7), (202, -12, 18), (203, 2**62, 2**31)]
    got = _dialect_batch(
        spark, rows, "__row_id int, a long, b long", ["gcd(a, b)"]
    )
    by_id = {r["__row_id"]: r for r in got}
    for i, a, b in rows:
        assert by_id[i]["r0"] == math.gcd(a, b), (a, b, by_id[i]["r0"])
    # lcm over pairs whose |a*b| fits BIGINT (the render multiplies
    # before dividing; ANSI raises LOUDLY on overflow, the posture we
    # want — ClickHouse would silently wrap)
    safe = [(i, a, b) for i, a, b in rows[:203] if a and b]
    got = _dialect_batch(
        spark, safe, "__row_id int, a long, b long", ["lcm(a, b)"]
    )
    by_id = {r["__row_id"]: r for r in got}
    for i, a, b in safe:
        want = abs(a * b) // math.gcd(a, b)
        assert by_id[i]["r0"] == want, (a, b, by_id[i]["r0"])


def test_toweek_render_matches_mysql_model(spark):
    """toWeek/toYearWeek mode 0 vs a direct python implementation of
    the MySQL WEEK(,0)/YEARWEEK(,0) definition (weeks start Sunday,
    week 1 begins at the year's first Sunday, earlier days roll into
    week 0 / the previous year's last week)."""
    import datetime
    import random

    def week0(d: datetime.date) -> int:
        jan1 = d.replace(month=1, day=1)
        # first Sunday on/after Jan 1 (weekday(): Mon=0 … Sun=6)
        fs = jan1 + datetime.timedelta(days=(6 - jan1.weekday()) % 7)
        return 0 if d < fs else (d - fs).days // 7 + 1

    def yearweek0(d: datetime.date) -> int:
        w = week0(d)
        if w > 0:
            return d.year * 100 + w
        d31 = datetime.date(d.year - 1, 12, 31)
        return d31.year * 100 + week0(d31)

    rng = random.Random(31337)
    days = [
        datetime.date(2020, 1, 1) + datetime.timedelta(days=rng.randint(0, 3650))
        for _ in range(150)
    ]
    # pin year boundaries incl. a leap year and a Jan-1-Sunday year
    # (2023-01-01 is a Sunday: week 1 starts on New Year's Day)
    for y in (2021, 2022, 2023, 2024):
        for md in ((1, 1), (1, 7), (12, 31)):
            days.append(datetime.date(y, *md))
    rows = [(i, d.strftime("%Y-%m-%d 12:00:00")) for i, d in enumerate(days)]
    got = _dialect_batch(
        spark,
        [(i, s) for i, s in rows],
        "__row_id int, ds string",
        ["toWeek(CAST(ds AS TIMESTAMP))", "toYearWeek(CAST(ds AS TIMESTAMP))"],
    )
    by_id = {r["__row_id"]: r for r in got}
    for i, d in enumerate(days):
        assert by_id[i]["r0"] == week0(d), (d, by_id[i]["r0"], week0(d))
        assert by_id[i]["r1"] == yearweek0(d), (d, by_id[i]["r1"])


def test_array_rotate_shift_render_matches_python(spark):
    import random

    rng = random.Random(777)
    cases = []
    for i in range(120):
        arr = [rng.randint(-5, 5) for _ in range(rng.randint(0, 8))]
        n = rng.randint(-10, 10)
        cases.append((i, arr, n))
    got = _dialect_batch(
        spark,
        cases,
        "__row_id int, arr array<int>, n int",
        [
            "arrayRotateLeft(arr, n)",
            "arrayRotateRight(arr, n)",
            "arrayShiftLeft(arr, n, 9)",
            "arrayShiftRight(arr, n, 9)",
        ],
    )
    by_id = {r["__row_id"]: r for r in got}

    def rot_left(a, n):
        if not a:
            return []
        k = n % len(a)
        return a[k:] + a[:k]

    def shift_left(a, n, pad):
        k = max(-len(a), min(n, len(a)))
        if k >= 0:
            return a[k:] + [pad] * k
        return [pad] * (-k) + a[: len(a) + k]

    for i, arr, n in cases:
        r = by_id[i]
        assert r["r0"] == rot_left(arr, n), ("rotL", arr, n, r["r0"])
        assert r["r1"] == rot_left(arr, -n), ("rotR", arr, n, r["r1"])
        assert r["r2"] == shift_left(arr, n, 9), ("shL", arr, n, r["r2"])
        assert r["r3"] == shift_left(arr, -n, 9), ("shR", arr, n, r["r3"])


def test_prewhere_merge_equals_conjunction(spark):
    """PREWHERE p1 WHERE p2 must select exactly the AND of the two
    predicates for randomized predicate pairs (incl. ORs, so the
    parenthesization is load-bearing)."""
    import random

    from clickhub_spark.sql_compat import run

    rng = random.Random(4242)
    spark.createDataFrame(
        [(i, rng.randint(0, 9), rng.randint(0, 9)) for i in range(200)],
        "id int, a int, b int",
    ).createOrReplaceTempView("pw_t")
    preds = ["a > 3", "a < 7 OR b > 8", "b = 2 OR a = 0", "a % 2 = 0"]
    for p1 in preds:
        for p2 in preds:
            got = {
                r.id
                for r in run(
                    spark, f"SELECT id FROM pw_t PREWHERE {p1} WHERE {p2}"
                ).collect()
            }
            want = {
                r.id
                for r in spark.sql(
                    f"SELECT id FROM pw_t WHERE ({p1}) AND ({p2})"
                ).collect()
            }
            assert got == want, (p1, p2)


def test_map_merge_renders_match_python_model(spark):
    """sumMap/minMap/maxMap over random grouped maps vs a direct
    python dict fold (key union; NULL side = absent key)."""
    import random

    from clickhub_spark.sql_compat import run

    rng = random.Random(13013)
    keys = ["a", "b", "c", "d", "e"]
    rows = [
        (
            rng.randint(0, 6),
            {
                k: rng.randint(-50, 50)
                for k in rng.sample(keys, rng.randint(1, len(keys)))
            },
        )
        for _ in range(120)
    ]
    spark.createDataFrame(
        rows, "grp int, m map<string,int>"
    ).createOrReplaceTempView("prop_maps")
    got = {
        r.grp: (r.s, r.mn, r.mx)
        for r in run(
            spark,
            "SELECT grp, sumMap(m) AS s, minMap(m) AS mn, maxMap(m) AS mx "
            "FROM prop_maps GROUP BY grp",
        ).collect()
    }
    model: dict = {}
    for grp, m in rows:
        s, mn, mx = model.setdefault(grp, ({}, {}, {}))
        for k, v in m.items():
            s[k] = s.get(k, 0) + v
            mn[k] = min(mn.get(k, v), v)
            mx[k] = max(mx.get(k, v), v)
    assert set(got) == set(model)
    for grp, (s, mn, mx) in model.items():
        assert got[grp] == (s, mn, mx), grp


def test_array_fold_render_matches_python(spark):
    import functools
    import random

    rng = random.Random(14014)
    rows = [
        (i, [rng.randint(-9, 9) for _ in range(rng.randint(0, 8))])
        for i in range(120)
    ]
    got = _dialect_batch(
        spark,
        rows,
        "__row_id int, arr array<int>",
        ["arrayFold((acc, x) -> acc * 2 + x, arr, 1)"],
    )
    by_id = {r["__row_id"]: r["r0"] for r in got}
    for i, arr in rows:
        want = functools.reduce(lambda a, x: a * 2 + x, arr, 1)
        assert by_id[i] == want, (arr, by_id[i], want)


def test_limit_with_ties_matches_python_model(spark):
    """LIMIT n WITH TIES over random duplicate-heavy data vs the
    direct definition: all rows whose sort key <= the n-th smallest."""
    import random

    from clickhub_spark.sql_compat import run

    rng = random.Random(15015)
    for trial in range(4):
        rows = [
            (i, rng.randint(0, 5)) for i in range(rng.randint(3, 25))
        ]
        n = rng.randint(1, len(rows))
        spark.createDataFrame(rows, "id int, v int").createOrReplaceTempView(
            "prop_ties"
        )
        got = sorted(
            (r.id, r.v)
            for r in run(
                spark,
                f"SELECT id, v FROM prop_ties ORDER BY v LIMIT {n} WITH TIES",
            ).collect()
        )
        cutoff = sorted(v for _, v in rows)[n - 1]
        want = sorted((i, v) for i, v in rows if v <= cutoff)
        assert got == want, (trial, n, cutoff)


def test_limit_offset_by_matches_python_model(spark):
    """LIMIT n OFFSET m BY g (and the comma form) over random
    duplicate-heavy data vs the direct python model: per group sorted
    by the statement ORDER BY (id tiebreak), skip m, keep n."""
    import random

    from clickhub_spark.sql_compat import run

    rng = random.Random(14014)
    for trial in range(4):
        rows = [
            (i, rng.randint(0, 3), rng.randint(0, 9))
            for i in range(rng.randint(4, 30))
        ]
        m, n = rng.randint(0, 2), rng.randint(1, 3)
        spark.createDataFrame(
            rows, "id int, g int, v int"
        ).createOrReplaceTempView("prop_lob")
        form = (
            f"LIMIT {n} OFFSET {m} BY g"
            if trial % 2
            else f"LIMIT {m}, {n} BY g"
        )
        got = sorted(
            (r.id, r.g, r.v)
            for r in run(
                spark,
                f"SELECT id, g, v FROM prop_lob ORDER BY v, id {form}",
            ).collect()
        )
        want = []
        for g in {g for _, g, _ in rows}:
            grp = sorted(
                ((i, gg, v) for i, gg, v in rows if gg == g),
                key=lambda t: (t[2], t[0]),
            )
            want.extend(grp[m : m + n])
        assert got == sorted(want), (trial, form)


def test_distinct_on_matches_python_model(spark):
    """DISTINCT ON (g) over random data vs the direct python model:
    one row per g — the first under the statement ORDER BY."""
    import random

    from clickhub_spark.sql_compat import run

    rng = random.Random(16016)
    for trial in range(4):
        rows = [
            (i, rng.randint(0, 4), rng.randint(0, 9))
            for i in range(rng.randint(3, 25))
        ]
        spark.createDataFrame(
            rows, "id int, g int, v int"
        ).createOrReplaceTempView("prop_don")
        desc = "DESC" if trial % 2 else ""
        got = sorted(
            (r.g, r.v, r.id)
            for r in run(
                spark,
                f"SELECT DISTINCT ON (g) g, v, id FROM prop_don "
                f"ORDER BY g, v {desc}, id",
            ).collect()
        )
        want = []
        for g in {g for _, g, _ in rows}:
            grp = sorted(
                ((i, gg, v) for i, gg, v in rows if gg == g),
                key=lambda t: (-t[2] if trial % 2 else t[2], t[0]),
            )
            i0, g0, v0 = grp[0]
            want.append((g0, v0, i0))
        assert got == sorted(want), trial


# --- translate() literal-preservation property (VERDICT r14 item 3) ---
# Every rewrite pass must leave string literals byte-identical; the
# ARRAY JOIN / WITH TOTALS / FINAL passes each corrupted keyword-
# bearing literals before round 15.  The strategy plants literals
# containing the exact keyword phrases every clause pass matches.

_KEYWORD_PHRASES = [
    "ARRAY JOIN arr AS y",
    "LEFT ARRAY JOIN labels",
    "GROUP BY g WITH TOTALS",
    "OPTIMIZE TABLE t FINAL",
    "LIMIT 2 BY g",
    "SELECT DISTINCT ON (u) u",
    "ORDER BY v WITH FILL",
    "PREWHERE x > 0",
    "SAMPLE 0.1 OFFSET 0.5",
    "QUALIFY rn = 1",
    "LIMIT 5 WITH TIES",
    "GROUP BY ALL WITH TOTALS",
    "any(x) OVER w",
    "GLOBAL IN (1, 2)",
    "uniqExact(x)",
    "skewPop(x)",
    "hasAny(a, b)",
    "toUnixTimestamp(x)",
    "emptyArrayString()",
    "yesterday()",
    "count()",
    "git.commits",
    "x::String",
    "LIMIT 1, 2",
]


@given(
    phrase=st.sampled_from(_KEYWORD_PHRASES),
    prefix=st.text(
        alphabet="abc XYZ_09", min_size=0, max_size=8
    ).filter(lambda s: "'" not in s),
    suffix=st.text(
        alphabet="abc XYZ_09", min_size=0, max_size=8
    ).filter(lambda s: "'" not in s),
    shape=st.sampled_from([
        "SELECT {lit} AS s FROM t",
        "SELECT {lit} AS s, g FROM t GROUP BY g",
        "SELECT g FROM t WHERE note = {lit}",
        "SELECT g FROM t WHERE note = {lit} ORDER BY g LIMIT 3",
        "SELECT concat({lit}, g) AS s FROM t",
    ]),
)
@settings(max_examples=200, deadline=None)
def test_translate_preserves_string_literals(phrase, prefix, suffix, shape):
    from clickhub_spark.sql_compat import translate
    from clickhub_spark.sqltext import split_quoted

    body = f"{prefix}{phrase}{suffix}"
    lit = f"'{body}'"
    sql = shape.format(lit=lit)
    try:
        out = translate(sql)
    except ValueError:
        return  # documented loud refusals are fine — never corruption
    in_lits = [seg for is_lit, seg in split_quoted(sql) if is_lit]
    out_lits = [seg for is_lit, seg in split_quoted(out) if is_lit]
    for needed in in_lits:
        assert needed in out_lits, (
            f"literal {needed!r} corrupted: {sql!r} -> {out!r}"
        )


# --- the shared SQL-text scanner (clickhub_spark/sqltext.py) --------------

_scan_text = st.text(alphabet="'\\()[],ab ", max_size=24)


def _naive_literal_mask(text: str) -> list[bool]:
    """Per character: inside a single-quoted literal (quotes included)?
    Backslash escapes the next character, a doubled quote stays inside,
    an unterminated literal runs to the end."""
    mask, in_lit, i = [False] * len(text), False, 0
    while i < len(text):
        ch = text[i]
        if not in_lit:
            if ch == "'":
                in_lit = mask[i] = True
            i += 1
            continue
        mask[i] = True
        if ch == "\\":
            if i + 1 < len(text):
                mask[i + 1] = True
            i += 2
        elif ch == "'" and text[i + 1 : i + 2] == "'":
            mask[i + 1] = True
            i += 2
        else:
            in_lit = ch != "'"
            i += 1
    return mask


@settings(max_examples=400, deadline=None)
@given(text=_scan_text)
def test_sqltext_literal_mask_matches_segmentation(text):
    from clickhub_spark.sqltext import in_literal, split_quoted

    mask = _naive_literal_mask(text)
    segs = split_quoted(text)
    assert "".join(seg for _, seg in segs) == text
    assert [lit for lit, seg in segs for _ in seg] == mask
    assert [in_literal(text, i) for i in range(len(text))] == mask


@settings(max_examples=400, deadline=None)
@given(text=_scan_text)
def test_sqltext_depth_and_matching_close_match_a_stack(text):
    from clickhub_spark.sqltext import depth, matching_close

    mask = _naive_literal_mask(text)
    level, stack, close_of = 0, [], {}
    for i, ch in enumerate(text):
        assert depth(text, i) == level
        if mask[i]:
            continue
        if ch in "([":
            level += 1
            stack.append(i)
        elif ch in ")]":
            level -= 1
            if stack:
                close_of[stack.pop()] = i
    for i, ch in enumerate(text):
        if ch in "([" and not mask[i]:
            assert matching_close(text, i) == close_of.get(i)


@settings(max_examples=400, deadline=None)
@given(text=_scan_text, sep=st.sampled_from([",", "a"]))
def test_sqltext_split_top_rejoins_to_input(text, sep):
    from clickhub_spark.sqltext import split_top

    mask = _naive_literal_mask(text)
    pieces, level, start = [], 0, 0
    for i, ch in enumerate(text):
        if mask[i]:
            continue
        if ch in "([":
            level += 1
        elif ch in ")]":
            level -= 1
        elif ch == sep and level == 0:
            pieces.append(text[start:i])
            start = i + 1
    pieces.append(text[start:])
    parts = split_top(text, sep, keep_empty=True)
    assert sep.join(parts) == sep.join(p.strip() for p in pieces)
    assert split_top(text, sep) == [p for p in parts if p]
