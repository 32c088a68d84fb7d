"""The reference app's literal SQL must run unchanged through the
compat shim (every statement the reference ever issues, SURVEY §3)."""

import pytest

from clickhub_spark.catalog import COMMITS_SCHEMA, load
from clickhub_spark.sources.tsv import read_positional_tsv, stamp_updated_at
from clickhub_spark.sql_compat import run, translate

from tests.conftest import FIXTURES, SF_DIR

FIXTURE = str(FIXTURES / "commits.tsv")


@pytest.fixture(scope="module")
def commits_view(spark):
    df = stamp_updated_at(
        read_positional_tsv(spark, FIXTURE, COMMITS_SCHEMA, literals={"repo_name": "acme/widgets"})
    )
    df.createOrReplaceTempView("commits")
    return df


def test_importer_high_water_mark_sql(spark, commits_view):
    # reference repo/importer.py:95
    row = run(
        spark,
        "SELECT max(time) as max_time FROM git.commits WHERE repo_name = 'acme/widgets'",
    ).first()
    assert row.max_time is not None


def test_schedule_count_sql(spark, commits_view):
    # reference repo/schedule.py:31 (count() with no args)
    assert run(spark, "SELECT count() as count FROM git.commits").first()["count"] == 21


def test_app_membership_probe_sql(spark, commits_view):
    # reference app.py:48-50
    row = run(
        spark,
        "SELECT COUNT(repo_name) as count FROM git.commits WHERE repo_name = 'acme/widgets'",
    ).first()
    assert row["count"] == 21


def test_update_all_repos_sql(spark, commits_view):
    # reference repo/schedule.py:81-83 — the biggest query in the app
    rows = run(
        spark,
        "SELECT repo_name, min(updated_at) as last_updated FROM git.commits "
        "GROUP BY repo_name ORDER BY last_updated ASC LIMIT 50000",
    ).collect()
    assert [r.repo_name for r in rows] == ["acme/widgets"]


def test_in_list_probe_sql(spark, commits_view):
    # reference repo/schedule.py:86-94 batched IN probes
    rows = run(
        spark,
        "SELECT repo_name FROM git.commits WHERE repo_name IN ('acme/widgets', 'x/y') "
        "GROUP BY repo_name",
    ).collect()
    assert [r.repo_name for r in rows] == ["acme/widgets"]


def test_stars_mv_sql(spark):
    # reference README.md:258-262 (WatchEvent ≙ 'view' in testdata)
    load(spark, SF_DIR, "events").createOrReplaceTempView("github_events")
    rows = run(
        spark,
        "SELECT user_id, count() as stars FROM github_events "
        "WHERE event_type = 'view' GROUP BY user_id",
    ).collect()
    assert sum(r.stars for r in rows) == 188


def test_countif_and_date_fns(spark):
    # reference README.md:265 + ClickHouse date fns
    load(spark, SF_DIR, "events").createOrReplaceTempView("github_events")
    row = run(
        spark,
        "SELECT countIf(event_type = 'view') as n_watch, "
        "uniqExact(user_id) as n_users, "
        "toYear(min(ts)) as first_year FROM github_events",
    ).first()
    assert row.n_watch == 188
    assert row.n_users == 15
    assert row.first_year == 2024


def test_positional_cast_translation():
    # reference types.json:6 ingest statement fragment
    t = translate("SELECT c1::String as hash, c3::DateTime('UTC') as time, "
                  "c5::UInt32 as files_added, '{r}'::String as repo_name FROM tsv")
    assert "CAST(c1 AS STRING)" in t
    assert "CAST(c3 AS TIMESTAMP)" in t
    assert "CAST(c5 AS BIGINT)" in t
    assert "'{r}'" in t


def test_sumif_rewrite_executes(spark):
    load(spark, SF_DIR, "events").createOrReplaceTempView("github_events")
    got = run(spark, "SELECT sumIf(value, event_type = 'view') as s FROM github_events").first().s
    expect = (
        load(spark, SF_DIR, "events")
        .where("event_type = 'view'")
        .agg({"value": "sum"})
        .first()[0]
    )
    assert abs(got - expect) < 1e-6


def test_tostartofweek_is_sunday_based(spark):
    # ClickHouse toStartOfWeek mode 0: weeks start Sunday
    row = spark.sql(
        translate(
            "SELECT toStartOfWeek(CAST('2024-01-07' AS DATE)) AS sun, "
            "toStartOfWeek(CAST('2024-01-08' AS DATE)) AS mon, "
            "toStartOfWeek(CAST('2024-01-13' AS DATE)) AS sat"
        )
    ).first()
    assert str(row.sun) == "2024-01-07"  # a Sunday maps to itself
    assert str(row.mon) == "2024-01-07"
    assert str(row.sat) == "2024-01-07"


def test_json_extract_string_gets_jsonpath(spark):
    """JSONExtractString takes a bare key in ClickHouse; Spark's
    get_json_object needs a JSONPath — a pure rename silently returns
    NULL for every call."""
    from clickhub_spark.sql_compat import run, translate

    assert (
        translate("SELECT JSONExtractString(j, 'k') FROM t")
        == "SELECT get_json_object(j, '$.k') FROM t"
    )
    # already-JSONPath keys pass through unprefixed
    assert "get_json_object(j, '$.a.b')" in translate("SELECT JSONExtractString(j, '$.a.b') FROM t")
    spark.sql("SELECT '{\"k\": \"v\"}' AS j").createOrReplaceTempView("jt")
    assert run(spark, "SELECT JSONExtractString(j, 'k') AS v FROM jt").first().v == "v"


def test_session_profiles():
    """Cluster profile: no hardcoded master, 128m splits, AQE sizing
    from a high initial partition count; local profile keeps the
    bench-fast 4m splits and fixed 32 shuffle partitions."""
    import pytest as _pytest

    from clickhub_spark.session import _builder

    cluster = _builder("t", None, "cluster")._options
    assert "spark.master" not in cluster
    assert cluster["spark.sql.files.maxPartitionBytes"] == "128m"
    assert cluster["spark.sql.adaptive.coalescePartitions.initialPartitionNum"] == "2000"
    assert cluster["spark.sql.adaptive.enabled"] == "true"

    local = _builder("t", 8, "local")._options
    assert local["spark.master"] == "local[8]"
    assert local["spark.sql.files.maxPartitionBytes"] == "4m"
    assert local["spark.sql.shuffle.partitions"] == "32"

    with _pytest.raises(ValueError):
        _builder("t", None, "yarn")


def test_nested_paren_arguments_translate(spark):
    t = translate("SELECT toStartOfHour(CAST(x AS TIMESTAMP)) FROM t")
    assert t == "SELECT date_trunc('hour', CAST(x AS TIMESTAMP)) FROM t"
    # malformed call left untouched rather than mangled
    assert "sumIf(" in translate("SELECT sumIf(value FROM t")


def test_extended_function_surface(spark):
    """Round-trip the extended ClickHouse function coverage through a
    live Spark session — renames, arg swaps, -If combinators,
    parameterized quantiles, multiIf, OrZero casts."""
    from clickhub_spark.sql_compat import run, translate

    r = run(spark, """
        SELECT multiIf(1 = 2, 'a', 2 = 2, 'b', 'c') AS m,
               splitByChar('-', 'x-y-z') AS parts,
               extractAll('a1b22c', '\\\\d+') AS nums,
               arrayMap(x -> x * 2, array(1, 2, 3)) AS doubled,
               arrayFilter(x -> x > 1, array(1, 2, 3)) AS filtered,
               arrayUniq(array(1, 1, 2)) AS nu,
               indexOf(array(10, 20), 20) AS idx,
               toUInt32OrZero('12') AS ok_cast,
               toUInt32OrZero('nope') AS zero_cast,
               ifNull(NULL, 7) AS ifn,
               startsWith('spark', 'sp') AS sw,
               position('haystack', 'st') AS pos,
               toYYYYMM(toDate('2023-07-09')) AS ym
    """).first()
    assert r.m == "b"
    assert r.parts == ["x", "y", "z"]
    assert r.nums == ["1", "22"]
    assert r.doubled == [2, 4, 6]
    assert r.filtered == [2, 3]
    assert r.nu == 2
    assert r.idx == 2
    assert (r.ok_cast, r.zero_cast) == (12, 0)
    assert r.ifn == 7
    assert r.sw is True
    assert r.pos == 4
    assert r.ym == 202307


def test_quantile_combinators_and_if_aggregates(spark):
    from clickhub_spark.sql_compat import run, translate

    assert (
        translate("SELECT quantileExact(0.5)(x) FROM t")
        == "SELECT percentile(x, 0.5) FROM t"
    )
    assert (
        translate("SELECT quantiles(0.25, 0.75)(x) FROM t")
        == "SELECT percentile_approx(x, array(0.25, 0.75)) FROM t"
    )
    spark.range(1, 101).selectExpr("id AS v").createOrReplaceTempView("qt")
    r = run(spark, """
        SELECT quantileExact(0.5)(v) AS med,
               quantile(0.5)(v) AS med_approx,
               avgIf(v, v > 50) AS hi_avg,
               minIf(v, v > 50) AS hi_min,
               maxIf(v, v < 50) AS lo_max
        FROM qt
    """).first()
    assert r.med == 50.5
    assert 45 <= r.med_approx <= 55
    assert r.hi_avg == 75.5
    assert (r.hi_min, r.lo_max) == (51, 49)


def test_final_routes_to_dedup_view(spark, tmp_path):
    """`SELECT ... FROM git.commits FINAL` must read the registered
    commits_final dedup view, not the raw duplicated table."""
    from clickhub_spark.catalog import COMMITS_SCHEMA, register_final_views
    from clickhub_spark.sql_compat import run, translate

    assert "commits_final" in translate("SELECT count() FROM git.commits FINAL")

    df = stamp_updated_at(
        read_positional_tsv(spark, FIXTURE, COMMITS_SCHEMA, literals={"repo_name": "acme/w"})
    )
    path = str(tmp_path / "commits")
    df.write.parquet(path)
    df.write.mode("append").parquet(path)  # replayed import: every row twice
    assert register_final_views(spark, str(tmp_path)) == ["commits_final"]
    spark.read.parquet(path).createOrReplaceTempView("commits")

    raw = run(spark, "SELECT count() AS n FROM git.commits").first().n
    fin = run(spark, "SELECT count() AS n FROM git.commits FINAL").first().n
    assert raw == 42  # 21 fixture rows x 2
    assert fin == 20  # dedup: one duplicate key in the fixture + replay absorbed


def test_dict_get_sql_and_dataframe(spark):
    """dictGet parity: SQL form (correlated scalar subquery Catalyst
    decorrelates into a join) and DataFrame form (broadcast left join)
    both equal a plain join, with dictGetOrDefault/dictHas covered."""
    from clickhub_spark.catalog import load
    from clickhub_spark.functions.dicts import dict_get, register_dict
    from clickhub_spark.sql_compat import run

    from pyspark.sql import functions as F

    nation = load(spark, SF_DIR, "nation")
    register_dict(spark, "nation_dict", nation.select("n_nationkey", "n_name"), "n_nationkey")
    cust = load(spark, SF_DIR, "customer")
    cust.createOrReplaceTempView("customer")

    got = run(spark, """
        SELECT c_custkey,
               dictGet('nation_dict', 'n_name', c_nationkey) AS nation,
               dictGetOrDefault('nation_dict', 'n_name', 999, 'UNKNOWN') AS fallback,
               dictHas('nation_dict', c_nationkey) AS present
        FROM customer
    """)
    expect = (
        cust.join(nation, cust.c_nationkey == nation.n_nationkey, "left")
        .select("c_custkey", F.col("n_name").alias("nation"))
    )
    assert sorted((r.c_custkey, r.nation) for r in got.collect()) == sorted(
        (r.c_custkey, r.nation) for r in expect.collect()
    )
    first = got.first()
    assert first.fallback == "UNKNOWN"
    assert first.present is True

    df_form = dict_get(
        cust, spark.table("nation_dict"), F.col("c_nationkey"), "n_name", out_col="nation"
    ).select("c_custkey", "nation")
    assert sorted(map(tuple, df_form.collect())) == sorted(map(tuple, expect.collect()))


def test_url_functions(spark):
    from clickhub_spark.sql_compat import run

    r = run(spark, """
        SELECT domain('https://github.com/a/b?x=1') AS d,
               path('https://github.com/a/b?x=1') AS p,
               protocol('https://github.com/a/b?x=1') AS pr,
               extractURLParameter('https://github.com/a/b?x=1&y=2', 'y') AS y
    """).first()
    assert (r.d, r.p, r.pr, r.y) == ("github.com", "/a/b", "https", "2")


def test_datetime_function_surface(spark):
    from clickhub_spark.sql_compat import run

    r = run(spark, """
        SELECT formatDateTime(CAST('2023-07-09 13:05:07' AS TIMESTAMP), '%Y-%m-%d %H:%M:%S') AS f,
               formatDateTime(CAST('2023-07-09' AS DATE), '%F') AS iso,
               dateDiff('day', CAST('2023-07-01' AS DATE), CAST('2023-07-09' AS DATE)) AS dd,
               dateDiff('hour', CAST('2023-07-09 00:00:00' AS TIMESTAMP),
                        CAST('2023-07-09 06:30:00' AS TIMESTAMP)) AS dh,
               addDays(CAST('2023-07-09' AS DATE), 3) AS plus3,
               subtractDays(CAST('2023-07-09' AS DATE), 9) AS minus9,
               toStartOfMonth(CAST('2023-07-09' AS DATE)) AS som,
               toStartOfQuarter(CAST('2023-08-09' AS DATE)) AS soq,
               toUnixTimestamp(CAST('1970-01-02 00:00:00' AS TIMESTAMP)) AS unix
    """).first()
    assert r.f == "2023-07-09 13:05:07"
    assert r.iso == "2023-07-09"
    assert (r.dd, r.dh) == (8, 6)
    assert str(r.plus3) == "2023-07-12" and str(r.minus9) == "2023-06-30"
    assert str(r.som).startswith("2023-07-01")
    assert str(r.soq).startswith("2023-07-01")
    assert r.unix == 86400


def test_with_totals_and_prewhere(spark):
    from clickhub_spark.sql_compat import run

    load(spark, SF_DIR, "events").createOrReplaceTempView("github_events")
    rows = run(spark, """
        SELECT event_type, count() AS n FROM github_events
        PREWHERE value > 0
        GROUP BY event_type WITH TOTALS
        ORDER BY n DESC
    """).collect()
    totals = [r for r in rows if r.event_type is None]
    per_type = [r for r in rows if r.event_type is not None]
    assert len(totals) == 1
    assert totals[0].n == sum(r.n for r in per_type)  # totals row = grand total


def test_statistical_aggregate_renames(spark):
    from clickhub_spark.sql_compat import run, translate

    spark.range(1, 11).selectExpr("CAST(id AS DOUBLE) AS v").createOrReplaceTempView("st")
    r = run(spark, """
        SELECT ROUND(stddevPop(v), 4) AS sd, ROUND(varPop(v), 4) AS vp,
               ROUND(covarPop(v, v), 4) AS cv, median(v) AS med
        FROM st
    """).first()
    assert r.vp == 8.25 and r.cv == 8.25
    assert abs(r.sd - 8.25 ** 0.5) < 1e-3
    assert 5 <= r.med <= 6
    # `= ANY(subquery)` must survive untouched
    assert "ANY(SELECT" in translate("SELECT * FROM t WHERE x = ANY(SELECT y FROM u)")


def test_cast_functions_array_lambdas_and_padding(spark):
    from clickhub_spark.sql_compat import run, translate

    r = run(spark, """
        SELECT toInt64('42') AS i, toUInt32('7') AS u, toFloat64('2.5') AS f,
               toDateTime('2025-03-01 12:00:00') AS t,
               arrayStringConcat(['a', 'b', 'c'], '-') AS joined,
               arrayExists(x -> x > 2, [1, 2, 3]) AS ex,
               arrayAll(x -> x > 0, [1, 2, 3]) AS al,
               leftPad('7', 3, '0') AS lp,
               modulo(10, 3) AS m
    """).first()
    assert (r.i, r.u, r.f) == (42, 7, 2.5)
    assert str(r.t).startswith("2025-03-01 12:00:00")
    assert r.joined == "a-b-c" and r.ex is True and r.al is True
    assert r.lp == "007" and r.m == 1
    # toDateTime64 (different function) must NOT be rewritten
    assert "toDateTime64" in translate("SELECT toDateTime64(x, 3) FROM t")
    # array LITERALS become array(); SUBSCRIPTS stay brackets
    assert translate("SELECT [1, [2, 3]] AS a") == "SELECT array(1, array(2, 3)) AS a"
    assert translate("SELECT x[1] FROM t") == "SELECT x[1] FROM t"
    # brackets inside string literals are untouched
    assert translate("SELECT '[not an array]' AS s") == "SELECT '[not an array]' AS s"
    # ... including after a backslash-escaped quote inside the string
    assert (
        translate(r"SELECT 'it\'s [raw' AS s, [1] AS a")
        == r"SELECT 'it\'s [raw' AS s, array(1) AS a"
    )
    # subscript on a backquoted identifier stays a subscript
    assert translate("SELECT `col`[1] FROM t") == "SELECT `col`[1] FROM t"


def test_limit_by_rewrites_to_per_group_window(spark):
    """ClickHouse LIMIT n BY g: first n rows per group under the
    statement's ORDER BY, with an optional trailing overall LIMIT."""
    from clickhub_spark.sql_compat import run, translate

    spark.createDataFrame(
        [("a", 1, 10), ("a", 2, 20), ("a", 3, 5), ("b", 1, 7), ("b", 2, 9)],
        "g string, k int, v int",
    ).createOrReplaceTempView("lb_t")
    rows = run(spark, "SELECT g, k, v FROM lb_t ORDER BY v DESC LIMIT 2 BY g")
    assert sorted((r.g, r.v) for r in rows.collect()) == [
        ("a", 10), ("a", 20), ("b", 7), ("b", 9),
    ]
    assert "__rn" not in rows.columns  # helper column stripped
    assert len(run(spark, "SELECT g, k, v FROM lb_t ORDER BY v DESC LIMIT 2 BY g LIMIT 3").collect()) == 3
    # plain LIMIT must NOT trigger the rewrite
    assert "row_number" not in translate("SELECT g FROM lb_t LIMIT 5")


def test_array_join_clause_rewrites_to_lateral_view(spark):
    """ARRAY JOIN clause (unnest) and LEFT ARRAY JOIN (keep empty
    arrays as NULL) — distinct from the arrayJoin() function form."""
    from clickhub_spark.sql_compat import run

    spark.createDataFrame(
        [("x", [1, 2]), ("y", [])], "id string, arr array<int>"
    ).createOrReplaceTempView("aj_t")
    inner = run(spark, "SELECT id, a FROM aj_t ARRAY JOIN arr AS a")
    assert sorted((r.id, r.a) for r in inner.collect()) == [("x", 1), ("x", 2)]
    left = run(spark, "SELECT id, a FROM aj_t LEFT ARRAY JOIN arr AS a")
    assert sorted(((r.id, r.a) for r in left.collect()), key=str) == sorted(
        [("x", 1), ("x", 2), ("y", None)], key=str
    )


def test_json_extract_typed_variants_and_has(spark):
    """JSONExtractInt/Float/Bool extract-then-TRY_CAST (malformed or
    missing values degrade to NULL, never a runtime ANSI cast error);
    JSONHas probes KEY PRESENCE via json_object_keys for bare keys, so
    an explicit JSON null value still counts as present (ClickHouse
    semantics).  Missing keys are NULL for the typed extracts — the
    documented delta from ClickHouse's 0-default."""
    from clickhub_spark.sql_compat import run, translate

    assert (
        translate("SELECT JSONExtractInt(j, 'k') FROM t")
        == "SELECT TRY_CAST(get_json_object(j, '$.k') AS BIGINT) FROM t"
    )
    spark.sql(
        'SELECT \'{"k": 7, "f": 1.5, "b": true, "n": null, "s": "abc"}\' AS j'
    ).createOrReplaceTempView("jt2")
    row = run(spark, """
        SELECT JSONExtractInt(j, 'k') AS k, JSONExtractFloat(j, 'f') AS f,
               JSONExtractBool(j, 'b') AS b, JSONHas(j, 'k') AS has_k,
               JSONHas(j, 'missing') AS has_m, JSONExtractInt(j, 'missing') AS m,
               JSONHas(j, 'n') AS has_null_value,
               JSONExtractInt(j, 's') AS malformed_int
        FROM jt2
    """).first()
    assert (row.k, row.f, row.b, row.has_k, row.has_m, row.m) == (
        7, 1.5, True, True, False, None,
    )
    # {"n": null}: the key IS present — ClickHouse JSONHas returns 1
    assert row.has_null_value is True
    # non-numeric string under ANSI mode: NULL, not a runtime error
    assert row.malformed_int is None


def test_uniq_upto_parametric(spark):
    from clickhub_spark.sql_compat import run, translate

    t = translate("SELECT uniqUpTo(5)(o_orderstatus) AS u FROM orders")
    assert "LEAST(count(DISTINCT o_orderstatus), 6)" in t
    from tests.conftest import SF_DIR

    spark.read.parquet(f"{SF_DIR}/orders.parquet").createOrReplaceTempView("orders")
    # 3 distinct statuses < cap -> exact count
    assert run(spark, "SELECT uniqUpTo(5)(o_orderstatus) AS u FROM orders").first().u == 3
    # cap binds when distinct exceeds N: saturates at N+1
    assert run(spark, "SELECT uniqUpTo(1)(o_orderstatus) AS u FROM orders").first().u == 2


def test_round6_function_renames_execute(spark):
    # each mapped name must not just translate but EXECUTE with
    # ClickHouse argument order and produce the CH-documented value
    from clickhub_spark.sql_compat import run, translate

    spark.createDataFrame(
        [(1, " pad ", [3, 1, 2], [[1], [2, 3]], "2024-03-15 10:20:30")],
        "id long, s string, xs array<int>, nested array<array<int>>, ts string",
    ).createOrReplaceTempView("t6")
    row = run(
        spark,
        """
        SELECT toUnixTimestamp(CAST(ts AS TIMESTAMP)) AS ux,
               toMinute(CAST(ts AS TIMESTAMP)) AS mi,
               toSecond(CAST(ts AS TIMESTAMP)) AS se,
               toQuarter(CAST(ts AS TIMESTAMP)) AS q,
               toDayOfYear(CAST(ts AS TIMESTAMP)) AS doy,
               trimBoth(s) AS tb, trimLeft(s) AS tl, trimRight(s) AS tr,
               arrayMin(xs) AS amin, arrayMax(xs) AS amax,
               arrayFlatten(nested) AS flat,
               arrayStringConcat(['a','b'], '-') AS joined,
               arraySlice(xs, 2, 2) AS sl,
               arrayConcat(xs, [9]) AS cc,
               addDays(toDate('2024-03-15'), 3) AS plus3,
               subtractDays(toDate('2024-03-15'), 3) AS minus3
        FROM t6
        """,
    ).first()
    assert (row.mi, row.se, row.q, row.doy) == (20, 30, 1, 75)
    assert (row.tb, row.tl, row.tr) == ("pad", "pad ", " pad")
    assert (row.amin, row.amax) == (1, 3)
    assert row.flat == [1, 2, 3]
    assert row.joined == "a-b"
    assert row.sl == [1, 2]
    assert row.cc == [3, 1, 2, 9]
    assert str(row.plus3) == "2024-03-18" and str(row.minus3) == "2024-03-12"
    assert row.ux > 0
    # toDayOfWeek was deliberately unmapped through round 12 session 2
    # (a bare rename would shift every weekday — Spark's dayofweek is
    # Sunday=1); battery 5 added the origin-correcting render, so the
    # old "stays unmapped" pin flips to "maps with Monday=1"
    t = translate("SELECT toDayOfWeek(x) FROM t")
    assert "toDayOfWeek" not in t and "pmod(dayofweek(x) + 5, 7) + 1" in t


def test_string_literals_inert_in_call_rewrites(spark):
    # the balanced-paren argument scan must treat quoted commas,
    # parens, doubled '' and backslash escapes as literal text; this
    # used to render splitByChar(',', s) as the corrupted split(', ')
    from clickhub_spark.sql_compat import run, translate

    assert translate("SELECT splitByChar(',', s) FROM t") == "SELECT split(s, ',') FROM t"
    assert (
        translate("SELECT splitByChar('(', concat(a, '((', b)) FROM t")
        == "SELECT split(concat(a, '((', b), '(') FROM t"
    )
    assert (
        translate("SELECT sumIf(x, s = 'a,b(') FROM t")
        == "SELECT coalesce(sum(CASE WHEN s = 'a,b(' THEN x END), 0) FROM t"
    )
    spark.createDataFrame([("a,b,c",)], "s string").createOrReplaceTempView("t_split")
    assert run(spark, "SELECT splitByChar(',', s) AS parts FROM t_split").first().parts == [
        "a",
        "b",
        "c",
    ]


def test_call_patterns_inside_string_literals_stay_verbatim():
    # ADVICE r6: the call scanner matched `name(` INSIDE a string
    # constant and corrupted the literal; matches starting in a
    # literal must now be skipped by both rewrite passes
    from clickhub_spark.sql_compat import translate

    sql = "SELECT 'see addDays(a,b) docs' AS note, addDays(d, 1) AS d2 FROM t"
    out = translate(sql)
    assert "'see addDays(a,b) docs'" in out
    assert "date_add(d, 1)" in out
    # parametric form inside a literal
    sql2 = "SELECT 'use quantile(0.5)(x)!' AS tip, quantile(0.5)(x) AS med FROM t"
    out2 = translate(sql2)
    assert "'use quantile(0.5)(x)!'" in out2
    assert "percentile_approx(x, 0.5" in out2
    # literal-only statement is untouched end-to-end
    lit_only = "SELECT 'multiIf(a,b,c) splitByChar(1,2)' AS s FROM t"
    assert translate(lit_only) == lit_only


def test_sequence_match_sql(spark):
    """sequenceMatch/sequenceCount('pattern')(ts, conds…) in
    ClickHouse-dialect SQL compile to the bitset-string aggregate and
    agree with the registered operator's oracle-checked semantics —
    including one event matching several conditions."""
    load(spark, SF_DIR, "events").createOrReplaceTempView("events")
    df = run(
        spark,
        """
        SELECT user_id,
               sequenceMatch('(?1).*(?2).*(?3)')(
                   ts, event_type = 'view',
                   event_type = 'click' OR value < 40,
                   event_type = 'purchase') AS matched,
               sequenceCount('(?2)(?3)')(
                   ts, event_type = 'view',
                   event_type = 'click' OR value < 40,
                   event_type = 'purchase') AS n_adj
        FROM events WHERE user_id IS NOT NULL GROUP BY user_id
        """,
    )
    got = {r.user_id: (r.matched, r.n_adj) for r in df.collect()}
    from clickhub_spark.plans.queries_seq import q_seq_count_adjacent, q_seq_match_pattern

    want_m = {
        r.user_id: r.matched
        for r in q_seq_match_pattern(spark, SF_DIR).collect()
    }
    want_c = {
        r.user_id: r.n_matches
        for r in q_seq_count_adjacent(spark, SF_DIR).collect()
    }
    # SQL tie-break inside one timestamp is (ts, char) vs the
    # operator's (ts, event_id); subsequence MATCH and adjacency
    # counts only differ under cross-event ties, rare in testdata —
    # compare exactly (testdata timestamps are unique per user)
    for uid, m in want_m.items():
        assert got[uid][0] == m, f"user {uid} match"
    for uid, c in want_c.items():
        assert got[uid][1] == c, f"user {uid} count"


def test_sequence_match_time_condition_raises():
    with pytest.raises(ValueError, match="seqmatch"):
        translate(
            "SELECT sequenceMatch('(?1)(?t<3600)(?2)')(ts, a, b) FROM t"
        )


def test_window_funnel_sql(spark):
    """windowFunnel(w)(ts, c1, …) in ClickHouse-dialect SQL — the
    aggregate() sequential fold must reproduce the operator's
    oracle-checked default-mode levels; strict modes raise with a
    pointer to the operator."""
    load(spark, SF_DIR, "events").createOrReplaceTempView("events")
    df = run(
        spark,
        """
        SELECT level, count() AS n_users FROM (
            SELECT user_id,
                   windowFunnel(86400)(
                       ts, substring(event_type, 1, 1) = 'v',
                       substring(event_type, 1, 1) = 'c',
                       substring(event_type, 1, 1) = 'p') AS level
            FROM events WHERE user_id IS NOT NULL GROUP BY user_id
        ) GROUP BY level
        """,
    )
    got = {r.level: r.n_users for r in df.collect()}
    from clickhub_spark.plans.queries_funnel import q_funnel_window

    want = {
        r.level: r.n_users for r in q_funnel_window(spark, SF_DIR).collect()
    }
    assert got == want
    with pytest.raises(ValueError, match="mode"):
        translate(
            "SELECT windowFunnel(10, 'strict_nonsense')(ts, a, b) FROM t"
        )


def test_window_funnel_sql_mode_matrix(spark):
    """VERDICT r11 #4 + ADVICE r11: the shim renders ALL four
    windowFunnel modes (and their combinations) and must agree with
    the oracle-checked DataFrame operator — including OVERLAPPING
    step conditions, where the engine inserts one entry per matched
    condition (the old one-entry-per-event else-if chain silently
    under-counted).  Streams use strictly increasing per-user
    timestamps so the (t, step) tie order of the SQL fold and the
    operator's caller tiebreaker coincide (the engine's own tie order
    is merge-nondeterministic)."""
    import random

    from pyspark.sql import functions as F

    from clickhub_spark.operators.funnel import window_funnel

    rng = random.Random(20251207)
    rows = []
    for uid in range(160):
        ts = 0.0
        for i in range(rng.randint(0, 14)):
            ts += rng.choice([1.0, 1.0, 2.0, 5.0])
            rows.append(
                (f"u{uid}", i, ts, rng.choice("vcpxy"), rng.uniform(0, 100))
            )
    df = spark.createDataFrame(
        rows,
        "user_id string, event_id long, ts double, "
        "event_type string, value double",
    )
    df.createOrReplaceTempView("funnel_t")
    # overlapping conditions: a low-value 'v' matches steps 1 AND 2
    conds_sql = [
        "event_type = 'v'",
        "event_type = 'c' OR (event_type = 'v' AND value < 30)",
        "event_type = 'p'",
    ]
    ty, val = F.col("event_type"), F.col("value")
    conds_df = [
        ty == "v",
        (ty == "c") | ((ty == "v") & (val < 30)),
        ty == "p",
    ]
    from clickhub_spark.sql_compat import _FUNNEL_MODES

    combos = [
        (),
        ("strict_order",),
        ("strict_deduplication",),
        ("strict_dedup",),  # the operator's shorthand spelling
        ("strict_increase",),
        ("strict_order", "strict_increase"),
        ("strict_order", "strict_deduplication", "strict_increase"),
    ]
    for combo in combos:
        params = ", ".join(["6"] + [f"'{m}'" for m in combo])
        sql = (
            f"SELECT user_id, windowFunnel({params})("
            f"ts, {', '.join(conds_sql)}) AS level "
            "FROM funnel_t GROUP BY user_id"
        )
        got = {r.user_id: r.level for r in run(spark, sql).collect()}
        want = {
            r.user_id: r.level
            for r in window_funnel(
                df,
                user_col="user_id",
                order=["ts", "event_id"],
                steps=conds_df,
                ts_col="ts",
                window_s=6.0,
                modes=[_FUNNEL_MODES[m] for m in combo],
                multi_match=True,
            ).collect()
        }
        assert got == want, f"modes={combo}: shim != operator"


def test_sequence_next_node_sql(spark):
    """sequenceNextNode(direction, base)(ts, ev, base_cond, e1, …) in
    ClickHouse-dialect SQL must agree with the registered window-based
    operators across the direction x base matrix (head, tail via
    backward, first_match forward+backward, last_match) — including
    the multi-event chain."""
    load(spark, SF_DIR, "events").createOrReplaceTempView("events")

    def shim(direction, base, base_cond, *chain):
        conds = ", ".join(f"event_type = '{c}'" for c in chain)
        df = run(
            spark,
            f"""
            SELECT user_id,
                   sequenceNextNode('{direction}', '{base}')(
                       ts, event_type, event_type = '{base_cond}',
                       {conds}) AS next_node
            FROM events WHERE user_id IS NOT NULL GROUP BY user_id
            """,
        )
        return {r.user_id: r.next_node for r in df.collect()}

    from clickhub_spark.plans.queries_seq import (
        q_seq_next_node,
        q_seq_next_node_backward,
        q_seq_next_node_backward_first,
        q_seq_next_node_chain,
        q_seq_next_node_head,
        q_seq_next_node_last_match,
    )

    # forward/first_match, single 'view' chain ≡ q_seq_next_node (r7;
    # emits only users WITH a view, next_type NULL when view is last)
    got = shim("forward", "first_match", "view", "view")
    want = {
        r.user_id: r.next_type
        for r in q_seq_next_node(spark, SF_DIR).collect()
    }
    for uid, nxt in want.items():
        assert got[uid] == nxt, f"first_match user {uid}"
    for uid, nxt in got.items():
        if uid not in want:
            assert nxt is None  # no view → no match

    # forward/last_match, single 'view' chain ≡ q_seq_next_node_last_match
    got = shim("forward", "last_match", "view", "view")
    want = {
        r.user_id: r.next_node
        for r in q_seq_next_node_last_match(spark, SF_DIR).collect()
    }
    for uid, nxt in want.items():
        assert (got[uid] or "<end>") == nxt, f"last_match user {uid}"

    # backward/first_match ≡ q_seq_next_node_backward_first
    got = shim("backward", "first_match", "view", "view")
    want = {
        r.user_id: r.next_node
        for r in q_seq_next_node_backward_first(spark, SF_DIR).collect()
    }
    for uid, nxt in want.items():
        assert (got[uid] or "<end>") == nxt, f"backward_first user {uid}"

    # backward/tail with 'click' base ≡ q_seq_next_node_backward counts
    got = shim("backward", "tail", "click", "click")
    from collections import Counter
    got_counts = Counter(
        (v or "<end>") for v in got.values() if True
    )
    # only users whose LAST event is a click produce a non-trivial
    # result; the operator aggregates exactly those
    want_counts = {
        r.next_node: r.n_users
        for r in q_seq_next_node_backward(spark, SF_DIR).collect()
    }
    for node, cnt in want_counts.items():
        assert got_counts[node] >= cnt  # '<end>' also counts no-match users
    # exact per-node check modulo the no-match '<end>' inflation:
    exact = {
        k: v for k, v in got_counts.items() if k != "<end>"
    }
    assert exact == {
        k: v for k, v in want_counts.items() if k != "<end>"
    }

    # forward/head with 'error' base ≡ q_seq_next_node_head counts
    got = shim("forward", "head", "error", "error")
    got_counts = Counter(v for v in got.values() if v is not None)
    want_counts = {
        r.next_node: r.n_users
        for r in q_seq_next_node_head(spark, SF_DIR).collect()
    }
    assert got_counts == Counter(
        {k: v for k, v in want_counts.items() if k != "<end>"}
    ) or got_counts == Counter(want_counts)

    # multi-event chain view→click ≡ q_seq_next_node_chain counts
    got = shim("forward", "first_match", "view", "view", "click")
    got_counts = Counter(
        (v if v is not None else None) for v in got.values()
    )
    want_counts = {
        r.next_node: r.n_users
        for r in q_seq_next_node_chain(spark, SF_DIR).collect()
    }
    for node, cnt in want_counts.items():
        if node == "<end>":
            continue  # shim NULL conflates chain-at-end and no-match
        assert got_counts[node] == cnt, f"chain node {node}"

    with pytest.raises(ValueError, match="combination"):
        translate(
            "SELECT sequenceNextNode('forward', 'tail')(ts, e, b, c) "
            "FROM t"
        )


def test_sequence_match_events_sql(spark):
    """sequenceMatchEvents('(?1).*(?2).*(?3)')(ts, c1, c2, c3) in
    ClickHouse-dialect SQL (subsequence form only) must reproduce the
    registered operator's trail — q_seq_match_events carries the
    independent correlated-min oracle for the same construction."""
    load(spark, SF_DIR, "events").createOrReplaceTempView("events")
    df = run(
        spark,
        """
        SELECT user_id,
               sequenceMatchEvents('(?1).*(?2).*(?3)')(
                   ts, event_type = 'view',
                   event_type = 'click' OR value < 40,
                   event_type = 'purchase') AS trail
        FROM events WHERE user_id IS NOT NULL GROUP BY user_id
        """,
    )
    got = {r.user_id: [round(t, 6) for t in r.trail] for r in df.collect()}
    from clickhub_spark.plans.queries_seq import q_seq_match_events

    want = {}
    for r in q_seq_match_events(spark, SF_DIR).collect():
        want[r.user_id] = (
            [r.ts1, r.ts2, r.ts3] if r.matched else []
        )
    # operator emits every user (automaton path); the shim groups over
    # the same filter, so the keys line up exactly
    assert got == want
    with pytest.raises(ValueError, match="subsequence"):
        translate(
            "SELECT sequenceMatchEvents('(?1)(?2)')(ts, a, b) FROM t"
        )
    with pytest.raises(ValueError, match="subsequence"):
        translate(
            "SELECT sequenceMatchEvents('(?1)(?t<5)(?2)')(ts, a, b) "
            "FROM t"
        )


def test_topk_sql(spark):
    """topK(N)(x) — the N most frequent values, most frequent first,
    value-ascending on count ties (pinned determinism; the engine's
    own tie order is insertion-dependent).  Checked against a direct
    groupBy count."""
    load(spark, SF_DIR, "events").createOrReplaceTempView("events")
    df = run(
        spark,
        "SELECT topK(2)(event_type) AS top2 "
        "FROM events WHERE event_type IS NOT NULL",
    )
    got = list(df.first().top2)
    from pyspark.sql import functions as F

    counts = (
        load(spark, SF_DIR, "events")
        .where(F.col("event_type").isNotNull())
        .groupBy("event_type")
        .count()
        .orderBy(F.col("count").desc(), F.col("event_type"))
        .limit(2)
        .collect()
    )
    assert got == [r.event_type for r in counts]
    # per-group form
    df2 = run(
        spark,
        "SELECT user_id, topK(1)(event_type) AS top1 "
        "FROM events WHERE user_id IS NOT NULL GROUP BY user_id",
    )
    one = {r.user_id: list(r.top1) for r in df2.collect()}
    base = (
        load(spark, SF_DIR, "events")
        .where(F.col("user_id").isNotNull())
        .where(F.col("event_type").isNotNull())
        .groupBy("user_id", "event_type")
        .count()
    )
    from pyspark.sql.window import Window

    w = Window.partitionBy("user_id").orderBy(
        F.col("count").desc(), F.col("event_type")
    )
    want = {
        r.user_id: [r.event_type]
        for r in base.withColumn("rn", F.row_number().over(w))
        .where("rn = 1")
        .collect()
    }
    assert one == want


def test_retention_sql(spark):
    """retention(cond1, …) — r[1] = cond1 ever held; r[i] = cond1 AND
    cond_i each held on some event of the group.  Checked against a
    direct DataFrame max-flags aggregate, and the funnel-report usage
    (SUM of element_at over users) against plain conditional counts."""
    load(spark, SF_DIR, "events").createOrReplaceTempView("events")
    df = run(
        spark,
        """
        SELECT user_id,
               retention(event_type = 'view',
                         event_type = 'click',
                         event_type = 'purchase') AS r
        FROM events WHERE user_id IS NOT NULL GROUP BY user_id
        """,
    )
    from pyspark.sql import functions as F

    got = {r.user_id: list(r.r) for r in df.collect()}
    base = (
        load(spark, SF_DIR, "events")
        .where(F.col("event_type").isNotNull())
        .where(F.col("user_id").isNotNull())
        .groupBy("user_id")
        .agg(
            F.max((F.col("event_type") == "view").cast("int")).alias("m1"),
            F.max((F.col("event_type") == "click").cast("int")).alias("m2"),
            F.max((F.col("event_type") == "purchase").cast("int")).alias(
                "m3"
            ),
        )
    )
    for r in base.collect():
        assert got[r.user_id] == [r.m1, r.m1 * r.m2, r.m1 * r.m3], (
            f"user {r.user_id}"
        )
    # report form: SUM(element_at(r, i)) over users
    rep = run(
        spark,
        """
        SELECT SUM(element_at(r, 1)) AS r1, SUM(element_at(r, 2)) AS r2
        FROM (
            SELECT user_id,
                   retention(event_type = 'view',
                             event_type = 'click') AS r
            FROM events WHERE user_id IS NOT NULL GROUP BY user_id
        )
        """,
    ).first()
    want1 = base.where("m1 = 1").count()
    want2 = base.where("m1 = 1 AND m2 = 1").count()
    assert (rep.r1, rep.r2) == (want1, want2)


def test_asof_join_using_left_and_inner(spark):
    """ASOF [LEFT] JOIN … USING delegation (operators/asof.py):
    backward inclusive match, LEFT keeps unmatched with NULL
    (join_use_nulls=1 semantics), inner drops them."""
    import datetime as dt

    from clickhub_spark import sql_compat

    T = dt.datetime
    spark.createDataFrame(
        [(1, T(2024, 1, 1, 10), "o1"), (1, T(2024, 1, 1, 12), "o2"),
         (2, T(2024, 1, 1, 9), "o3")],
        "uid int, ts timestamp, oid string",
    ).createOrReplaceTempView("asof_orders_t")
    spark.createDataFrame(
        [(1, T(2024, 1, 1, 9), 100.0), (1, T(2024, 1, 1, 11), 110.0),
         (3, T(2024, 1, 1, 8), 999.0)],
        "uid int, ts timestamp, px double",
    ).createOrReplaceTempView("asof_quotes_t")
    left = sql_compat.run(
        spark,
        "SELECT uid, oid, px FROM asof_orders_t "
        "ASOF LEFT JOIN asof_quotes_t USING (uid, ts)",
    )
    assert sorted(tuple(r) for r in left.collect()) == [
        (1, "o1", 100.0), (1, "o2", 110.0), (2, "o3", None),
    ]
    inner = sql_compat.run(
        spark,
        "SELECT uid, oid, px FROM asof_orders_t "
        "ASOF JOIN asof_quotes_t USING (uid, ts)",
    )
    assert sorted(tuple(r) for r in inner.collect()) == [
        (1, "o1", 100.0), (1, "o2", 110.0),
    ]


def test_asof_join_unsupported_forms_raise(spark):
    from clickhub_spark import sql_compat

    with pytest.raises(ValueError, match="supported dialect subset"):
        sql_compat.run(spark, "SELECT 1 FROM a ASOF JOIN b ON a.x = b.x")
    with pytest.raises(ValueError, match="at least"):
        sql_compat.run(spark, "SELECT 1 FROM a ASOF JOIN b USING (ts)")
    # inert inside string literals
    assert sql_compat.translate("SELECT 'ASOF JOIN' AS s") == (
        "SELECT 'ASOF JOIN' AS s"
    )


def test_asof_join_column_collision_raises(spark):
    import datetime as dt

    from clickhub_spark import sql_compat

    T = dt.datetime
    spark.createDataFrame(
        [(1, T(2024, 1, 1), 5.0)], "uid int, ts timestamp, v double"
    ).createOrReplaceTempView("asof_l_t")
    spark.createDataFrame(
        [(1, T(2024, 1, 1), 6.0)], "uid int, ts timestamp, v double"
    ).createOrReplaceTempView("asof_r_t")
    with pytest.raises(ValueError, match="collide"):
        sql_compat.run(
            spark,
            "SELECT uid, v FROM asof_l_t ASOF JOIN asof_r_t USING (uid, ts)",
        )


_PROBE_CASES = [
    # round-12 probe-battery closures: (CH expression, expected)
    ("toYYYYMMDD(d)", 20240315),
    ("toStartOfInterval(d, INTERVAL 15 MINUTE)", "2024-03-15 10:30:00"),
    ("toStartOfInterval(d, INTERVAL 6 HOUR)", "2024-03-15 06:00:00"),
    ("roundBankers(2.5)", 2.0),
    ("roundBankers(3.5)", 4.0),
    ("empty(s)", False),
    ("notEmpty(s)", True),
    ("concatWithSeparator('-', 'a', 'b')", "a-b"),
    ("multiSearchAny(s, ['lph', 'zzz'])", True),
    ("multiSearchAny(s, ['zzz'])", False),
    ("countSubstrings('abcabc', 'bc')", 2),
    ("bitAnd(12, 10)", 8),
    ("bitOr(12, 10)", 14),
    ("bitXor(12, 10)", 6),
    ("bitNot(0)", -1),
    ("bitShiftLeft(1, 4)", 16),
    ("bitShiftRight(16, 4)", 1),
    ("arraySum([1,2,3])", 6.0),
    ("arrayAvg([1,2,3])", 2.0),
    ("arrayEnumerate([7,8])", [1, 2]),
    ("arrayEnumerate(CAST(array() AS ARRAY<INT>))", []),
    ("hasAll([1,2,3], [1,2])", True),
    ("hasAll([1,2], [1,9])", False),
    ("hasAny([1,2], [2,9])", True),
    ("range(3)", [0, 1, 2]),
    ("range(0)", []),
    ("toString(42)", "42"),
    ("assumeNotNull(s)", "alpha"),
    ("positionCaseInsensitive('Hello', 'LL')", 3),
    ("reinterpretAsString('x')", "x"),
]


@pytest.mark.parametrize(("expr", "want"), _PROBE_CASES)
def test_probe_battery_functions(spark, expr, want):
    """Round-12 dialect probe battery: each expression verified
    against the ClickHouse docs semantics (bankers rounding is
    HALF_EVEN; range/arrayEnumerate are empty-safe; hasAll on an
    empty needle is true; countSubstrings counts non-overlapping)."""
    import datetime

    spark.createDataFrame(
        [(1, "alpha", 10.5, "2024-03-15 10:30:00")],
        "id int, s string, v double, ds string",
    ).selectExpr(
        "id", "s", "v", "CAST(ds AS TIMESTAMP) AS d"
    ).createOrReplaceTempView("probe_t")
    got = run(spark, f"SELECT {expr} AS r FROM probe_t").first()["r"]
    if isinstance(got, datetime.datetime):
        got = got.strftime("%Y-%m-%d %H:%M:%S")
    assert got == want


def test_probe_battery_unsupported_interval_unit_raises(spark):
    with pytest.raises(ValueError, match="toStartOfInterval"):
        translate("SELECT toStartOfInterval(d, INTERVAL 1 MONTH) FROM t")


def test_aggregate_probe_battery(spark):
    """Round-12 aggregate-side probe battery.  Moment statistics are
    verified against hand-computed central moments: ClickHouse
    skewPop = m3/m2^1.5 (Spark's skewness), skewSamp divides by the
    SAMPLE stddev cubed, kurtPop = m4/m2^2 (Spark's kurtosis is the
    EXCESS form, hence +3), kurtSamp by the sample variance squared."""
    vals = [1.0, 2.0, 3.0, 4.0, 5.0, 9.5, -2.25]
    rows = [(1, "a", vals[0]), (1, "b", vals[1])] + [
        (2, c, v) for c, v in zip("cddef", vals[2:])
    ]
    spark.createDataFrame(rows, "k int, s string, v double").createOrReplaceTempView(
        "agg_probe_t"
    )
    n = len(vals)
    mu = sum(vals) / n
    m2 = sum((x - mu) ** 2 for x in vals) / n
    m3 = sum((x - mu) ** 3 for x in vals) / n
    m4 = sum((x - mu) ** 4 for x in vals) / n
    s2 = sum((x - mu) ** 2 for x in vals) / (n - 1)
    cases = [
        ("skewPop(v)", m3 / m2**1.5),
        ("skewSamp(v)", m3 / s2**1.5),
        ("kurtPop(v)", m4 / m2**2),
        ("kurtSamp(v)", m4 / s2**2),
        ("uniqCombined(s)", 6),
        ("uniqHLL12(s)", 6),
        ("anyHeavy(s)", "d"),
        ("countDistinct(s)", 6),
        ("groupBitAnd(k)", 0),
        ("groupBitOr(k)", 3),
        ("groupBitXor(k)", 2),
        ("avgWeighted(v, k)", (1 * 1 + 2 * 1 + (3 + 4 + 5 + 9.5 - 2.25) * 2) / 12),
        ("singleValueOrNull(k)", None),
    ]
    for expr, want in cases:
        got = run(spark, f"SELECT {expr} AS r FROM agg_probe_t").first()["r"]
        if isinstance(want, float):
            assert abs(got - want) < 1e-9, (expr, got, want)
        else:
            assert got == want, (expr, got, want)
    one = run(
        spark, "SELECT singleValueOrNull(k) AS r FROM agg_probe_t WHERE k = 1"
    ).first()["r"]
    assert one == 1
    pair = run(spark, "SELECT sumCount(v) AS r FROM agg_probe_t").first()["r"]
    assert abs(pair["sum"] - sum(vals)) < 1e-9 and pair["count"] == 7
    wq = run(
        spark,
        "SELECT quantileExactWeighted(0.5)(v, k) AS r FROM agg_probe_t",
    ).first()["r"]
    # weights: [1,2]x1 + [3,4,5,9.5,-2.25]x2 -> expanded median = 3.5
    assert abs(wq - 3.5) < 1e-9


def test_array_scan_probe_battery(spark):
    cases = [
        ("countEqual([1,2,1], 1)", 2),
        ("arrayCount(x -> x > 1, [1,2,3])", 2),
        ("arrayCumSum([1,2,3])", [1.0, 3.0, 6.0]),
        ("arrayCumSum(CAST(array() AS ARRAY<INT>))", []),
        ("arrayDifference([1,4,9])", [0, 3, 5]),
    ]
    for expr, want in cases:
        got = run(spark, f"SELECT {expr} AS r").first()["r"]
        assert got == want, (expr, got, want)
    zipped = run(spark, "SELECT arrayZip([1,2], ['a','b']) AS r").first()["r"]
    assert [tuple(e) for e in zipped] == [(1, "a"), (2, "b")]


def test_summap_unrenderable_pointer(spark):
    # the Map-column form renders since r13 (map_zip_with fold) —
    # only the parallel-arrays form keeps the pointer
    with pytest.raises(ValueError, match="q_agg_summap"):
        translate("SELECT sumMap(ks, vs) FROM t")
    assert "map_zip_with" in translate("SELECT sumMap(map(s, v)) FROM t")
    # inert inside literals
    assert "sumMap" in translate("SELECT 'use sumMap(x)' AS s")


def test_statement_level_probe_battery(spark):
    """Round-12 probe battery 3 — statement-level constructs:
    ClickHouse's comma-LIMIT (`LIMIT offset, n`), `* REPLACE`,
    scalar WITH constants, GLOBAL hints (dropped — Catalyst picks
    broadcast vs shuffle itself), FORMAT/SETTINGS suffixes."""
    spark.createDataFrame(
        [(i, "g%d" % (i % 3), float(i)) for i in range(10)],
        "id int, g string, v double",
    ).createOrReplaceTempView("stmt_t")
    assert [
        r.id for r in run(spark, "SELECT id FROM stmt_t ORDER BY id LIMIT 2, 3").collect()
    ] == [2, 3, 4]
    df = run(spark, "SELECT * REPLACE (v * 2 AS v) FROM stmt_t ORDER BY id LIMIT 2")
    assert df.columns[-1] == "v" and [r.v for r in df.collect()] == [0.0, 2.0]
    # arithmetic times the replace() FUNCTION is not the modifier
    got = run(
        spark, "SELECT 2 * length(replaceAll(g, 'g', 'xx')) AS r FROM stmt_t LIMIT 1"
    ).first().r
    assert got == 6
    assert run(
        spark, "SELECT count() AS r FROM stmt_t WHERE id GLOBAL IN (1, 2)"
    ).first().r == 2
    assert run(
        spark,
        "SELECT count() AS r FROM stmt_t a GLOBAL JOIN stmt_t b ON a.id = b.id",
    ).first().r == 10
    assert run(
        spark,
        "WITH 2 AS two SELECT id * two AS r FROM stmt_t ORDER BY id DESC LIMIT 1",
    ).first().r == 18
    assert run(
        spark,
        "WITH 2 AS two, 'g1' AS grp SELECT count() AS r FROM stmt_t "
        "WHERE g = grp AND id < two + 6",
    ).first().r == 3
    assert run(spark, "SELECT count() AS r FROM stmt_t FORMAT JSON").first().r == 10
    assert run(
        spark, "SELECT count() AS r FROM stmt_t SETTINGS max_threads = 4"
    ).first().r == 10
    # inert inside literals
    assert run(
        spark, "SELECT 'GLOBAL IN x FORMAT JSON' AS s FROM stmt_t LIMIT 1"
    ).first().s == "GLOBAL IN x FORMAT JSON"


def test_any_join_strictness(spark):
    """ANY LEFT/INNER JOIN dedupes the right side to one row per
    ON-key (ClickHouse keeps an arbitrary matching row; the rewrite's
    key-ordered row_number is the deterministic analog).  The right
    table here has a UNIQUE best row per key so the choice is pinned."""
    spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k int, s string"
    ).createOrReplaceTempView("any_l")
    spark.createDataFrame(
        [(1, 10.0), (1, 11.0), (2, 20.0)], "k int, p double"
    ).createOrReplaceTempView("any_r")
    out = run(
        spark,
        "SELECT a.k AS k, count() AS n FROM any_l a ANY LEFT JOIN any_r b "
        "ON a.k = b.k GROUP BY a.k",
    ).collect()
    # without ANY, k=1 would join twice; with it, exactly once each
    assert sorted((r.k, r.n) for r in out) == [(1, 1), (2, 1), (3, 1)]
    inner = run(
        spark,
        "SELECT count() AS n FROM any_l a ANY INNER JOIN any_r b ON a.k = b.k",
    ).first().n
    assert inner == 2
    with pytest.raises(ValueError, match="ANY JOIN"):
        translate("SELECT 1 FROM a ANY LEFT JOIN b USING (k)")


# --- probe battery 4 (round-12 session 3) ---

_PROBE4_SCALAR_CASES = [
    # lookup-table transform (Spark's 2-arg HOF passes through)
    ("transform(g, ['g1','g2'], [10,20], 0)", 10),
    ("transform('zz', ['g1','g2'], [10,20], 0)", 0),
    ("transform(s, ['alpha'], ['seen'])", "seen"),
    ("transform('other', ['alpha'], ['seen'])", "other"),
    ("tupleElement(tuple(7, 'x'), 2)", "x"),
    ("tupleElement(tuple(7, 'x'), 1)", 7),
    ("splitByString('a ', 'a ba c')", ["", "b", "c"]),
    ("extract('a1b2c33', '\\\\d+')", "1"),
    ("extract('a1b2', '([a-z])\\\\d')", "a"),  # first capture group
    ("format('{} and {}', 'a', 'b')", "a and b"),
    ("format('{1} {0}', 'a', 'b')", "b a"),
    ("format('100% {}', 'done')", "100% done"),
    ("toMonday(d)", "2024-03-11"),  # 2024-03-15 is a Friday
    ("toISOWeek(toDateTime('2024-01-01 00:00:00'))", 1),
    ("toISOYear(toDateTime('2023-01-01 00:00:00'))", 2022),  # Sunday: ISO wk 52/2022
    ("timeSlot(toDateTime('2024-03-15 10:47:12'))", "2024-03-15 10:30:00"),
    ("toRelativeHourNum(d)", 475138),  # floor(1710498600 / 3600)
    ("addHours(d, 2)", "2024-03-15 12:30:00"),
    ("subtractMinutes(d, 31)", "2024-03-15 09:59:00"),
    ("addYears(d, 1)", "2025-03-15 10:30:00"),
    ("intDiv(7, 2)", 3),
    ("intDivOrZero(7, 0)", 0),
    ("moduloOrZero(7, 0)", 0),
    ("moduloOrZero(7, 3)", 1),
    ("plus(1, 2)", 3),
    ("minus(3, 1)", 2),
    ("multiply(2, 3)", 6),
    ("divide(6, 4)", 1.5),
    ("isInfinite(divide(1.0, 0.0))", True),  # CH: x/0 = Inf, no error
    ("isNaN(divide(0.0, 0.0))", True),
    ("isFinite(divide(6.0, 4.0))", True),
    ("negate(5)", -5),
    ("gcd(12, 18)", 6),
    ("gcd(0, 5)", 5),
    ("lcm(4, 6)", 12),
    ("exp2(3)", 8.0),
    ("exp10(2)", 100.0),
    ("intExp2(4)", 16),
    ("intExp10(3)", 1000),
    ("bitTest(5, 0)", 1),
    ("bitTest(5, 1)", 0),
    ("bitCount(255)", 8),
    ("base64Encode('ab')", "YWI="),
    ("base64Decode('YWI=')", "ab"),
    ("bitmaskToList(10)", "2,8"),
    ("bitmaskToList(0)", ""),
    ("IPv4NumToString(16909060)", "1.2.3.4"),
    ("IPv4StringToNum('1.2.3.4')", 16909060),
    ("toTypeName(1)", "int"),  # Spark type names (documented delta)
    # arrays — ClickHouse 1-based indexing, negative from the end
    ("arrayElement([7,8], 1)", 7),
    ("arrayElement([7,8], -1)", 8),
    ("arrayElement([7,8], 5)", None),  # CH type default — documented delta
    ("arrayIntersect([1,2,3], [2,3,4])", [2, 3]),
    ("arrayPushBack([1,2], 3)", [1, 2, 3]),
    ("arrayPushFront([2,3], 1)", [1, 2, 3]),
    ("arrayPopBack([1,2,3])", [1, 2]),
    ("arrayPopFront([1,2,3])", [2, 3]),
    ("arrayPopBack(CAST(array() AS ARRAY<INT>))", []),
    ("arrayResize([1,2,3], 2)", [1, 2]),
    ("arrayResize([1,2], 4, 9)", [1, 2, 9, 9]),
    ("arrayResize([1,2], 4)", [1, 2, None, None]),  # CH pads 0 — delta
    ("arrayCompact([1,1,2,1])", [1, 2, 1]),
    ("arraySort(x -> -x, [1,3,2])", [3, 2, 1]),
    ("arrayReverseSort([1,3,2])", [3, 2, 1]),
    ("arrayReverseSort(x -> -x, [1,3,2])", [1, 2, 3]),
    ("arrayFirst(x -> x > 1, [1,2,3])", 2),
    ("arrayLast(x -> x > 0, [1,2,3])", 3),
    ("arrayFirst(x -> x > 9, [1,2,3])", None),  # CH default 0 — delta
    ("arrayFirstIndex(x -> x > 1, [1,2,3])", 2),
    ("arrayLastIndex(x -> x > 0, [1,2,3])", 3),
    ("arrayFirstIndex(x -> x > 9, [1,2,3])", 0),
    ("arrayReduce('sum', [1,2,3])", 6.0),
    ("arrayReduce('max', [1,5,3])", 5),
    ("arrayReduce('avg', [1,2,3])", 2.0),
    ("arrayReduce('count', [1,2,3])", 3),
    ("arrayReduce('anyLast', [1,2,3])", 3),
    ("arrayReduce('uniqExact', [1,1,2])", 2),
    ("emptyArrayInt32()", []),
    ("emptyArrayString()", []),
    ("arrayWithConstant(3, 'x')", ["x", "x", "x"]),
    ("formatReadableSize(1048576)", "1.00 MiB"),
    ("formatReadableSize(1100)", "1.07 KiB"),
    ("formatReadableSize(5)", "5.00 B"),
    ("formatReadableQuantity(1234567)", "1.23 million"),
    ("formatReadableQuantity(123)", "123.00"),
    ("sleep(0)", 0),
]


@pytest.mark.parametrize(("expr", "want"), _PROBE4_SCALAR_CASES)
def test_probe_battery4_scalars(spark, expr, want):
    """Battery-4 closures, each pinned to the ClickHouse docs value
    (deviations — NULL instead of the type default, Spark type names —
    are marked inline and in the render comments)."""
    import datetime

    spark.createDataFrame(
        [(1, "alpha", 10.5, "2024-03-15 10:30:00", "g1")],
        "id int, s string, v double, ds string, g string",
    ).selectExpr(
        "id", "s", "v", "CAST(ds AS TIMESTAMP) AS d", "g"
    ).createOrReplaceTempView("probe4_t")
    got = run(spark, f"SELECT {expr} AS r FROM probe4_t").first()["r"]
    if isinstance(got, datetime.datetime):
        got = got.strftime("%Y-%m-%d %H:%M:%S")
    elif isinstance(got, datetime.date):
        got = got.strftime("%Y-%m-%d")
    if isinstance(want, float):
        assert got == pytest.approx(want, rel=1e-9), (expr, got, want)
    else:
        assert got == want, (expr, got, want)


def test_probe_battery4_erf_and_distance(spark):
    """erf/erfc (Abramowitz-Stegun, |err| <= 1.5e-7) and the haversine
    greatCircleDistance against the ClickHouse docs example value."""
    r = run(spark, "SELECT erf(1.0) AS a, erfc(1.0) AS b").first()
    assert r["a"] == pytest.approx(0.8427007929497149, abs=2e-7)
    assert r["b"] == pytest.approx(0.1572992070502851, abs=2e-7)
    # docs: greatCircleDistance(55.755831, 37.617673, -55.755831,
    # -37.617673) = 14132374.194975 m (antipodal-ish Moscow example)
    d = run(
        spark,
        "SELECT greatCircleDistance(55.755831, 37.617673, "
        "-55.755831, -37.617673) AS m",
    ).first()["m"]
    assert d == pytest.approx(14132374.194975, rel=5e-3)


def test_probe_battery4_aggregates(spark):
    """Aggregate-side battery 4: -If beyond sum/avg/min/max, -Distinct,
    -Array combinators, capped groupArray(N), exact multi-quantiles,
    boundingRatio, and the any()/anyLast() first/last-value semantics
    (Spark's bare any() is bool_or — a silently wrong parse the shim
    must never emit)."""
    spark.createDataFrame(
        [(1, "a", 1.0, [1, 2]), (1, "b", 2.0, [3]), (2, "c", 3.0, []),
         (2, "d", 4.0, [4, 5]), (2, "d", 5.0, [6])],
        "k int, s string, v double, arr array<int>",
    ).createOrReplaceTempView("agg4_t")
    cases = [
        ("anyIf(s, k = 2)", {"c", "d"}),
        ("anyLastIf(s, k = 1)", {"a", "b"}),
        ("uniqExactIf(s, k = 2)", {2}),
        ("argMaxIf(s, v, v < 5)", {"d"}),
        ("argMinIf(s, v, v > 1)", {"b"}),
        ("sumDistinct(k)", {3}),
        ("sumArray(arr)", {21.0}),
        ("minArray(arr)", {1}),
        ("maxArray(arr)", {6}),
        ("avgArray(arr)", {3.5}),
        ("countArray(arr)", {6}),
        ("medianExact(v)", {3.0}),
        ("boundingRatio(v, k)", {(2 - 1) / (5.0 - 1.0)}),
        ("any(s)", {"a", "b", "c", "d"}),  # first value, NOT bool_or
    ]
    for expr, allowed in cases:
        got = run(spark, f"SELECT {expr} AS r FROM agg4_t").first()["r"]
        assert got in allowed, (expr, got, allowed)
    qs = run(
        spark, "SELECT quantilesExact(0.25, 0.5)(v) AS r FROM agg4_t"
    ).first()["r"]
    assert qs == [2.0, 3.0]
    capped = run(spark, "SELECT groupArray(2)(s) AS r FROM agg4_t").first()["r"]
    assert len(capped) == 2 and set(capped) <= {"a", "b", "c", "d"}
    # uniqIf is the approx form; exact at this cardinality
    assert run(spark, "SELECT uniqIf(s, k = 2) AS r FROM agg4_t").first()["r"] == 2
    # rand(): ClickHouse returns uniform UInt32, not [0,1)
    rv = run(spark, "SELECT rand() AS r").first()["r"]
    assert isinstance(rv, int) and 0 <= rv < 2**32
    assert 0.0 <= run(spark, "SELECT randCanonical() AS r").first()["r"] < 1.0


def test_probe_battery4_statement_level(spark):
    """PREWHERE merged with WHERE as a conjunction (both sides
    parenthesized), SAMPLE → TABLESAMPLE, and the quantified-ANY
    guard on the any() rename."""
    spark.createDataFrame(
        [(i, float(i)) for i in range(10)], "id int, v double"
    ).createOrReplaceTempView("stmt4_t")
    got = [
        r.id
        for r in run(
            spark,
            "SELECT id FROM stmt4_t PREWHERE id > 2 WHERE id < 5 ORDER BY id",
        ).collect()
    ]
    assert got == [3, 4]
    # OR in the WHERE keeps its binding: (id>2) AND (id<2 OR id>8)
    got = [
        r.id
        for r in run(
            spark,
            "SELECT id FROM stmt4_t PREWHERE id > 2 "
            "WHERE id < 2 OR id > 8 ORDER BY id",
        ).collect()
    ]
    assert got == [9]
    # subquery inside the PREWHERE predicate is inert to the clause scan
    got = run(
        spark,
        "SELECT count() AS n FROM stmt4_t "
        "PREWHERE id IN (SELECT id FROM stmt4_t WHERE id > 5) WHERE id < 8",
    ).first()["n"]
    assert got == 2  # ids 6, 7
    n = run(spark, "SELECT count() AS n FROM stmt4_t SAMPLE 3").first()["n"]
    assert n == 3
    n = run(spark, "SELECT count() AS n FROM stmt4_t SAMPLE 0.5").first()["n"]
    assert 0 <= n <= 10
    n = run(spark, "SELECT count() AS n FROM stmt4_t SAMPLE 1/2").first()["n"]
    assert 0 <= n <= 10
    with pytest.raises(ValueError, match="SAMPLE"):
        translate("SELECT count() FROM t SAMPLE 1/10 OFFSET 1/2")
    # quantified comparison stays ANY (uppercase or operator-adjacent)
    assert "= ANY(" in translate("SELECT 1 FROM t WHERE x = ANY(SELECT 1)")
    assert "=any(" in translate("SELECT 1 FROM t WHERE x =any(SELECT 1)")
    # inert inside literals
    assert run(spark, "SELECT 'use any(x)' AS s").first()["s"] == "use any(x)"


def test_probe_battery4_order_dependent_raises(spark):
    for fn in ("deltaSum(v)", "runningDifference(v)", "neighbor(v, 1)",
               "maxIntersections(a, b)", "lgamma(v)", "tgamma(v)"):
        with pytest.raises(ValueError, match=fn.split("(")[0]):
            translate(f"SELECT {fn} FROM t")
    # inert inside literals
    assert "deltaSum" in translate("SELECT 'docs: deltaSum(x)' AS s")


# --- probe battery 5 (round-12 session 3) ---

_PROBE5_SCALAR_CASES = [
    # maps
    ("mapKeys(map('a', 1, 'b', 2))", ["a", "b"]),
    ("mapValues(map('a', 1, 'b', 2))", [1, 2]),
    ("mapContains(map('a', 1), 'a')", True),
    ("mapContains(map('a', 1), 'z')", False),
    # strings
    ("multiSearchFirstIndex(s, ['zz', 'beta'])", 2),
    ("multiSearchFirstIndex(s, ['zz'])", 0),
    ("multiSearchAllPositions(s, ['al', 'beta', 'zz'])", [1, 7, 0]),
    ("countMatches('a1b2c3', '\\\\d')", 3),
    ("splitByRegexp('\\\\d+', 'a1b22c')", ["a", "b", "c"]),
    ("alphaTokens('ab1cd2ef')", ["ab", "cd", "ef"]),
    ("substringIndex('www.ex.com', '.', 2)", "www.ex"),
    # dates — 2024-03-15 is a Friday; first 2024 Sunday is Jan 7
    ("toWeek(d)", 10),
    ("toWeek(d, 3)", 11),  # ISO week of 2024-03-15
    ("toYearWeek(d)", 202410),
    ("toYearWeek(toDateTime('2024-01-01 00:00:00'))", 202353),  # pre-first-Sunday
    ("toWeek(toDateTime('2024-01-07 00:00:00'))", 1),
    ("dateDiff('hour', toDateTime('2024-03-15 22:58:00'), "
     "toDateTime('2024-03-15 23:05:00'))", 1),  # boundary crossed
    ("age('hour', toDateTime('2024-03-15 22:58:00'), "
     "toDateTime('2024-03-15 23:05:00'))", 0),  # <1 complete hour
    ("date_diff('day', toDateTime('2024-03-14 23:00:00'), "
     "toDateTime('2024-03-15 01:00:00'))", 1),
    ("toLastDayOfMonth(d)", "2024-03-31"),
    ("toStartOfFiveMinutes(d)", "2024-03-15 10:30:00"),
    ("toStartOfFifteenMinutes(toDateTime('2024-03-15 10:47:12'))",
     "2024-03-15 10:45:00"),
    ("toTime(d)", "1970-01-02 10:30:00"),
    ("makeDate(2024, 3, 15)", "2024-03-15"),
    ("makeDateTime(2024, 3, 15, 10, 30, 0)", "2024-03-15 10:30:00"),
    ("YYYYMMDDToDate(20240315)", "2024-03-15"),
    ("toDayOfWeek(d)", 5),  # Friday, Monday=1
    ("toDayOfWeek(toDateTime('2024-03-17 00:00:00'))", 7),  # Sunday
    ("toUnixTimestamp64Milli(d)", 1710498600000),
    ("fromUnixTimestamp64Milli(1710498600000)", "2024-03-15 10:30:00"),
    ("parseDateTime('2024-03-15', '%Y-%m-%d')", "2024-03-15 00:00:00"),
    ("parseDateTimeBestEffort('2024-03-15 10:30:00')", "2024-03-15 10:30:00"),
    ("toStartOfSecond(d)", "2024-03-15 10:30:00"),
    # rounding
    ("trunc(123.456)", 123.0),
    ("truncate(123.456, 2)", 123.45),
    ("truncate(-123.456, 2)", -123.45),  # toward zero
    ("roundToExp2(100)", 64),
    ("roundToExp2(0)", 0),
    ("roundDuration(45)", 30),
    ("roundAge(5)", 17),
    ("roundAge(30)", 25),
    ("roundDown(7, [1, 5, 10])", 5),
    ("roundDown(0, [1, 5, 10])", 1),  # below the ladder → smallest
    # numeric
    ("max2(1, 2)", 2),
    ("min2(1, 2)", 1),
    ("clamp(5, 1, 3)", 3),
    ("clamp(0, 1, 3)", 1),
    ("ifNotFinite(divide(1.0, 0.0), -1.0)", -1.0),
    ("ifNotFinite(2.5, -1.0)", 2.5),
    ("xor(true, false)", True),
    ("xor(true, true)", False),
    # arrays
    ("arrayDotProduct([1, 2], [3, 4])", 11.0),
    ("arrayJaccardIndex([1, 2], [2, 3])", 1.0 / 3.0),
    ("arrayRotateLeft([1, 2, 3], 1)", [2, 3, 1]),
    ("arrayRotateRight([1, 2, 3], 1)", [3, 1, 2]),
    ("arrayRotateLeft(CAST(array() AS ARRAY<INT>), 2)", []),
    ("arrayShiftLeft([1, 2, 3], 1)", [2, 3, None]),
    ("arrayShiftLeft([1, 2, 3], 1, 9)", [2, 3, 9]),
    ("arrayShiftRight([1, 2, 3], 1, 9)", [9, 1, 2]),
    ("arrayEnumerateUniq([10, 20, 10])", [1, 1, 2]),
    ("hasSubstr([1, 2, 3, 4], [2, 3])", True),
    ("hasSubstr([1, 2, 3, 4], [2, 4])", False),
    ("hasSubstr([1, 2], CAST(array() AS ARRAY<INT>))", True),
    # hashes: hex(MD5(x)) must round-trip the engine's binary digest
    ("hex(MD5('abc'))", "900150983CD24FB0D6963F7D28E17F72"),
    ("hex(SHA256(''))",
     "E3B0C44298FC1C149AFBF4C8996FB92427AE41E4649B934CA495991B7852B855"),
    # JSON
    ("JSONLength(j)", 2),
    ("JSONExtractRaw(j, 'b')", "[2,3]"),
    ("JSONExtractArrayRaw(j, 'b')", ["2", "3"]),
    ("JSONExtractKeys(j)", ["a", "b"]),
    ("isValidJSON(j)", True),
    ("isValidJSON('{bad')", False),
    # URL
    ("queryString(url)", "x=1&y=2"),
    ("fragment(url)", "frag"),
    ("topLevelDomain(url)", "uk"),
    ("cutQueryString(url)", "https://sub.example.co.uk/p/q#frag"),
    ("pathFull(url)", "/p/q?x=1&y=2#frag"),
    ("firstSignificantSubdomain(url)", "example"),
    ("firstSignificantSubdomain('https://news.yandex.ru/x')", "yandex"),
    # conversions
    ("toFloat64OrZero('xx')", 0.0),
    ("toFloat64OrZero('1.5')", 1.5),
    ("toFloat64OrNull('xx')", None),
    ("toInt64OrNull('7')", 7),
    ("toDateOrNull('2024-03-15')", "2024-03-15"),
    ("toDateTimeOrZero('bad')", "1970-01-01 00:00:00"),
    ("accurateCast(1, 'Int64')", 1),
    ("accurateCastOrNull('x', 'Int64')", None),
    ("toBool('true')", True),
    ("toNullable(5)", 5),
]


@pytest.mark.parametrize(("expr", "want"), _PROBE5_SCALAR_CASES)
def test_probe_battery5_scalars(spark, expr, want):
    """Battery-5 closures, pinned to the ClickHouse docs semantics:
    toWeek mode 0 counts Sunday-start weeks from the year's first
    Sunday (week 0 before it, YEARWEEK rolls into the previous year);
    dateDiff counts crossed unit BOUNDARIES while age counts complete
    units; trunc/truncate go toward zero; MD5/SHA digests are binary
    so hex() round-trips the engine's output."""
    import datetime

    spark.createDataFrame(
        [(1, "alpha beta", 10.5, "2024-03-15 10:30:00",
          '{"a": 1, "b": [2, 3]}',
          "https://sub.example.co.uk/p/q?x=1&y=2#frag")],
        "id int, s string, v double, ds string, j string, url string",
    ).selectExpr(
        "id", "s", "v", "CAST(ds AS TIMESTAMP) AS d", "j", "url"
    ).createOrReplaceTempView("probe5_t")
    got = run(spark, f"SELECT {expr} AS r FROM probe5_t").first()["r"]
    if isinstance(got, datetime.datetime):
        got = got.strftime("%Y-%m-%d %H:%M:%S")
    elif isinstance(got, datetime.date):
        got = got.strftime("%Y-%m-%d")
    if isinstance(want, float):
        assert got == pytest.approx(want, rel=1e-9), (expr, got, want)
    else:
        assert got == want, (expr, got, want)


def test_probe_battery5_aggregates(spark):
    """topKWeighted ranks by weight sums; groupConcat joins; entropy
    is Shannon log2 over the value distribution; quantileDeterministic
    ignores its determinator (Spark's sketch is already deterministic);
    simpleLinearRegression returns (k, b) readable via tupleElement."""
    import math

    spark.createDataFrame(
        [("a", 1.0, 1), ("a", 2.0, 2), ("b", 10.0, 3), ("c", 1.0, 4)],
        "g string, w double, x int",
    ).createOrReplaceTempView("agg5_t")
    top = run(
        spark, "SELECT topKWeighted(2)(g, w) AS r FROM agg5_t"
    ).first()["r"]
    assert top == ["b", "a"]  # weights: b=10, a=3, c=1
    gc = run(
        spark,
        "SELECT groupConcat('-')(g) AS r FROM "
        "(SELECT g FROM agg5_t ORDER BY g LIMIT 2)",
    ).first()["r"]
    assert gc == "a-a"
    # entropy over {a, a, b, c}: 2 * (2/4)·log2 contributions
    ent = run(spark, "SELECT entropy(g) AS r FROM agg5_t").first()["r"]
    want = -(0.5 * math.log2(0.5) + 0.25 * math.log2(0.25) * 2)
    assert ent == pytest.approx(want, rel=1e-9)
    qd = run(
        spark, "SELECT quantileDeterministic(0.5)(w, x) AS r FROM agg5_t"
    ).first()["r"]
    assert qd in (1.0, 2.0)
    kb = run(
        spark,
        "SELECT tupleElement(simpleLinearRegression(x, w), 1) AS k, "
        "tupleElement(simpleLinearRegression(x, w), 2) AS b FROM agg5_t",
    ).first()
    # x=[1,2,3,4], y=[1,2,10,1]: k = covar/var, b = ȳ − k·x̄
    xs, ys = [1, 2, 3, 4], [1.0, 2.0, 10.0, 1.0]
    mx, my = sum(xs) / 4, sum(ys) / 4
    cov = sum((a - mx) * (b - my) for a, b in zip(xs, ys)) / 4
    var = sum((a - mx) ** 2 for a in xs) / 4
    assert kb["k"] == pytest.approx(cov / var, rel=1e-9)
    assert kb["b"] == pytest.approx(my - cov / var * mx, rel=1e-9)


def test_probe_battery5_raises(spark):
    for fn in ("ngramDistance(a, b)", "arrayAUC(s, l)",
               "studentTTest(a, b)", "welchTTest(a, b)",
               "mannWhitneyUTest(a, b)", "cramersV(a, b)",
               "contingency(a, b)", "JSONType(j)",
               "groupArrayMovingSum(v)", "proportionsZTest(a,b,c,d,e,f)"):
        with pytest.raises(ValueError, match=fn.split("(")[0]):
            translate(f"SELECT {fn} FROM t")


def test_explain_statement(spark):
    """EXPLAIN [variant] SELECT returns the plan as a one-column
    relation; PLAN/PIPELINE map to the physical (FORMATTED) view,
    AST/SYNTAX to the analyzed (EXTENDED) one."""
    spark.createDataFrame([(1,)], "k int").createOrReplaceTempView("exp_t")
    plan = run(spark, "EXPLAIN SELECT count() FROM exp_t").first()[0]
    assert "Aggregate" in plan or "HashAggregate" in plan
    syn = run(spark, "EXPLAIN SYNTAX SELECT countIf(k > 0) FROM exp_t").first()[0]
    assert "count" in syn  # the translated (Spark) form is shown
    pipe = run(spark, "EXPLAIN PIPELINE SELECT k FROM exp_t WHERE k = 1").first()[0]
    assert "Scan" in pipe


def test_review_fixes_round12_session3(spark):
    """Regression pins for the session-3 review findings on the shim."""
    # PREWHERE scan must not fire inside identifiers containing WHERE
    spark.createDataFrame(
        [(2, 3.0)], "col_where int, b double"
    ).createOrReplaceTempView("rvfix_t")
    got = run(
        spark,
        "SELECT col_where FROM rvfix_t PREWHERE col_where > 1 WHERE b = 3.0",
    ).first()[0]
    assert got == 2
    # divide(NULL, 0) is NULL, not -Infinity
    r = run(
        spark,
        "SELECT divide(CAST(NULL AS DOUBLE), 0.0) AS a, "
        "divide(1.0, CAST(NULL AS DOUBLE)) AS b",
    ).first()
    assert r.a is None and r.b is None
    # SAMPLE 1 is the whole table (fraction), not one row
    spark.createDataFrame(
        [(i,) for i in range(10)], "id int"
    ).createOrReplaceTempView("smp_t")
    assert run(spark, "SELECT count() AS n FROM smp_t SAMPLE 1").first().n == 10
    # system.* rewrite is inert inside string literals
    assert (
        "'system.tables'"
        in translate("SELECT 'system.tables' AS s FROM system.one")
    )


def test_qualify_rewrite(spark):
    """QUALIFY (the post-window filter): direct window predicates,
    alias-referencing predicates over GROUP BY, trailing ORDER BY /
    LIMIT staying outside the wrapper, and literal inertness."""
    spark.createDataFrame(
        [(1, "a", 5.0), (2, "a", 9.0), (3, "b", 7.0), (4, "b", 2.0)],
        "id int, g string, v double",
    ).createOrReplaceTempView("qual_t")
    top = run(
        spark,
        "SELECT g, v FROM qual_t QUALIFY row_number() OVER "
        "(PARTITION BY g ORDER BY v DESC) = 1 ORDER BY g",
    ).collect()
    assert [(r.g, r.v) for r in top] == [("a", 9.0), ("b", 7.0)]
    assert top[0].asDict().keys() == {"g", "v"}  # helper column dropped
    agg = run(
        spark,
        "SELECT g, sum(v) AS sv, row_number() OVER (ORDER BY sum(v) DESC) "
        "AS rn FROM qual_t GROUP BY g QUALIFY rn = 1",
    ).first()
    assert (agg.g, agg.sv) == ("a", 14.0)
    lim = run(
        spark,
        "SELECT id FROM qual_t QUALIFY row_number() OVER "
        "(ORDER BY v DESC) <= 3 ORDER BY id LIMIT 2",
    ).collect()
    assert [r.id for r in lim] == [1, 2]
    assert (
        run(spark, "SELECT 'has QUALIFY word' AS s FROM qual_t LIMIT 1")
        .first().s == "has QUALIFY word"
    )
    with pytest.raises(ValueError, match="QUALIFY"):
        translate(
            "SELECT g FROM a QUALIFY rank() OVER (ORDER BY g) = 1 "
            "UNION ALL SELECT g FROM b"
        )


def test_advice_fixes_round13(spark):
    """Regression pins for the round-12 ADVICE findings on the shim:
    (1) QUALIFY's set-op guard fires only on DEPTH-0 set operations
    outside literals — not on a UNION inside a derived table, an
    'except' in a string constant, or the `* EXCEPT (col)` projection
    modifier; (2) bare any()/anyLast() skip NULLs like ClickHouse
    (any_value/last_value get the ignoreNulls flag); (3) a lowercase
    window frame `rows between …` is not corrupted by the system-view
    `table`/`rows` identifier quoting; (4) lowercase `prewhere` is
    merged/renamed like the uppercase form."""
    spark.createDataFrame(
        [(1, "a"), (2, "a"), (3, "b")], "id int, g string"
    ).createOrReplaceTempView("adv13_t")
    # (1a) UNION inside a derived table is fine under QUALIFY
    got = [
        r.id
        for r in run(
            spark,
            "SELECT id, g FROM (SELECT id, g FROM adv13_t UNION ALL "
            "SELECT id + 10 AS id, g FROM adv13_t) u "
            "QUALIFY row_number() OVER (PARTITION BY g ORDER BY id) = 1 "
            "ORDER BY id",
        ).collect()
    ]
    assert got == [1, 3]
    # (1b) set-op keyword inside a string literal is inert
    got = run(
        spark,
        "SELECT id, 'union except intersect' AS s FROM adv13_t "
        "QUALIFY row_number() OVER (ORDER BY id) = 1",
    ).first()
    assert got.id == 1 and got.s == "union except intersect"
    # (1c) `* EXCEPT (col)` projection modifier is not a set op
    cols = run(
        spark,
        "SELECT * EXCEPT (g) FROM adv13_t "
        "QUALIFY row_number() OVER (ORDER BY id) <= 2",
    ).columns
    assert cols == ["id"]
    # depth-0 set op still raises
    with pytest.raises(ValueError, match="QUALIFY"):
        translate(
            "SELECT g FROM a QUALIFY rank() OVER (ORDER BY g) = 1 "
            "EXCEPT SELECT g FROM b"
        )
    # (2) any()/anyLast() skip NULLs (ClickHouse first/last NON-NULL)
    spark.createDataFrame(
        [(1, None), (1, "x"), (2, "y"), (2, None)],
        "k int, s string",
    ).createOrReplaceTempView("adv13_any")
    rows = {
        (r.k, r.a, r.z)
        for r in run(
            spark,
            "SELECT k, any(s) AS a, anyLast(s) AS z FROM adv13_any "
            "GROUP BY k",
        ).collect()
    }
    assert rows == {(1, "x", "x"), (2, "y", "y")}
    # nested parens/literals inside the any() argument are inert
    got = run(
        spark,
        "SELECT any(concat(s, '(not a paren)')) AS a FROM adv13_any "
        "WHERE k = 1",
    ).first()["a"]
    assert got == "x(not a paren)"
    # (3) lowercase frame syntax survives system-view quoting
    t = translate(
        "SELECT sum(rows) OVER (ORDER BY table "
        "rows between 1 preceding and current row) AS r "
        "FROM system.parts"
    )
    assert "`rows` between" not in t
    assert "rows between 1 preceding" in t
    assert "sum(`rows`)" in t and "ORDER BY `table`" in t
    # (4) lowercase prewhere: merged with where, and renamed alone
    spark.createDataFrame(
        [(i,) for i in range(10)], "id int"
    ).createOrReplaceTempView("adv13_pw")
    got = [
        r.id
        for r in run(
            spark,
            "select id from adv13_pw prewhere id > 2 where id < 5 "
            "order by id",
        ).collect()
    ]
    assert got == [3, 4]
    n = run(
        spark, "select count() as n from adv13_pw prewhere id > 7"
    ).first()["n"]
    assert n == 2
    # a 'prewhere' inside a string literal stays verbatim
    s = run(spark, "SELECT 'use prewhere x' AS s").first()["s"]
    assert s == "use prewhere x"


@pytest.fixture(scope="module")
def b6(spark):
    spark.createDataFrame(
        [(1, "a", 1.0, [1, 2, 3]), (2, "a", 2.0, [4, 5]), (3, "b", 3.0, []),
         (4, "b", 4.0, [6]), (5, "b", 5.0, [7, 8]), (6, "c", 6.0, [9])],
        "id int, g string, v double, arr array<int>",
    ).createOrReplaceTempView("b6_t")
    return "b6_t"


def test_probe_battery6_qualify_compositions(spark, b6):
    """Probe battery 6 (VERDICT r12 item 3) — COMPOSITIONS of dialect
    constructs.  Each case here reproduced a real round-13 bug:
    QUALIFY+LIMIT BY (the LIMIT BY regex latched onto the ORDER BY
    inside the rewritten OVER clause), PREWHERE+WHERE+QUALIFY (the
    clause scan did not stop at QUALIFY), QUALIFY inside a derived
    table (depth>0 was skipped entirely), and QUALIFY referencing
    SELECT aliases (Spark rejects lateral aliases in windows; the
    shim now inlines the aliased expression like ClickHouse)."""
    got = [
        (r.id, r.g)
        for r in run(
            spark,
            "SELECT id, g, v FROM b6_t QUALIFY row_number() OVER "
            "(PARTITION BY g ORDER BY v DESC) = 1 LIMIT 1 BY g",
        ).collect()
    ]
    assert sorted(got) == [(2, "a"), (5, "b"), (6, "c")]
    got = [
        r.id
        for r in run(
            spark,
            "SELECT id, v FROM b6_t PREWHERE id > 1 WHERE v < 5 "
            "QUALIFY row_number() OVER (ORDER BY v DESC) <= 2",
        ).collect()
    ]
    assert sorted(got) == [3, 4]
    got = {
        (r.g, r.v)
        for r in run(
            spark,
            "SELECT * FROM (SELECT g, v FROM b6_t QUALIFY row_number() "
            "OVER (PARTITION BY g ORDER BY v) = 1) ORDER BY g",
        ).collect()
    }
    assert got == {("a", 1.0), ("b", 3.0), ("c", 6.0)}
    # SELECT aliases (incl. alias-on-alias chains) inside the QUALIFY
    # predicate — inlined like ClickHouse's alias substitution
    got = {
        (r.g, r.vv)
        for r in run(
            spark,
            "SELECT g, v * 10 AS vv FROM b6_t QUALIFY row_number() OVER "
            "(PARTITION BY g ORDER BY vv DESC) = 1",
        ).collect()
    }
    assert got == {("a", 20.0), ("b", 50.0), ("c", 60.0)}
    got = {
        (r.g, r.v2)
        for r in run(
            spark,
            "SELECT g, v + 1 AS v1, v1 * 2 AS v2 FROM b6_t "
            "QUALIFY max(v2) OVER (PARTITION BY g) = v2",
        ).collect()
    }
    assert got == {("a", 6.0), ("b", 12.0), ("c", 14.0)}
    # named WINDOW + QUALIFY / CTE + QUALIFY / agg-projection QUALIFY
    got = {
        (r.g, r.v)
        for r in run(
            spark,
            "SELECT g, v, row_number() OVER w AS r FROM b6_t "
            "WINDOW w AS (PARTITION BY g ORDER BY v DESC) "
            "QUALIFY row_number() OVER w = 1",
        ).collect()
    }
    assert got == {("a", 2.0), ("b", 5.0), ("c", 6.0)}
    got = {
        r.g
        for r in run(
            spark,
            "WITH top AS (SELECT g, max(v) AS m FROM b6_t GROUP BY g) "
            "SELECT g, m FROM top QUALIFY rank() OVER (ORDER BY m DESC) <= 2",
        ).collect()
    }
    assert got == {"b", "c"}
    got = {
        (r.G2, r.n)
        for r in run(
            spark,
            "SELECT upper(g) AS G2, count() AS n FROM b6_t GROUP BY g "
            "QUALIFY rank() OVER (ORDER BY n DESC, G2) <= 2",
        ).collect()
    }
    assert got == {("B", 3), ("A", 2)}


def test_probe_battery6_limit_by_compositions(spark, b6):
    """LIMIT BY at depth > 0 (derived tables), at both levels at
    once, with qualified BY columns, and after a window-carrying
    statement — the depth-aware rewrite of _rewrite_limit_by."""
    n = run(
        spark,
        "SELECT count() AS n FROM (SELECT g, v FROM b6_t "
        "ORDER BY v DESC LIMIT 2 BY g)",
    ).first()["n"]
    assert n == 5  # a:2 b:2 c:1
    got = {
        (r.g, r.v)
        for r in run(
            spark,
            "SELECT t.g, t.v FROM (SELECT g, v FROM b6_t ORDER BY v DESC "
            "LIMIT 1 BY g) t WHERE t.v > 2 ORDER BY t.g LIMIT 1 BY t.g",
        ).collect()
    }
    assert got == {("b", 5.0), ("c", 6.0)}
    # window ORDER BY inside OVER() must NOT be mistaken for the
    # statement ORDER BY feeding the LIMIT BY window
    got = [
        (r.g, r.v, r.s)
        for r in run(
            spark,
            "SELECT g, v, sum(v) OVER (PARTITION BY g ORDER BY v) AS s "
            "FROM b6_t ORDER BY v LIMIT 1 BY g",
        ).collect()
    ]
    assert sorted(got) == [("a", 1.0, 1.0), ("b", 3.0, 3.0), ("c", 6.0, 6.0)]
    # SELECT alias as the LIMIT BY sort key still resolves
    got = [
        (r.g, r.lv)
        for r in run(
            spark,
            "SELECT g, least(v, 4) AS lv FROM b6_t ORDER BY lv LIMIT 2 BY g",
        ).collect()
    ]
    assert sorted(got) == [
        ("a", 1.0), ("a", 2.0), ("b", 3.0), ("b", 4.0), ("c", 4.0)
    ]


def test_probe_battery6_statement_stacks(spark, b6):
    """FINAL+SAMPLE+PREWHERE+LIMIT BY in one statement; GLOBAL IN;
    tuple-IN subqueries; EXISTS with LIMIT BY; dialect functions in
    JOIN ON; parametric aggregates in correlated subqueries."""
    spark.sql(f"SELECT * FROM {b6}").createOrReplaceTempView("b6_t_final")
    got = [
        (r.id, r.g)
        for r in run(
            spark,
            "SELECT id, g FROM b6_t FINAL SAMPLE 1 PREWHERE id > 1 "
            "WHERE id < 6 ORDER BY id LIMIT 1 BY g",
        ).collect()
    ]
    assert sorted(got) == [(2, "a"), (3, "b")]
    n = run(
        spark,
        "SELECT count() AS n FROM b6_t WHERE id GLOBAL IN "
        "(SELECT id FROM b6_t WHERE v > 3)",
    ).first()["n"]
    assert n == 3
    n = run(
        spark,
        "SELECT count() AS n FROM b6_t WHERE (g, id) IN "
        "(SELECT g, id FROM b6_t WHERE v > 3)",
    ).first()["n"]
    assert n == 3
    got = [
        r.g
        for r in run(
            spark,
            "SELECT g FROM b6_t a WHERE EXISTS (SELECT 1 FROM b6_t b "
            "WHERE b.g = a.g AND b.v > 5) ORDER BY g LIMIT 1 BY g",
        ).collect()
    ]
    assert got == ["c"]
    got = [
        (r.id, r.bid)
        for r in run(
            spark,
            "SELECT a.id, b.id AS bid FROM b6_t a INNER JOIN b6_t b "
            "ON a.g = b.g AND intDiv(a.id, 2) = intDiv(b.id, 2) "
            "WHERE a.id < b.id ORDER BY a.id",
        ).collect()
    ]
    assert got == [(4, 5)]
    got = {
        r.g
        for r in run(
            spark,
            "SELECT a.g FROM b6_t a WHERE a.v > (SELECT "
            "quantileExact(0.5)(v) FROM b6_t b WHERE b.g = a.g)",
        ).collect()
    }
    assert got == {"a", "b"}


def test_probe_battery6_empty_set_aggregates(spark, b6):
    """ClickHouse non-OrNull aggregates return TYPE DEFAULTS on an
    empty (condition-filtered) set: sumIf -> 0, avgIf -> nan; the
    NULL Spark would return is silently-wrong data."""
    import math

    rows = {
        r.g: (r.s, r.a)
        for r in run(
            spark,
            "SELECT g, sumIf(v, has(arr, 4)) AS s, avgIf(v, v > 100) AS a "
            "FROM b6_t GROUP BY g",
        ).collect()
    }
    assert rows["a"][0] == 2.0 and rows["b"][0] == 0.0 and rows["c"][0] == 0.0
    assert all(math.isnan(a) for _, a in rows.values())
    # non-empty avgIf still averages
    a = run(
        spark, "SELECT avgIf(v, v > 3) AS a FROM b6_t"
    ).first()["a"]
    assert a == 5.0
    # sumIf inside HAVING composes
    got = {
        r.g
        for r in run(
            spark,
            "SELECT g, max(v) AS m FROM b6_t GROUP BY g "
            "HAVING sumIf(v, v > 1) > 5",
        ).collect()
    }
    assert got == {"b", "c"}


def test_probe_battery6_float_with_fill(spark, b6):
    """WITH FILL over a float/double sort column (integer-index grid,
    lo + k*step) with decimal STEP literals and INTERPOLATE."""
    rows = [
        (r.v, r.g)
        for r in run(
            spark,
            "SELECT v, g FROM b6_t WHERE g = 'b' ORDER BY v "
            "WITH FILL FROM 1 TO 6 STEP 0.5 INTERPOLATE (g)",
        ).collect()
    ]
    vs = [v for v, _ in rows]
    assert vs == [1.0, 1.5, 2.0, 2.5, 3.0, 3.5, 4.0, 4.5, 5.0, 5.5]
    assert dict(rows)[1.0] == "" and dict(rows)[3.5] == "b"
    # default step 1.0, QUALIFY in the derived table feeding the fill
    rows = [
        (r.v, r.g)
        for r in run(
            spark,
            "SELECT * FROM (SELECT g, v FROM b6_t QUALIFY row_number() "
            "OVER (PARTITION BY g ORDER BY v) = 1) ORDER BY v WITH FILL",
        ).collect()
    ]
    assert [v for v, _ in rows] == [1.0, 2.0, 3.0, 4.0, 5.0, 6.0]
    assert dict(rows)[3.0] == "b" and dict(rows)[4.0] == ""


def test_probe_battery6_scalar_with_and_modifiers(spark, b6):
    """Probe battery 6, session 2: ClickHouse's expression-WITH
    (literal / scalar subquery / column expression, substituted at
    every use per CH's alias model; the CTE form stays a CTE), and
    the * EXCEPT+REPLACE / APPLY column-transformer chains."""
    got = [
        r.id
        for r in run(
            spark,
            "WITH (SELECT max(v) FROM b6_t) AS mx "
            "SELECT id FROM b6_t WHERE v = mx",
        ).collect()
    ]
    assert got == [6]
    got = {
        (r.g, r.t)
        for r in run(
            spark,
            "WITH sum(v) AS total SELECT g, total AS t FROM b6_t GROUP BY g",
        ).collect()
    }
    assert got == {("a", 3.0), ("b", 12.0), ("c", 6.0)}
    # literal + subquery + expr entries in ONE WITH list
    row = run(
        spark,
        "WITH 2 AS k, (SELECT min(v) FROM b6_t) AS lo, max(v) AS hi "
        "SELECT (hi - lo) / k AS half_range FROM b6_t",
    ).first()
    assert row.half_range == 2.5
    # the CTE form in the same list survives
    n = run(
        spark,
        "WITH top AS (SELECT g FROM b6_t WHERE v > 4), 1 AS one "
        "SELECT count() + one AS n FROM top",
    ).first()["n"]
    assert n == 3
    # * EXCEPT + REPLACE combined (canonical CH modifier order)
    rows = run(
        spark,
        "SELECT * EXCEPT (arr) REPLACE(v * 2 AS v) FROM b6_t "
        "ORDER BY id LIMIT 2",
    ).collect()
    assert sorted(rows[0].asDict().keys()) == ["g", "id", "v"]
    assert [r.v for r in rows] == [2.0, 4.0]
    # * EXCEPT + APPLY: fn over every remaining column, CH names
    row = run(
        spark, "SELECT * EXCEPT (arr, g) APPLY(max) FROM b6_t"
    ).first()
    assert row["max(id)"] == 6 and row["max(v)"] == 6.0
    # REPLACE + APPLY composes (replaced expression feeds the fn)
    row = run(
        spark,
        "SELECT * EXCEPT (arr, g, id) REPLACE(v * 10 AS v) APPLY(sum) "
        "FROM b6_t",
    ).first()
    assert row["sum(v)"] == 210.0
    # out-of-subset APPLY shapes raise with the supported form named
    with pytest.raises(ValueError, match="APPLY"):
        run(spark, "SELECT * APPLY(max) FROM (SELECT 1 AS x)")


def test_probe_battery6_map_fold_state_ties(spark, b6):
    """Probe battery 6, session 3: map-merging aggregates over Map
    columns (collect_list + map_zip_with fold — key union, no
    explode stage), arrayFold → aggregate(), uniqState/uniqMerge →
    Datasketches HLL (a REAL mergeable binary state), and LIMIT n
    WITH TIES via a rank() window."""
    spark.createDataFrame(
        [(1, {"a": 1, "b": 2}), (2, {"a": 5, "c": 1})],
        "id int, m map<string,int>",
    ).createOrReplaceTempView("b6_maps")
    sm = run(spark, "SELECT sumMap(m) AS sm FROM b6_maps").first()["sm"]
    assert sm == {"a": 6, "b": 2, "c": 1}
    mm = run(spark, "SELECT maxMap(m) AS mm FROM b6_maps").first()["mm"]
    assert mm == {"a": 5, "b": 2, "c": 1}
    mn = run(spark, "SELECT minMap(m) AS mn FROM b6_maps").first()["mn"]
    assert mn == {"a": 1, "b": 2, "c": 1}
    # grouped form merges within each group
    spark.createDataFrame(
        [(1, {"a": 1}), (1, {"a": 2, "b": 1}), (2, {"z": 9})],
        "k int, m map<string,int>",
    ).createOrReplaceTempView("b6_maps2")
    rows = {
        r.k: r.sm
        for r in run(
            spark, "SELECT k, sumMap(m) AS sm FROM b6_maps2 GROUP BY k"
        ).collect()
    }
    assert rows == {1: {"a": 3, "b": 1}, 2: {"z": 9}}
    # the parallel-arrays ClickHouse form still raises with a pointer
    with pytest.raises(ValueError, match="q_agg_summap"):
        translate("SELECT sumMap(ks, vs) FROM t")
    # arrayFold((acc, x) -> …, arr, init) → aggregate(arr, init, fn)
    f = run(
        spark,
        "SELECT arrayFold((acc, x) -> acc + x, arr, 100) AS f "
        "FROM b6_t WHERE id = 1",
    ).first()["f"]
    assert f == 106
    with pytest.raises(ValueError, match="arrayFold"):
        translate("SELECT arrayFold((a, x, y) -> a + x + y, u, w, 0) FROM t")
    # uniqState partials merge across groups like the engine's states
    u = run(
        spark,
        "SELECT uniqMerge(s) AS u FROM (SELECT g, uniqState(id) AS s "
        "FROM b6_t GROUP BY g)",
    ).first()["u"]
    assert u == 6
    # LIMIT n WITH TIES keeps every row tied with the n-th
    got = [
        (r.g, r.v)
        for r in run(
            spark,
            "SELECT g, v FROM b6_t UNION ALL SELECT 'x' AS g, 3.0 AS v "
            "ORDER BY v LIMIT 3 WITH TIES",
        ).collect()
    ]
    assert sorted(got) == [("a", 1.0), ("a", 2.0), ("b", 3.0), ("x", 3.0)]
    with pytest.raises(ValueError, match="WITH TIES"):
        translate("SELECT g FROM t LIMIT 3 WITH TIES")  # no ORDER BY


def test_probe_battery7_group_modifiers_native(spark, b6):
    """Probe battery 7 (VERDICT r13 item 2), part 1: constructs Spark
    supports NATIVELY must pass through translate untouched — GROUP BY
    … WITH ROLLUP / WITH CUBE (modifier spelling), GROUP BY ALL, and
    the named WINDOW w AS (…) clause."""
    for q in (
        "SELECT g, sum(v) AS s FROM b6_t GROUP BY g WITH ROLLUP",
        "SELECT g, id, sum(v) AS s FROM b6_t GROUP BY g, id WITH CUBE",
        "SELECT g, sum(v) AS s FROM b6_t GROUP BY ALL",
        "SELECT g, sum(v) OVER w AS s, rank() OVER w AS r FROM b6_t "
        "WINDOW w AS (PARTITION BY g ORDER BY v)",
    ):
        assert translate(q) == q, q
    # WITH ROLLUP produces the subtotal + grand-total rows
    rows = {
        (r.g, r.s)
        for r in run(
            spark, "SELECT g, sum(v) AS s FROM b6_t GROUP BY g WITH ROLLUP"
        ).collect()
    }
    assert rows == {("a", 3.0), ("b", 12.0), ("c", 6.0), (None, 21.0)}
    # GROUP BY ALL groups by every non-aggregate projection
    rows2 = {
        (r.g, r.n)
        for r in run(
            spark, "SELECT g, count() AS n FROM b6_t GROUP BY ALL"
        ).collect()
    }
    assert rows2 == {("a", 2), ("b", 3), ("c", 1)}
    # one named window shared by two functions
    r1 = run(
        spark,
        "SELECT g, v, rank() OVER w AS r, sum(v) OVER w AS rs FROM b6_t "
        "WHERE g = 'b' WINDOW w AS (ORDER BY v)",
    ).collect()
    assert [(x.v, x.r, x.rs) for x in r1] == [
        (3.0, 1, 3.0),
        (4.0, 2, 7.0),
        (5.0, 3, 12.0),
    ]


def test_probe_battery7_distinct_on(spark, b6):
    """Probe battery 7, part 2: DISTINCT ON (cols) — one row per ON
    tuple, the statement ORDER BY choosing the winner; no ORDER BY →
    deterministic-arbitrary (ON-column order).  False positives
    (plain DISTINCT, the text in a literal) pass through; a subquery
    DISTINCT ON recurses."""
    got = {
        (r.g, r.v)
        for r in run(
            spark,
            "SELECT DISTINCT ON (g) g, v FROM b6_t ORDER BY g, v DESC",
        ).collect()
    }
    assert got == {("a", 2.0), ("b", 5.0), ("c", 6.0)}
    # winner flips with the ORDER BY direction
    got2 = {
        (r.g, r.v)
        for r in run(
            spark,
            "SELECT DISTINCT ON (g) g, v FROM b6_t ORDER BY g, v",
        ).collect()
    }
    assert got2 == {("a", 1.0), ("b", 3.0), ("c", 6.0)}
    # multi-column ON; trailing LIMIT applies AFTER the dedup
    n = run(
        spark,
        "SELECT DISTINCT ON (g) g, v FROM b6_t ORDER BY g, v LIMIT 2",
    ).count()
    assert n == 2
    # no ORDER BY: still exactly one row per group
    assert run(spark, "SELECT DISTINCT ON (g) g, v FROM b6_t").count() == 3
    # inside a derived table
    c = run(
        spark,
        "SELECT count(*) AS c FROM (SELECT DISTINCT ON (g) g, v "
        "FROM b6_t ORDER BY g, v)",
    ).first()["c"]
    assert c == 3
    # pass-throughs
    assert translate("SELECT DISTINCT g FROM t") == "SELECT DISTINCT g FROM t"
    assert translate("SELECT 'DISTINCT ON (x)' AS s FROM t") == (
        "SELECT 'DISTINCT ON (x)' AS s FROM t"
    )


def test_probe_battery7_limit_offset_by(spark, b6):
    """Probe battery 7, part 3: the offset forms of LIMIT BY —
    ``LIMIT n OFFSET m BY g`` and ClickHouse's short ``LIMIT m, n BY
    g`` — skip the first m rows per group, keep the next n."""
    got = [
        (r.g, r.v)
        for r in run(
            spark,
            "SELECT g, v FROM b6_t ORDER BY v DESC "
            "LIMIT 1 OFFSET 1 BY g",
        ).collect()
    ]
    assert sorted(got) == [("a", 1.0), ("b", 4.0)]  # c has no 2nd row
    # comma form: LIMIT offset, n BY — same cut
    got2 = [
        (r.g, r.v)
        for r in run(
            spark,
            "SELECT g, v FROM b6_t ORDER BY v DESC LIMIT 1, 2 BY g",
        ).collect()
    ]
    assert sorted(got2) == [("a", 1.0), ("b", 3.0), ("b", 4.0)]
    # outer LIMIT still applies after the per-group cut
    n = run(
        spark,
        "SELECT g, v FROM b6_t ORDER BY v DESC LIMIT 1, 2 BY g LIMIT 2",
    ).count()
    assert n == 2
    # the plain form is untouched by the extension
    got3 = [
        (r.g, r.v)
        for r in run(
            spark,
            "SELECT g, v FROM b6_t ORDER BY v DESC LIMIT 1 BY g",
        ).collect()
    ]
    assert sorted(got3) == [("a", 2.0), ("b", 5.0), ("c", 6.0)]
    # a plain LIMIT n OFFSET m (no BY) is Spark-native and untouched
    assert translate("SELECT g FROM t ORDER BY g LIMIT 3 OFFSET 6") == (
        "SELECT g FROM t ORDER BY g LIMIT 3 OFFSET 6"
    )


def test_probe_battery8_r14_compositions(spark, b6):
    """Probe battery 8 — COMPOSITIONS of the round-14 constructs with
    the existing clause rewrites.  GROUP BY ALL WITH TOTALS was the
    real bug found (the TOTALS rewrite emitted GROUPING SETS ((ALL),
    ()) — ALL now expands to the non-aggregate select items first);
    the rest pin that the combinations keep working."""
    # GROUP BY ALL WITH TOTALS: ALL expands, totals row appears
    assert translate(
        "SELECT g, sum(v) AS s FROM b6_t GROUP BY ALL WITH TOTALS"
    ) == "SELECT g, sum(v) AS s FROM b6_t GROUP BY GROUPING SETS ((g), ())"
    rows = sorted(
        (
            (r.g, r.n, r.s)
            for r in run(
                spark,
                "SELECT g, count() AS n, sum(v) AS s FROM b6_t "
                "GROUP BY ALL WITH TOTALS",
            ).collect()
        ),
        key=str,
    )
    assert rows == [
        ("a", 2, 3.0),
        ("b", 3, 12.0),
        ("c", 1, 6.0),
        (None, 6, 21.0),
    ]
    # expression select items expand too (alias stripped)
    assert "GROUPING SETS ((upper(g)), ())" in translate(
        "SELECT upper(g) AS gg, count() AS n FROM t GROUP BY ALL WITH TOTALS"
    )
    # DISTINCT ON over a QUALIFY subquery
    got = sorted(
        tuple(r)
        for r in run(
            spark,
            "SELECT DISTINCT ON (g) g, v FROM (SELECT g, v FROM b6_t "
            "QUALIFY row_number() OVER (PARTITION BY g ORDER BY v) <= 2) "
            "ORDER BY g, v DESC",
        ).collect()
    )
    assert got == [("a", 2.0), ("b", 4.0), ("c", 6.0)]
    # DISTINCT ON over a LIMIT WITH TIES subquery
    got = sorted(
        tuple(r)
        for r in run(
            spark,
            "SELECT DISTINCT ON (g) g, v FROM (SELECT g, v FROM b6_t "
            "ORDER BY v LIMIT 4 WITH TIES) ORDER BY g, v",
        ).collect()
    )
    assert got == [("a", 1.0), ("b", 3.0)]
    # DISTINCT ON + PREWHERE
    got = sorted(
        tuple(r)
        for r in run(
            spark,
            "SELECT DISTINCT ON (g) g, v FROM b6_t PREWHERE v > 1 "
            "ORDER BY g, v",
        ).collect()
    )
    assert got == [("a", 2.0), ("b", 3.0), ("c", 6.0)]
    # DISTINCT ON with an EXPRESSION in the ON list
    assert (
        run(
            spark,
            "SELECT DISTINCT ON (g, id % 2) g, id, v FROM b6_t "
            "ORDER BY g, id % 2, v DESC",
        ).count()
        == 5
    )
    # named WINDOW + QUALIFY referencing its output alias
    got = sorted(
        tuple(r)
        for r in run(
            spark,
            "SELECT g, v, rank() OVER w AS r FROM b6_t "
            "WINDOW w AS (PARTITION BY g ORDER BY v) QUALIFY r <= 1",
        ).collect()
    )
    assert got == [("a", 1.0, 1), ("b", 3.0, 1), ("c", 6.0, 1)]
    # WITH ROLLUP + HAVING on the aggregate alias
    rows = sorted(
        (
            (r.g, r.n)
            for r in run(
                spark,
                "SELECT g, count() AS n FROM b6_t GROUP BY g "
                "WITH ROLLUP HAVING n > 1",
            ).collect()
        ),
        key=str,
    )
    assert rows == [("a", 2), ("b", 3), (None, 6)]
    # LIMIT BY over an EXPRESSION list (the plain-column regex used to
    # pass these through unrewritten, a guaranteed Spark parse error)
    got = sorted(
        tuple(r)
        for r in run(
            spark,
            "SELECT g, id, v FROM b6_t ORDER BY v DESC "
            "LIMIT 1 BY g, id % 2",
        ).collect()
    )
    assert got == [
        ("a", 1, 1.0),
        ("a", 2, 2.0),
        ("b", 4, 4.0),
        ("b", 5, 5.0),
        ("c", 6, 6.0),
    ]
    got2 = sorted(
        tuple(r)
        for r in run(
            spark,
            "SELECT g, v FROM b6_t ORDER BY v LIMIT 1 BY upper(g) LIMIT 2",
        ).collect()
    )
    assert len(got2) == 2 and got2[0] == ("a", 1.0)
    # review r14: an UNSUPPORTED tail after the BY list passes
    # through unchanged instead of being swallowed into PARTITION BY
    q = "SELECT g, v FROM t ORDER BY v LIMIT 2 BY g LIMIT 10 OFFSET 5"
    assert translate(q) == q
    # review r14: DISTINCT ON tolerates a trailing semicolon
    assert ";" not in translate("SELECT DISTINCT ON (k) k, v FROM t;")
    # review r14: window expressions are excluded from the GROUP BY
    # ALL expansion (a window fn inside GROUP BY is illegal SQL)
    out = translate(
        "SELECT k, row_number() OVER (ORDER BY sum(v)) AS rn, "
        "sum(v) AS s FROM t GROUP BY ALL WITH TOTALS"
    )
    assert "GROUPING SETS ((k), ())" in out, out


def test_advice_r13_rewrite_edge_cases(spark, b6):
    """ADVICE r13 regressions: (1) the text WITH TIES in a string
    literal / a CTE named ties / a subquery LIMIT WITH TIES must not
    crash translate; (2) sumIf/avgIf in WINDOW position keep the bare
    sum(CASE …) — coalesce is not a window function; (3) nested any()
    edits must not corrupt each other's close-paren offsets."""
    # (1) WITH TIES false positives pass through; subquery form works
    assert translate("SELECT 'WITH TIES' AS note, x FROM t") == (
        "SELECT 'WITH TIES' AS note, x FROM t"
    )
    assert translate(
        "WITH ties AS (SELECT x FROM t) SELECT * FROM ties"
    ) == "WITH ties AS (SELECT x FROM t) SELECT * FROM ties"
    got = [
        (r.g, r.v)
        for r in run(
            spark,
            "SELECT * FROM (SELECT g, v FROM b6_t UNION ALL "
            "SELECT 'x' AS g, 3.0 AS v ORDER BY v LIMIT 3 WITH TIES) "
            "sub WHERE v > 1",
        ).collect()
    ]
    assert sorted(got) == [("a", 2.0), ("b", 3.0), ("x", 3.0)]
    # (2) -If combinators as window functions: ClickHouse allows
    # sumIf(...) OVER (...); the coalesce default applies only in
    # plain aggregate position (an OVER window has no empty group)
    rows = run(
        spark,
        "SELECT g, sumIf(v, v > 1) OVER (PARTITION BY g) AS s, "
        "avgIf(v, v > 100) OVER (PARTITION BY g) AS a "
        "FROM b6_t WHERE g IN ('a', 'b') ORDER BY g, v",
    ).collect()
    assert [(r.g, r.s, r.a) for r in rows] == [
        ("a", 2.0, None),
        ("a", 2.0, None),
        ("b", 12.0, None),
        ("b", 12.0, None),
        ("b", 12.0, None),
    ]
    # plain aggregate position still coalesces to the CH type default
    agg = run(
        spark,
        "SELECT sumIf(v, v > 100) AS s, avgIf(v, v > 100) AS a FROM b6_t",
    ).first()
    assert agg.s == 0 and str(agg.a) == "nan"
    # (3) nested any(): each call gets its own ignoreNulls flag (the
    # nested form only ANALYZES in a subquery — this pins the render,
    # which previously produced a 3-arg any_value and dropped the
    # outer flag)
    assert translate("SELECT any(if(any(y) > 0, x, x)) FROM t") == (
        "SELECT any_value(if(any_value(y, true) > 0, x, x), true) FROM t"
    )
    nested = run(
        spark,
        "SELECT any(s) AS n FROM (SELECT g, any(v) AS s "
        "FROM b6_t GROUP BY g)",
    ).first()["n"]
    assert nested in (1.0, 3.0, 6.0)


@pytest.fixture(scope="module")
def b9(spark):
    spark.createDataFrame(
        [
            (1, "a", 1.0, ["x", "y"], [10, 20]),
            (2, "a", 2.0, ["z"], [30]),
            (3, "b", 3.0, [], []),
        ],
        "id int, g string, v double, labels array<string>, nums array<int>",
    ).createOrReplaceTempView("b9_t")
    return "b9_t"


def test_array_join_bare_form(spark, b9):
    """VERDICT r14 finding 1b: bare ``ARRAY JOIN arr`` (no alias — the
    most common ClickHouse spelling; the element REPLACES the column
    in scope) previously passed through untranslated and Spark parsed
    a bogus table join."""
    rows = run(spark, "SELECT id, labels FROM b9_t ARRAY JOIN labels")
    assert sorted((r.id, r.labels) for r in rows.collect()) == [
        (1, "x"), (1, "y"), (2, "z"),
    ]
    # LEFT keeps the empty-array row with a NULL element
    left = run(spark, "SELECT id, labels FROM b9_t LEFT ARRAY JOIN labels")
    assert sorted(((r.id, r.labels) for r in left.collect()), key=str) == sorted(
        [(1, "x"), (1, "y"), (2, "z"), (3, None)], key=str
    )
    # SELECT * sees the element column, not engine helpers
    star = run(spark, "SELECT * FROM b9_t ARRAY JOIN labels")
    assert not [c for c in star.columns if c.startswith("__aj")]
    # downstream clauses still attach
    grp = run(
        spark,
        "SELECT labels, count() AS c FROM b9_t ARRAY JOIN labels "
        "WHERE id < 3 GROUP BY labels ORDER BY labels",
    )
    assert [(r.labels, r.c) for r in grp.collect()] == [
        ("x", 1), ("y", 1), ("z", 1),
    ]


def test_array_join_multi_zips_positionally(spark, b9):
    """VERDICT r14 finding 1a: multi-array ``ARRAY JOIN a AS x, b AS
    y`` zips POSITIONALLY in ClickHouse (the old render emitted
    PARSE_SYNTAX_ERROR SQL).  Unequal lengths raise, as CH does."""
    rows = run(
        spark,
        "SELECT id, l, n FROM b9_t ARRAY JOIN labels AS l, nums AS n",
    )
    assert sorted((r.id, r.l, r.n) for r in rows.collect()) == [
        (1, "x", 10), (1, "y", 20), (2, "z", 30),
    ]
    # mixed bare + aliased
    mixed = run(
        spark, "SELECT id, labels, n FROM b9_t ARRAY JOIN labels, nums AS n"
    )
    assert sorted((r.id, r.labels, r.n) for r in mixed.collect()) == [
        (1, "x", 10), (1, "y", 20), (2, "z", 30),
    ]
    # SELECT * must not leak the position helper
    star = run(spark, "SELECT * FROM b9_t ARRAY JOIN labels AS l, nums AS n")
    assert not [c for c in star.columns if c.startswith("__aj")]
    # LEFT multi: the empty-array row survives with NULL elements —
    # the chained generator must use try_element_at (Spark's OUTER
    # generator feeds an internal pos of -1 before its null-out
    # projection; element_at threw INVALID_ARRAY_INDEX)
    left = run(
        spark,
        "SELECT id, l, n FROM b9_t LEFT ARRAY JOIN labels AS l, nums AS n",
    )
    assert sorted(((r.id, r.l, r.n) for r in left.collect()), key=str) == sorted(
        [(1, "x", 10), (1, "y", 20), (2, "z", 30), (3, None, None)], key=str
    )
    # unequal sizes: runtime error (ClickHouse errors too)
    spark.sql(
        "SELECT array(1, 2) AS a, array(9) AS b"
    ).createOrReplaceTempView("b9_bad")
    import pytest as _pytest

    with _pytest.raises(Exception, match="identical sizes"):
        run(spark, "SELECT x, y FROM b9_bad ARRAY JOIN a AS x, b AS y").collect()
    # bare non-column expression: loud refusal (CH requires an alias)
    with _pytest.raises(ValueError, match="alias"):
        translate("SELECT x FROM b9_t ARRAY JOIN arrayConcat(labels, labels)")


def test_array_join_subquery_and_expression(spark, b9):
    """A clause inside a derived table splices (the _rewrite_qualify
    recursion); an ALIASED expression item explodes in place."""
    sub = run(
        spark,
        "SELECT l FROM (SELECT l FROM b9_t ARRAY JOIN labels AS l) q "
        "ORDER BY l",
    )
    assert [r.l for r in sub.collect()] == ["x", "y", "z"]
    expr = run(
        spark,
        "SELECT id, n2 FROM b9_t ARRAY JOIN arrayMap(x -> x * 2, nums) AS n2",
    )
    assert sorted((r.id, r.n2) for r in expr.collect()) == [
        (1, 20), (1, 40), (2, 60),
    ]


def test_literal_guard_array_join_totals_final(spark, b9):
    """VERDICT r14 findings 1c + 2: the ARRAY JOIN, WITH TOTALS, and
    FINAL passes rewrote string literals in place — silent data
    corruption, the worst class.  All three repros from the verdict
    must round-trip byte-identical now."""
    for q in [
        "SELECT 'ARRAY JOIN arr AS y' AS s FROM b9_t",
        "SELECT 'GROUP BY g WITH TOTALS' AS s FROM b9_t",
        "SELECT 'run OPTIMIZE TABLE t FINAL now' AS s FROM b9_t",
    ]:
        assert translate(q) == q
        lit = q.split("'")[1]
        assert run(spark, q).first().s == lit


def test_totals_row_survives_having(spark, b9):
    """VERDICT r14 finding 3: ClickHouse ALWAYS emits the totals row
    when WITH TOTALS is specified — under the default totals_mode =
    'before_having' it aggregates ALL source rows; HAVING filters
    only the per-group rows.  The GROUPING SETS render previously
    applied HAVING to the totals row too."""
    rows = sorted(
        (
            (r.g, r.s)
            for r in run(
                spark,
                "SELECT g, sum(v) AS s FROM b9_t "
                "GROUP BY g WITH TOTALS HAVING count() > 1",
            ).collect()
        ),
        key=str,
    )
    # only a (2 rows) passes HAVING; totals row (6.0 over ALL rows) stays
    assert rows == sorted([("a", 3.0), (None, 6.0)], key=str)
    # a HAVING no group passes still emits the totals row
    only_totals = run(
        spark,
        "SELECT g, sum(v) AS s FROM b9_t "
        "GROUP BY g WITH TOTALS HAVING sum(v) > 100",
    ).collect()
    assert [(r.g, r.s) for r in only_totals] == [(None, 6.0)]


def test_advice_r14_group_by_all_and_distinct_on(spark, b9):
    """ADVICE r14: (1) implicit SELECT-item aliases (no AS) are
    stripped from the GROUP BY ALL expansion; (2) a leading CTE no
    longer breaks the expansion scan; (3) DISTINCT ON's outer ORDER
    BY drops non-projected sort columns (the window already enforced
    the winner) so the canonical Postgres form analyzes."""
    assert translate(
        "SELECT upper(g) gg, sum(v) AS s FROM b9_t GROUP BY ALL WITH TOTALS"
    ) == (
        "SELECT upper(g) gg, sum(v) AS s FROM b9_t "
        "GROUP BY GROUPING SETS ((upper(g)), ())"
    )
    cte = sorted(
        (
            (r.g, r.s)
            for r in run(
                spark,
                "WITH c AS (SELECT g, v FROM b9_t) "
                "SELECT g, sum(v) AS s FROM c GROUP BY ALL WITH TOTALS",
            ).collect()
        ),
        key=str,
    )
    assert cte == sorted([("a", 3.0), ("b", 3.0), (None, 6.0)], key=str)
    don = run(
        spark,
        "SELECT DISTINCT ON (g) g, id FROM b9_t ORDER BY g, v DESC",
    )
    assert [(r.g, r.id) for r in don.collect()] == [("a", 2), ("b", 3)]


def test_nested_tuple_and_chained_dot_access(spark, b9):
    """Round-15 composition probing: a tuple() nested in another
    tuple's ARGUMENTS survived one _rewrite_call pass (the scanner
    resumes after each replaced call) — now fixpoint-looped; and
    ``t.1.2`` chains rewrite through nested _N fields, including
    after a digit-final argument list (the decimal-literal lookbehind
    guards only the identifier head)."""
    assert translate("SELECT tuple(tuple(1, 2), 3).1.2 AS x") == (
        "SELECT named_struct('_1', named_struct('_1', 1, '_2', 2), "
        "'_2', 3)._1._2 AS x"
    )
    row = run(
        spark,
        "SELECT tuple(tuple(g, id), v).1.2 AS inner_id, "
        "tuple(id, 3).2 AS three FROM b9_t WHERE id = 1",
    ).first()
    assert (row.inner_id, row.three) == (1, 3)
    # decimal literals are untouched
    assert translate("SELECT 1.5 AS v, x + .25 AS w FROM t") == (
        "SELECT 1.5 AS v, x + .25 AS w FROM t"
    )


def test_columns_regex_selector(spark, b9):
    """``COLUMNS('regex')`` dynamic selector (+ APPLY composition):
    expands to the FROM table's name-matching columns at run() time
    (schema-aware, like star-APPLY); empty matches refuse loudly as
    ClickHouse does; literals are inert."""
    rows = run(spark, "SELECT COLUMNS('^(id|v)$') FROM b9_t ORDER BY id")
    assert rows.columns == ["id", "v"]
    agg = run(spark, "SELECT COLUMNS('^(id|v)$') APPLY(max) FROM b9_t").first()
    assert (agg["max(id)"], agg["max(v)"]) == (3, 3.0)
    mixed = run(spark, "SELECT g, COLUMNS('^v$') FROM b9_t WHERE id = 2").first()
    assert (mixed.g, mixed.v) == ("a", 2.0)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="matches no column"):
        run(spark, "SELECT COLUMNS('zzz') FROM b9_t")
    assert run(
        spark, "SELECT 'see COLUMNS(\\'^l\\') docs' AS s FROM b9_t LIMIT 1"
    ).first().s == "see COLUMNS('^l') docs"
