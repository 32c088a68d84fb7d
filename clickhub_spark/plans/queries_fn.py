"""Scalar function queries (``q_fn_*``): one oracle-checked query per
ClickHouse function family, each exercising several functions over the
columns the reference schema would run them on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clickhub_spark.catalog import load
from clickhub_spark.plans.registry import query


@query(
    "q_fn_interval",
    oracle="""
    SELECT o_orderkey,
           o_orderdate + INTERVAL 30 DAY AS due_date,
           o_orderdate - INTERVAL 1 MONTH AS month_before,
           CAST(last_day(CAST(o_orderdate AS DATE)) AS DATE) AS month_end
    FROM orders
    """,
)
def q_fn_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval arithmetic + calendar functions (≙ ClickHouse
    addDays/subtractMonths/toLastDayOfMonth, SURVEY §2.G2 extension)."""
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).alias("due_date"),
        (F.col("o_orderdate") - F.expr("INTERVAL 1 MONTH")).alias("month_before"),
        F.last_day(F.col("o_orderdate")).alias("month_end"),
    )


@query(
    "q_fn_string",
    oracle="""
    SELECT doc_id,
           upper(substr(text, 1, 10)) AS head_upper,
           CAST(length(text) AS INT) AS n_chars_fn,
           CAST(strpos(text, 'data') AS INT) AS data_pos,
           regexp_extract(text, '^([a-z]+)', 1) AS first_word,
           (text LIKE '%merge%') AS has_merge,
           concat(lang, ':', source) AS lang_source
    FROM documents
    """,
)
def q_fn_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String family: upper/substring/length/instr/regexp_extract/like/
    concat (≙ ClickHouse upper/substring/position/extract/like/concat
    over message/path/body, SURVEY §2.G1)."""
    return load(spark, sf_dir, "documents").select(
        "doc_id",
        F.upper(F.substring("text", 1, 10)).alias("head_upper"),
        F.length("text").alias("n_chars_fn"),
        F.instr(F.col("text"), "data").alias("data_pos"),
        F.regexp_extract("text", r"^([a-z]+)", 1).alias("first_word"),
        F.col("text").like("%merge%").alias("has_merge"),
        F.concat(F.col("lang"), F.lit(":"), F.col("source")).alias("lang_source"),
    )


@query(
    "q_fn_date",
    oracle="""
    SELECT event_id,
           CAST(year(ts) AS INT) AS y,
           CAST(month(ts) AS INT) AS m,
           CAST(dayofmonth(ts) AS INT) AS d,
           CAST(hour(ts) AS INT) AS h,
           CAST(date_trunc('week', ts) AS TIMESTAMP) AS week_start,
           CAST(ts AS DATE) AS event_date,
           CAST(datediff('day', CAST(ts AS DATE), DATE '2024-03-01') AS INT) AS days_to_march
    FROM events
    """,
)
def q_fn_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time family: toYear/toMonth/toStartOfWeek/toDate/dateDiff
    analogs (≙ ClickHouse date fns over time/created_at, SURVEY §2.G2)."""
    return load(spark, sf_dir, "events").select(
        "event_id",
        F.year("ts").alias("y"),
        F.month("ts").alias("m"),
        F.dayofmonth("ts").alias("d"),
        F.hour("ts").alias("h"),
        F.date_trunc("week", F.col("ts")).alias("week_start"),
        F.to_date("ts").alias("event_date"),
        F.datediff(F.lit("2024-03-01").cast("date"), F.to_date("ts")).alias("days_to_march"),
    )


@query(
    "q_fn_math",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ROUND(l_extendedprice * (1 - l_discount), 4) AS net_price,
           CAST(floor(l_quantity) AS BIGINT) AS qty_floor,
           ROUND(abs(l_discount - 0.05), 4) AS disc_dev,
           l_orderkey // 100 AS order_bucket,
           l_orderkey % 7 AS order_mod
    FROM lineitem
    """,
)
def q_fn_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math family: round/floor/abs/intDiv/modulo/arithmetic (≙
    ClickHouse math fns over the lines_* metrics, SURVEY §2.G3)."""
    return load(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4).alias("net_price"),
        F.floor("l_quantity").alias("qty_floor"),
        F.round(F.abs(F.col("l_discount") - 0.05), 4).alias("disc_dev"),
        F.expr("l_orderkey div 100").alias("order_bucket"),
        (F.col("l_orderkey") % 7).alias("order_mod"),
    )


@query(
    "q_fn_cond",
    oracle="""
    SELECT event_id,
           CASE WHEN value >= 80 THEN 'high'
                WHEN value >= 40 THEN 'mid'
                ELSE 'low' END AS tier,
           coalesce(nullif(event_type, 'error'), 'UNKNOWN') AS safe_type
    FROM events
    """,
)
def q_fn_cond(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional family: multiIf ≙ chained when/otherwise, coalesce,
    nullIf (SURVEY §2.G4)."""
    return load(spark, sf_dir, "events").select(
        "event_id",
        F.when(F.col("value") >= 80, "high")
        .when(F.col("value") >= 40, "mid")
        .otherwise("low")
        .alias("tier"),
        F.coalesce(F.nullif(F.col("event_type"), F.lit("error")), F.lit("UNKNOWN")).alias(
            "safe_type"
        ),
    )


@query(
    "q_fn_array",
    oracle="""
    SELECT w AS word, COUNT(*) AS cnt
    FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
    GROUP BY w
    ORDER BY cnt DESC, word ASC
    LIMIT 20
    """,
)
def q_fn_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array family: split + arrayJoin(explode) + group (≙ ClickHouse
    arrayJoin over labels/assignees, SURVEY §2.G5) — word frequency
    top-20 with a total ordering (word is unique tiebreak)."""
    return (
        load(spark, sf_dir, "documents")
        .select(F.explode(F.split("text", " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), F.col("word").asc())
        .limit(20)
    )


@query(
    "q_fn_json",
    oracle="""
    SELECT event_type,
           ROUND(AVG(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4) AS avg_k,
           CAST(MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS max_k
    FROM events GROUP BY event_type
    """,
)
def q_fn_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON family: JSONExtract ≙ get_json_object over the events.props
    JSON string column (SURVEY §2.G6)."""
    k = F.get_json_object("props", "$.k").cast("bigint")
    return (
        load(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.round(F.avg(k), 4).alias("avg_k"),
            F.max(k).alias("max_k"),
        )
    )


@query(
    "q_fn_hash",
    oracle="""
    SELECT doc_id, md5(text) AS text_md5, sha256(text) AS text_sha256,
           substr(md5(lang), 1, 8) AS lang_bucket
    FROM documents
    """,
)
def q_fn_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash/encode family: cityHash64-class content hashing ≙ md5/sha2
    (SURVEY §2.G7; engine-portable hashes — xxhash64 is used engine-
    internally for bucketing/minhash where no oracle is needed)."""
    return load(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5("text").alias("text_md5"),
        F.sha2(F.col("text"), 256).alias("text_sha256"),
        F.substring(F.md5("lang"), 1, 8).alias("lang_bucket"),
    )


@query(
    "q_fn_url",
    oracle="""
    WITH u AS (
        SELECT doc_id,
               'https://github.com/' || source || '/' || lang
                   || '?doc=' || doc_id || '&v=2' AS url
        FROM documents
    )
    SELECT doc_id,
           regexp_extract(url, '^([a-z]+):', 1) AS protocol,
           regexp_extract(url, '^[a-z]+://([^/?#]+)', 1) AS host,
           regexp_extract(url, '^[a-z]+://[^/?#]+([^?#]*)', 1) AS path,
           regexp_extract(url, '[?&]doc=([^&#]*)', 1) AS doc_param
    FROM u
    """,
)
def q_fn_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL functions (ClickHouse protocol/domain/path/
    extractURLParameter) via Spark's parse_url — JVM builtin, no UDF;
    URLs synthesized deterministically from documents columns."""
    u = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("https://github.com/"),
            F.col("source"),
            F.lit("/"),
            F.col("lang"),
            F.lit("?doc="),
            F.col("doc_id"),
            F.lit("&v=2"),
        ).alias("url"),
    )
    return u.select(
        "doc_id",
        F.lower(F.parse_url("url", F.lit("PROTOCOL"))).alias("protocol"),
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.parse_url("url", F.lit("PATH")).alias("path"),
        F.parse_url("url", F.lit("QUERY"), F.lit("doc")).alias("doc_param"),
    )


@query(
    "q_fn_variant",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
           ROUND(value, 4) AS v_value,
           event_type AS v_type
    FROM events
    """,
)
def q_fn_variant(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse JSON/Object-type analog via Spark 4 VariantType
    (SURVEY §2.G6 extension): the props JSON column is parsed into a
    semi-structured ``parse_json`` variant and fields are extracted
    with typed ``variant_get`` paths; a second variant is built from
    row values (to_json → parse_json) and round-tripped back out, so
    the oracle checks the whole encode/decode against the original
    columns.  What this query demonstrates: typed extraction from a
    binary-encoded variant plus a lossless build/extract round-trip.
    (It parses the JSON string at scan time — parse-once-store-variant
    and parquet variant shredding/pushdown are NOT exercised or
    plan-tested here; storing the parsed variant in parquet is the
    scale path for repeated querying of schemaless columns.)"""
    ev = load(spark, sf_dir, "events")
    props_v = F.parse_json("props")
    row_v = F.parse_json(F.to_json(F.struct("value", "event_type")))
    return ev.select(
        "event_id",
        F.variant_get(props_v, "$.k", "bigint").alias("k"),
        F.round(F.variant_get(row_v, "$.value", "double"), 4).alias("v_value"),
        F.variant_get(row_v, "$.event_type", "string").alias("v_type"),
    )


@query(
    "q_fn_higher_order",
    oracle="""
    SELECT vec_id,
           ROUND(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                         x -> x * x)), 4) AS norm_sq,
           CAST(len(list_filter(CAST(embedding AS DOUBLE[]),
                                x -> x > 0)) AS INT) AS n_positive,
           ROUND(list_aggregate(CAST(embedding AS DOUBLE[]), 'max'), 4) AS max_dim
    FROM embeddings
    """,
)
def q_fn_higher_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions (≙ ClickHouse arrayMap/arrayFilter/
    arraySum/arrayMax over Array columns, SURVEY §2.G5 extension) —
    all lambda expressions stay inside codegen, no UDF."""
    vec = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return load(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.round(
            F.aggregate(
                F.transform(vec, lambda x: x * x), F.lit(0.0), lambda a, x: a + x
            ),
            4,
        ).alias("norm_sq"),
        F.size(F.filter(vec, lambda x: x > 0)).alias("n_positive"),
        F.round(F.array_max(vec), 4).alias("max_dim"),
    )


@query(
    "q_fn_bitwise",
    oracle="""
    SELECT event_id,
           event_id & 255 AS low_byte,
           event_id | 4096 AS with_flag,
           xor(event_id, user_id) AS xored,
           event_id << 2 AS shifted_l,
           event_id >> 3 AS shifted_r
    FROM events
    """,
)
def q_fn_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise family (≙ ClickHouse bitAnd/bitOr/bitXor/bitShift*,
    used for flag fields and hash bucketing)."""
    ev = load(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.col("event_id").bitwiseAND(F.lit(255)).alias("low_byte"),
        F.col("event_id").bitwiseOR(F.lit(4096)).alias("with_flag"),
        F.col("event_id").bitwiseXOR(F.col("user_id")).alias("xored"),
        F.expr("shiftleft(event_id, 2)").alias("shifted_l"),
        F.expr("shiftright(event_id, 3)").alias("shifted_r"),
    )


@query(
    "q_fn_geo",
    oracle="""
    WITH pts AS (
        SELECT c_custkey,
               (c_custkey % 180) - 89.5 AS lat,
               ((c_custkey * 7) % 360) - 179.5 AS lon
        FROM customer
    )
    SELECT c_custkey,
           ROUND(2 * 6371.0 * ASIN(SQRT(
               SIN(RADIANS(lat) / 2) * SIN(RADIANS(lat) / 2)
               + COS(RADIANS(lat)) * SIN(RADIANS(lon) / 2) * SIN(RADIANS(lon) / 2)
           )), 2) AS dist_km,
           CAST(FLOOR(lat / 10) AS BIGINT) AS cell_lat,
           CAST(FLOOR(lon / 10) AS BIGINT) AS cell_lon
    FROM pts
    """,
)
def q_fn_geo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geo function family (ClickHouse greatCircleDistance /
    geohashEncode analogs, SURVEY §2.G extension): haversine
    great-circle distance to the origin plus a 10-degree grid cell id,
    all builtin trig — map-only, whole-stage-codegen, no UDF.  Coords
    are derived deterministically from the key so both engines compute
    from identical inputs."""
    c = load(spark, sf_dir, "customer")
    lat = (F.col("c_custkey") % 180) - 89.5
    lon = ((F.col("c_custkey") * 7) % 360) - 179.5
    half_lat = F.radians(lat) / 2
    half_lon = F.radians(lon) / 2
    dist_km = (
        2
        * 6371.0
        * F.asin(
            F.sqrt(
                F.sin(half_lat) * F.sin(half_lat)
                + F.cos(F.radians(lat)) * F.sin(half_lon) * F.sin(half_lon)
            )
        )
    )
    return c.select(
        "c_custkey",
        F.round(dist_km, 2).alias("dist_km"),
        F.floor(lat / 10).alias("cell_lat"),
        F.floor(lon / 10).alias("cell_lon"),
    )


@query(
    "q_fn_ip",
    oracle="""
    WITH ips AS (
        SELECT event_id, (user_id * 1000003 + 16909060) % 4294967296 AS ip_num
        FROM events
    )
    SELECT event_id, ip_num,
           CAST((ip_num // 16777216) % 256 AS VARCHAR) || '.' ||
           CAST((ip_num // 65536) % 256 AS VARCHAR) || '.' ||
           CAST((ip_num // 256) % 256 AS VARCHAR) || '.' ||
           CAST(ip_num % 256 AS VARCHAR) AS ip_str,
           (ip_num // 16777216) % 256 = 1 AS in_1_0_0_0_8
    FROM ips
    """,
)
def q_fn_ip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IP function family (ClickHouse IPv4NumToString /
    IPv4StringToNum / isIPAddressInRange analogs, SURVEY §2.G
    extension): numeric↔dotted-quad conversion and a /8 CIDR
    membership test, pure integer arithmetic — map-only, no UDF.
    The address is derived deterministically from user_id so both
    engines see identical inputs."""
    ev = load(spark, sf_dir, "events")
    ip = (F.col("user_id") * 1000003 + 16909060) % F.lit(4294967296)
    octet = lambda div: (ip / div).cast("long") % 256  # noqa: E731
    return ev.select(
        "event_id",
        ip.alias("ip_num"),
        F.concat_ws(
            ".",
            octet(16777216).cast("string"),
            octet(65536).cast("string"),
            octet(256).cast("string"),
            (ip % 256).cast("string"),
        ).alias("ip_str"),
        (octet(16777216) == 1).alias("in_1_0_0_0_8"),
    )


@query(
    "q_fn_string2",
    oracle="""
    SELECT doc_id,
           lpad(lang, 5, '_') AS lang_pad,
           repeat(lang, 2) AS lang2,
           reverse(source) AS rev_source,
           translate(lang, 'aeiou', 'AEIOU') AS lang_caps,
           split_part(text, ' ', 1) AS first_word,
           CAST((length(text) - length(replace(text, 'the', ''))) / 3 AS BIGINT)
               AS n_the
    FROM documents
    """,
)
def q_fn_string2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extended string function family (SURVEY §2.G1 extension —
    ClickHouse leftPad/repeat/reverse/translate/splitByChar[1]/
    countSubstrings): all builtin, map-only.  countSubstrings uses the
    replace-length identity on both sides (no regex, engine-exact)."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.lpad("lang", 5, "_").alias("lang_pad"),
        F.repeat("lang", 2).alias("lang2"),
        F.reverse("source").alias("rev_source"),
        F.translate("lang", "aeiou", "AEIOU").alias("lang_caps"),
        F.split_part(F.col("text"), F.lit(" "), F.lit(1)).alias("first_word"),
        (
            (F.length("text") - F.length(F.replace(F.col("text"), F.lit("the"))))
            / 3
        )
        .cast("long")
        .alias("n_the"),
    )


@query(
    "q_fn_datetime2",
    oracle="""
    SELECT event_id,
           date_diff('day', DATE '2024-06-01', CAST(ts AS DATE)) AS days_since,
           CAST(ts + INTERVAL 2 MONTH AS DATE) AS plus2m,
           last_day(CAST(ts AS DATE)) AS month_end,
           strftime(ts, '%Y-%m') AS ym,
           (dayofweek(ts) + 6) % 7 AS dow_mon0,
           CAST(FLOOR(epoch(ts)) AS BIGINT) AS unix_ts
    FROM events
    """,
)
def q_fn_datetime2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second date/time function family (ClickHouse dateDiff /
    addMonths / toLastDayOfMonth / formatDateTime / toDayOfWeek /
    toUnixTimestamp analogs, SURVEY §2.G2 extension) — map-only
    builtins.  Day-of-week is normalized to Monday=0 on both sides
    (Spark dayofweek is 1=Sunday, DuckDB 0=Sunday — ClickHouse's
    toDayOfWeek is Monday-based)."""
    ev = load(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.datediff(F.to_date("ts"), F.lit("2024-06-01").cast("date")).alias(
            "days_since"
        ),
        F.add_months(F.to_date("ts"), 2).alias("plus2m"),
        F.last_day(F.to_date("ts")).alias("month_end"),
        F.date_format("ts", "yyyy-MM").alias("ym"),
        ((F.dayofweek("ts") + 5) % 7).alias("dow_mon0"),
        F.unix_timestamp("ts").alias("unix_ts"),
    )


@query(
    "q_fn_encode",
    oracle="""
    SELECT doc_id,
           base64(encode(text)) AS text_b64,
           lower(to_hex(doc_id)) AS id_hex,
           decode(from_base64(base64(encode(lang)))) = lang AS b64_roundtrip
    FROM documents
    """,
)
def q_fn_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encode/decode function family (ClickHouse base64Encode /
    base64Decode / hex analogs, SURVEY §2.G7 extension): RFC 4648
    base64, lowercase unpadded hex of an integer, and a
    decode(encode()) round-trip proof — map-only builtins.  Spark's
    base64 emits MIME CRLF line breaks every 76 chars (ClickHouse and
    DuckDB don't) — stripped here so the output is the canonical
    unchunked form."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.replace(
            F.base64(F.col("text").cast("binary")), F.lit("\r\n")
        ).alias("text_b64"),
        F.lower(F.hex("doc_id")).alias("id_hex"),
        (
            F.unbase64(F.base64(F.col("lang").cast("binary"))).cast("string")
            == F.col("lang")
        ).alias("b64_roundtrip"),
    )


@query(
    "q_fn_map",
    oracle="""
    WITH c AS (
        SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS cnt
        FROM events GROUP BY user_id, event_type
    )
    SELECT user_id,
           string_agg(event_type, ',' ORDER BY event_type) AS type_keys,
           string_agg(CAST(cnt AS VARCHAR), ',' ORDER BY event_type)
               AS type_counts,
           CAST(coalesce(MAX(CASE WHEN event_type = 'click' THEN cnt END), 0)
                AS BIGINT) AS n_click,
           CAST(count(*) AS INT) AS n_types
    FROM c GROUP BY user_id
    """,
)
def q_fn_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map function family (ClickHouse Map type + mapKeys/mapValues/
    map[key] — SURVEY §2.G extension): per-user event-type count map
    built with map_from_entries, read back with map_keys/map_values/
    element_at.  The map is exported as key-sorted parallel CSV
    strings — the SCALAR wire form (map iteration order is engine-
    internal in both systems, and the correctness driver's pandas
    canonicalizer cannot sort array cells — the round-6 driver-red
    lesson).  Two hash aggregates, no Python."""
    ev = load(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("cnt"))
    m = counts.groupBy("user_id").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("event_type", "cnt")))
        ).alias("m")
    )
    return m.select(
        "user_id",
        F.concat_ws(",", F.map_keys("m")).alias("type_keys"),
        F.concat_ws(
            ",", F.transform(F.map_values("m"), lambda v: v.cast("string"))
        ).alias("type_counts"),
        F.coalesce(F.element_at("m", F.lit("click")), F.lit(0)).alias("n_click"),
        F.size("m").alias("n_types"),
    )


@query(
    "q_fn_dictget",
    oracle="""
    SELECT c.c_custkey,
           coalesce(n.n_name, 'unknown') AS nation_name,
           coalesce(n2.n_name, 'unknown') AS shifted_name
    FROM customer c
    LEFT JOIN nation n ON n.n_nationkey = c.c_nationkey
    LEFT JOIN nation n2 ON n2.n_nationkey = c.c_nationkey + 20
    """,
)
def q_fn_dictget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary lookup (ClickHouse dictGet / dictGetOrDefault —
    SURVEY §2.G extension): the nation dim becomes an in-plan literal
    map (collected driver-side — bounded exactly like the IVF
    centroid table; 25 rows here, dictionaries are ≤millions by
    definition) probed with element_at, incl. the miss→default path
    via a shifted key.  This is ClickHouse's dictionary semantics
    re-expressed: at 100 TB the map literal ships once per executor
    inside the serialized plan — no join, no shuffle, map-only;
    the LEFT JOIN is the oracle's declarative equivalent."""
    nation = load(spark, sf_dir, "nation").select("n_nationkey", "n_name").collect()
    entries: list[F.Column] = []
    for row in nation:
        entries.append(F.lit(int(row["n_nationkey"])))
        entries.append(F.lit(row["n_name"]))
    dict_map = F.create_map(*entries)
    c = load(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.coalesce(
            F.element_at(dict_map, F.col("c_nationkey")), F.lit("unknown")
        ).alias("nation_name"),
        F.coalesce(
            F.element_at(dict_map, F.col("c_nationkey") + 20), F.lit("unknown")
        ).alias("shifted_name"),
    )


@query(
    "q_fn_map_higher",
    oracle="""
    WITH c AS (
        SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS cnt
        FROM events GROUP BY user_id, event_type
    )
    SELECT user_id,
           COALESCE(string_agg(event_type, ',' ORDER BY event_type)
                    FILTER (cnt >= 3), '') AS hot_types,
           CAST(2 * SUM(cnt) AS BIGINT) AS total_doubled,
           CAST(SUM(cnt * length(event_type)) AS BIGINT) AS weighted
    FROM c GROUP BY user_id
    """,
)
def q_fn_map_higher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map higher-order functions (ClickHouse mapFilter / mapApply /
    mapZip analogs; Spark map_filter / transform_values /
    map_zip_with — SURVEY §2.G5/G extension over q_fn_map): per-user
    event-count maps filtered by value, value-transformed, and zipped
    with a per-key weight map.  Results export as a key-sorted CSV
    string / scalars (map iteration order is engine-internal, and the
    correctness driver's pandas canonicalizer cannot sort array cells
    — the round-6 driver-red lesson; a user with NO hot types gets ''
    on both sides, hence the oracle's COALESCE over the FILTERed
    string_agg); everything after the count aggregate is map-side
    expression work."""
    ev = load(spark, sf_dir, "events")
    counts = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("cnt"))
    m = counts.groupBy("user_id").agg(
        F.map_from_entries(
            F.array_sort(F.collect_list(F.struct("event_type", "cnt")))
        ).alias("m")
    )
    hot = F.map_keys(F.map_filter(F.col("m"), lambda k, v: v >= 3))
    doubled = F.transform_values(F.col("m"), lambda k, v: v * 2)
    weights = F.transform_values(F.col("m"), lambda k, v: F.length(k).cast("bigint"))
    zipped = F.map_zip_with(F.col("m"), weights, lambda k, v, w: v * w)
    arr_sum = lambda c: F.aggregate(  # noqa: E731
        F.map_values(c), F.lit(0).cast("bigint"), lambda acc, x: acc + x
    )
    return m.select(
        "user_id",
        F.concat_ws(",", F.array_sort(hot)).alias("hot_types"),
        arr_sum(doubled).alias("total_doubled"),
        arr_sum(zipped).alias("weighted"),
    )


@query(
    "q_fn_array_diff",
    oracle="""
    WITH seq AS (
        SELECT user_id,
               list(CAST(floor(value) AS BIGINT) ORDER BY ts, event_id) AS vals
        FROM events GROUP BY user_id
    )
    SELECT user_id,
           array_to_string([CASE WHEN i = 1 THEN 0 ELSE vals[i] - vals[i - 1] END
            FOR i IN generate_series(1, len(vals))], ',') AS diffs,
           array_to_string([list_sum(vals[1:i])
            FOR i IN generate_series(1, len(vals))], ',') AS cumsum,
           CAST(len(vals) AS INT) AS n
    FROM seq
    """,
)
def q_fn_array_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """arrayDifference / arrayCumSum (ClickHouse's array-series
    functions over groupArray — SURVEY §2.G5 extension): per-user
    time-ordered value series with element-wise differences and
    running totals computed INSIDE the array via higher-order
    functions — no second window pass, one shuffle for the collect.
    Integer floor()ed values keep series content bit-exact across
    engines; both series export as CSV strings, not arrays — the
    correctness driver's pandas canonicalizer cannot sort array cells
    (round-6 driver-red lesson).  Honest cost note: the slice-fold
    cumsum is O(n²) per array (fine for bounded per-key series like
    these); for unbounded series use the running-sum WINDOW form
    (q_win_running) instead of collecting."""
    ev = load(spark, sf_dir, "events")
    seq = ev.groupBy("user_id").agg(
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.struct("ts", "event_id", F.floor("value").cast("bigint").alias("v"))
                )
            ),
            lambda s: s["v"],
        ).alias("vals")
    )
    idx = F.sequence(F.lit(1), F.size("vals"))
    return seq.select(
        "user_id",
        F.concat_ws(
            ",",
            F.transform(
                idx,
                lambda i: F.when(i == 1, F.lit(0).cast("bigint"))
                .otherwise(
                    F.element_at(F.col("vals"), i)
                    - F.element_at(F.col("vals"), i - 1)
                )
                .cast("string"),
            ),
        ).alias("diffs"),
        F.concat_ws(
            ",",
            F.transform(
                idx,
                lambda i: F.aggregate(
                    F.slice(F.col("vals"), 1, i),
                    F.lit(0).cast("bigint"),
                    lambda acc, x: acc + x,
                ).cast("string"),
            ),
        ).alias("cumsum"),
        F.size("vals").alias("n"),
    )


@query(
    "q_fn_numbers",
    oracle="""
    WITH n AS (SELECT x AS num FROM generate_series(0, 9999) t(x))
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(SUM(num) AS BIGINT) AS total,
           CAST(SUM(CASE WHEN num % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_div3,
           ROUND(AVG(SQRT(num)), 4) AS avg_sqrt
    FROM n
    """,
)
def q_fn_numbers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numbers-table generator (ClickHouse system.numbers /
    numbers(N) — SURVEY §2.A5 adjacent, the zero-input test/backfill
    source every CH user leans on): ``spark.range`` IS that source —
    a distributed, splittable Range scan (each partition generates its
    slice; no data read, no single-point generator), here folded
    through arithmetic the oracle restates over generate_series."""
    n = spark.range(0, 10_000).withColumnRenamed("id", "num")
    return n.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("num").alias("total"),
        F.sum(F.when(F.col("num") % 3 == 0, 1).otherwise(0)).alias("n_div3"),
        F.round(F.avg(F.sqrt("num")), 4).alias("avg_sqrt"),
    )


@query(
    "q_fn_array_enumerate",
    oracle="""
    WITH a AS (
        SELECT doc_id, string_split(text, ' ')[1:12] AS ws FROM documents
        WHERE len(string_split(text, ' ')) >= 12
    )
    SELECT doc_id,
           array_to_string([len(list_filter(ws[1:i], w -> w = ws[i]))
                            for i in range(1, len(ws)+1)], ',') AS occ_idx
    FROM a ORDER BY doc_id
    """,
)
def q_fn_array_enumerate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """arrayEnumerateUniq (ClickHouse per-element occurrence index —
    SURVEY §2.G5 family): for each array position, how many times has
    this element appeared up to and including it.  Pure array
    higher-order expression (transform over 1..n with a filtered
    prefix count) — no explode, no window, no shuffle; quadratic only
    in the (bounded) array length.  Exported as a CSV string — the
    correctness driver's pandas canonicalizer cannot sort array cells
    (round-6 driver-red lesson); the string cast also erases the
    INT-vs-BIGINT element-width difference between F.size and
    DuckDB len()."""
    a = (
        load(spark, sf_dir, "documents")
        .select("doc_id", F.slice(F.split("text", " "), 1, 12).alias("ws"))
        .where(F.size(F.split("text", " ")) >= 12)
    )
    occ = F.transform(
        F.sequence(F.lit(1), F.size("ws")),
        lambda i: F.size(
            F.filter(
                F.slice(F.col("ws"), 1, i),
                lambda w: w == F.get(F.col("ws"), i - 1),
            )
        ).cast("string"),
    )
    return a.select("doc_id", F.concat_ws(",", occ).alias("occ_idx")).orderBy(
        "doc_id"
    )


@query(
    "q_fn_minmax_normalize",
    oracle="""
    WITH s AS (
        SELECT event_id, event_type, value,
               MIN(value) OVER (PARTITION BY event_type) AS lo,
               MAX(value) OVER (PARTITION BY event_type) AS hi
        FROM events WHERE value IS NOT NULL AND event_id < 5000
    )
    SELECT event_id, event_type,
           ROUND(CASE WHEN hi = lo THEN 0.5
                      ELSE (value - lo) / (hi - lo) END, 6) AS value_norm
    FROM s ORDER BY event_id
    """,
)
def q_fn_minmax_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group min-max feature scaling (the normalization step
    before score mixing / model input — SURVEY §2.H/J7 utility):
    (x−min)/(max−min) per event_type with the degenerate
    constant-group case pinned to 0.5.  One group shuffle; the
    min/max windows and the projection share it."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("event_type")
    s = (
        load(spark, sf_dir, "events")
        .where(F.col("value").isNotNull() & (F.col("event_id") < 5000))
        .select(
            "event_id",
            "event_type",
            "value",
            F.min("value").over(w).alias("lo"),
            F.max("value").over(w).alias("hi"),
        )
    )
    norm = F.when(F.col("hi") == F.col("lo"), 0.5).otherwise(
        (F.col("value") - F.col("lo")) / (F.col("hi") - F.col("lo"))
    )
    return s.select(
        "event_id", "event_type", F.round(norm, 6).alias("value_norm")
    ).orderBy("event_id")


@query(
    "q_fn_round_modes",
    oracle="""
    WITH n AS (SELECT x AS n FROM generate_series(1, 1000) t(x)),
    v AS (
        SELECT n, (n - 500) / 2.0 AS half, (n - 500) / 4.0 AS q FROM n
    )
    SELECT n,
           round_even(half, 0) + 0.0 AS bankers0,
           ROUND(half, 0) + 0.0 AS round0,
           round_even(q, 1) + 0.0 AS bankers1,
           CAST(POWER(2, LENGTH(bin(n)) - 1) AS BIGINT) AS to_exp2
    FROM v ORDER BY n
    """,
)
def q_fn_round_modes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rounding-mode surface (ClickHouse ``roundBankers`` /
    ``round`` / ``roundToExp2`` — SURVEY §2.G3): banker's
    half-to-even (Spark ``bround`` vs DuckDB ``round_even``),
    half-away-from-zero (both engines' ROUND on ties), and
    round-down-to-power-of-two.  Tie inputs are multiples of 0.25/0.5
    — binary-EXACT doubles, so both engines see true decimal halves
    (arbitrary doubles would hit the shortest-rendering-vs-binary
    ROUND divergence).  roundToExp2 uses integer bit-length
    (``length(bin(n))-1``), not floor(log2(n)) — float logs can land
    an ulp under an exact power and floor off by one between libms."""
    n = spark.range(1, 1001).select(F.col("id").alias("n"))
    v = n.select(
        "n",
        ((F.col("n") - 500) / 2.0).alias("half"),
        ((F.col("n") - 500) / 4.0).alias("q"),
    )
    # + 0.0 on every rounded output (both sides): IEEE -0.0 + 0.0 is
    # +0.0, normalizing DuckDB's sign-preserving round_even(-0.5) ->
    # -0.0 against BigDecimal's unsigned zero.
    return v.select(
        "n",
        (F.bround(F.col("half"), 0) + F.lit(0.0)).alias("bankers0"),
        (F.round(F.col("half"), 0) + F.lit(0.0)).alias("round0"),
        (F.bround(F.col("q"), 1) + F.lit(0.0)).alias("bankers1"),
        F.pow(F.lit(2), F.length(F.bin(F.col("n"))) - 1)
        .cast("long")
        .alias("to_exp2"),
    ).orderBy("n")


@query(
    "q_fn_editdistance",
    oracle="""
    WITH pairs AS (
        SELECT d.doc_id,
               substr(d.text, 1, 24) AS a,
               substr(d2.text, 1, 24) AS b
        FROM documents d
        JOIN documents d2 ON d2.doc_id = d.doc_id + 1
    )
    SELECT doc_id,
           CAST(levenshtein(a, b) AS INT) AS edit_dist,
           CAST(CASE WHEN levenshtein(a, b) > 8 THEN -1
                     ELSE levenshtein(a, b) END AS INT) AS edit_dist_capped,
           FLOOR((1.0 - CAST(levenshtein(a, b) AS DOUBLE) /
                  GREATEST(len(a), len(b), 1)) * 10000) / 10000 AS sim_norm
    FROM pairs ORDER BY doc_id
    """,
)
def q_fn_editdistance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-distance function family (ClickHouse editDistance /
    editDistanceUTF8 — SURVEY §2.G1 extension; the scoring primitive
    under q_llm_dedup_editdist's blocked near-dup join): Levenshtein
    distance between each document's 24-char prefix and its
    successor's, plain + threshold-capped (Spark's 3-arg levenshtein
    returns -1 above the bound without finishing the DP table — the
    form to use inside a candidate-pair filter, where most pairs blow
    the bound early) + a normalized similarity.  The self-join on
    doc_id+1 is a co-partitioned merge of a presorted key — at scale
    both sides shuffle once on the same key.  FLOOR-scaled similarity
    (exact decimal halves diverge under ROUND)."""
    d = load(spark, sf_dir, "documents").select(
        "doc_id", F.substring("text", 1, 24).alias("a")
    )
    d2 = d.select((F.col("doc_id") - 1).alias("doc_id"), F.col("a").alias("b"))
    pairs = d.join(d2, "doc_id")
    lev = F.levenshtein("a", "b")
    # GREATEST(..., 1): two empty strings would otherwise divide 0/0,
    # which non-ANSI Spark renders NULL but DuckDB renders NaN — the
    # guard keeps the contract independent of data shape (ADVICE r7)
    sim = (
        F.lit(1.0)
        - lev.cast("double")
        / F.greatest(F.length("a"), F.length("b"), F.lit(1))
    )
    return pairs.select(
        "doc_id",
        lev.alias("edit_dist"),
        F.levenshtein("a", "b", 8).alias("edit_dist_capped"),
        (F.floor(sim * 10000) / 10000).alias("sim_norm"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# §2.G ARRAY JOIN / LEFT ARRAY JOIN
# --------------------------------------------------------------------------
@query(
    "q_fn_array_join",
    oracle="""
    WITH o AS (
        SELECT p_partkey,
               list_slice(string_split(p_name, ' '), 1,
                          CAST(p_partkey % 4 AS INT)) AS arr
        FROM part
    ), ex AS (
        SELECT o.p_partkey, u.word
        FROM o LEFT JOIN LATERAL (SELECT UNNEST(arr) AS word) u ON TRUE
    )
    SELECT COALESCE(word, '<empty>') AS word_g,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT p_partkey) AS BIGINT) AS n_parts
    FROM ex GROUP BY 1 ORDER BY n DESC, word_g LIMIT 20
    """,
)
def q_fn_array_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ARRAY JOIN + LEFT ARRAY JOIN (ClickHouse's explode clause):
    unnest an array column to one row per element, LEFT variant keeping
    rows whose array is empty (Spark ``explode_outer`` ≙ LEFT ARRAY
    JOIN; the NULL element those rows surface as is grouped under
    '<empty>' — dropping it would be plain ARRAY JOIN / ``explode``).

    Arrays are built per part as the first ``p_partkey % 4`` words of
    p_name (lengths 0–3, so ~¼ of parts exercise the LEFT path), then
    the exploded relation re-aggregates per word.  Plan: map-side
    Generate (explode) feeding one hash-aggregate shuffle — exploding
    never materializes per-row lists driver-side and the top-20 cut is
    TakeOrdered, so the shape holds at corpus scale."""
    arr = (
        load(spark, sf_dir, "part")
        .select(
            "p_partkey",
            F.slice(
                F.split("p_name", " "), 1, (F.col("p_partkey") % 4).cast("int")
            ).alias("arr"),
        )
    )
    ex = arr.select("p_partkey", F.explode_outer("arr").alias("word"))
    return (
        ex.groupBy(F.coalesce("word", F.lit("<empty>")).alias("word_g"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("p_partkey").alias("n_parts"),
        )
        .orderBy(F.col("n").desc(), F.col("word_g").asc())
        .limit(20)
    )
