"""Scalar function suites (SURVEY.md §2.H) — one query per family.

All expressions are built-in ``pyspark.sql.functions`` (JVM-side,
whole-stage-codegen'd — the 100 TB hot path stays out of Python).
Portability caveats from SURVEY.md §7.5.7 are honored: no ``initcap``,
no raw ``dayofweek``, DuckDB's reversed ``date_diff`` argument order.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from engine.det import (
    _CENTS_SQL,
    cents_col,
    cents_sql,
    exact_sum,
    exact_sum_sql,
    pround,
)
from engine.registry import query
from engine.session import load


@query(
    "fn_string",
    oracle="""
    SELECT c_custkey,
           UPPER(c_name) AS name_upper,
           LOWER(c_mktsegment) AS seg_lower,
           SUBSTRING(c_name, 1, 8) AS name_prefix,
           TRIM(CONCAT('  ', c_name, '  ')) AS name_trimmed,
           LENGTH(c_name) AS name_len,
           CONCAT_WS('-', c_mktsegment, c_name) AS seg_name,
           LPAD(CAST(c_custkey AS VARCHAR), 12, '0') AS key_padded,
           REPLACE(c_name, 'Customer', 'Cust') AS name_replaced,
           REGEXP_EXTRACT(c_name, '([0-9]+)', 1) AS name_digits
    FROM customer
    """,
)
def fn_string(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String function family (SURVEY.md §2.H fn_string)."""
    c = load(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.lower("c_mktsegment").alias("seg_lower"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.trim(F.concat(F.lit("  "), F.col("c_name"), F.lit("  "))).alias(
            "name_trimmed"
        ),
        F.length("c_name").alias("name_len"),
        F.concat_ws("-", "c_mktsegment", "c_name").alias("seg_name"),
        F.lpad(F.col("c_custkey").cast("string"), 12, "0").alias("key_padded"),
        F.replace(F.col("c_name"), F.lit("Customer"), F.lit("Cust")).alias(
            "name_replaced"
        ),
        F.regexp_extract("c_name", "([0-9]+)", 1).alias("name_digits"),
    )


@query(
    "fn_datetime",
    oracle="""
    SELECT o_orderkey,
           YEAR(o_orderdate) AS o_year,
           MONTH(o_orderdate) AS o_month,
           DAY(o_orderdate) AS o_day,
           DATE_TRUNC('month', o_orderdate) AS month_start,
           CAST(DATE_DIFF('day', TIMESTAMP '1995-01-01 00:00:00', o_orderdate) AS INT)
             AS days_since_95,
           o_orderdate + INTERVAL 30 DAY AS due_date,
           CAST(EPOCH(o_orderdate) AS BIGINT) AS epoch_s
    FROM orders
    """,
)
def fn_datetime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time function family (SURVEY.md §2.H fn_datetime).

    DuckDB's ``date_diff('day', start, end)`` argument order is the
    reverse of Spark's ``datediff(end, start)`` (SURVEY.md §7.5.7).
    """
    o = load(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("o_year"),
        F.month("o_orderdate").alias("o_month"),
        F.dayofmonth("o_orderdate").alias("o_day"),
        F.date_trunc("month", "o_orderdate").alias("month_start"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("timestamp"))
        .cast("int")
        .alias("days_since_95"),
        F.date_add(F.col("o_orderdate"), 30).cast("timestamp").alias("due_date"),
        F.unix_timestamp("o_orderdate").alias("epoch_s"),
    )


@query(
    "fn_math",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           ROUND(SQRT(l_extendedprice), 4) AS sqrt_price,
           ABS(l_quantity - 25.0) AS qty_dev,
           CAST(CEIL(l_discount * 100) AS BIGINT) AS disc_pct_ceil,
           CAST(FLOOR(l_tax * 100) AS BIGINT) AS tax_pct_floor,
           CASE WHEN l_extendedprice > 0
                THEN ROUND(LN(l_extendedprice), 4) END AS ln_price,
           CASE WHEN l_extendedprice > 0
                THEN ROUND(LOG10(l_extendedprice), 4) END AS log10_price,
           POW(l_quantity, 2) AS qty_sq,
           l_orderkey % 7 AS key_mod,
           CAST(SIGN(l_quantity - 25.0) AS INT) AS qty_sign
    FROM lineitem
    """,
)
def fn_math(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math function family (SURVEY.md §2.H fn_math).

    ``ln``/``log10`` are libm calls that may differ by 1 ulp across
    runtimes — rounded to 4 decimals (§7.5.2). ``sqrt``/``pow(x,2)``/
    ``abs`` are IEEE-exact. ``pmod`` == ``%`` for the all-positive keys.
    """
    li = load(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        pround(F.sqrt("l_extendedprice"), 4).alias("sqrt_price"),
        F.abs(F.col("l_quantity") - 25.0).alias("qty_dev"),
        F.ceil(F.col("l_discount") * 100).alias("disc_pct_ceil"),
        F.floor(F.col("l_tax") * 100).alias("tax_pct_floor"),
        pround(F.log(F.col("l_extendedprice")), 4).alias("ln_price"),
        pround(F.log10("l_extendedprice"), 4).alias("log10_price"),
        F.pow("l_quantity", F.lit(2)).alias("qty_sq"),
        F.pmod(F.col("l_orderkey"), F.lit(7)).alias("key_mod"),
        F.signum(F.col("l_quantity") - 25.0).cast("int").alias("qty_sign"),
    )


@query(
    "fn_array",
    oracle="""
    SELECT lang, token, COUNT(*) AS cnt
    FROM (SELECT lang, UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents)
    GROUP BY lang, token
    """,
)
def fn_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """split → explode → word count per language (SURVEY.md §2.H fn_array).

    Tokenization is whitespace split (FIXTURES.md: tokens carry no
    punctuation, so both engines split identically).
    """
    d = load(spark, sf_dir, "documents")
    return (
        d.select("lang", F.explode(F.split("text", " ")).alias("token"))
        .groupBy("lang", "token")
        .agg(F.count("*").alias("cnt"))
    )


@query(
    "fn_array_doc_stats",
    oracle="""
    SELECT doc_id,
           LEN(STRING_SPLIT(text, ' ')) AS n_tokens,
           CAST(LIST_CONTAINS(STRING_SPLIT(text, ' '), 'spark') AS INT) AS has_spark,
           STRING_SPLIT(text, ' ')[1] AS first_token
    FROM documents
    """,
)
def fn_array_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array size / contains / element_at per document (extra coverage
    beyond SURVEY.md §2.H fn_array)."""
    d = load(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.array_contains(toks, "spark").cast("int").alias("has_spark"),
        F.element_at(toks, 1).alias("first_token"),
    )


@query(
    "fn_json",
    oracle=f"""
    SELECT CAST(FLOOR(CAST(JSON_EXTRACT_STRING(props, '$.k') AS INT) / 10.0) AS INT)
             AS k_bucket,
           COUNT(*) AS n_events,
           {exact_sum_sql(cents_sql("value"), 100)} AS sum_value
    FROM events
    GROUP BY 1
    """,
)
def fn_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON extraction + cast + bucketed aggregate (SURVEY.md §2.H fn_json;
    cast on both sides per §7.5.8)."""
    ev = load(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    bucket = F.floor(k / 10.0).cast("int").alias("k_bucket")
    return ev.groupBy(bucket).agg(
        F.count("*").alias("n_events"),
        # exact cents sum (r10 quantization audit)
        exact_sum(cents_col(F.col("value")), 100).alias("sum_value"),
    )


@query(
    "fn_hash",
    oracle="""
    SELECT doc_id, MD5(text) AS text_md5 FROM documents
    """,
)
def fn_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """md5 content hash — the exact-dedup building block
    (SURVEY.md §2.H fn_hash; identical semantics verified in DuckDB)."""
    return load(spark, sf_dir, "documents").select(
        "doc_id", F.md5("text").alias("text_md5")
    )


@query(
    "fn_bitwise",
    oracle="""
    SELECT l_linestatus,
           CAST(BIT_AND(l_orderkey) AS BIGINT) AS key_bit_and,
           CAST(BIT_OR(l_orderkey) AS BIGINT) AS key_bit_or,
           CAST(BIT_XOR(l_orderkey) AS BIGINT) AS key_bit_xor,
           CAST(SUM(XOR(l_orderkey, l_partkey) % 1024) AS BIGINT)
             AS xor_bucket_sum
    FROM lineitem
    GROUP BY l_linestatus
    """,
)
def fn_bitwise(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise expression + aggregate surface: per-row XOR bucketing and
    the bit_and/bit_or/bit_xor aggregates (SURVEY.md §2.E family — used
    in practice for hash-partitioning checks and bitmap-style rollups).

    Pure integer arithmetic end to end — bit-identical on any engine,
    no rounding anywhere. One map-side-combined shuffle over the
    3-value status domain.
    """
    li = load(spark, sf_dir, "lineitem")
    return li.groupBy("l_linestatus").agg(
        F.bit_and("l_orderkey").alias("key_bit_and"),
        F.bit_or("l_orderkey").alias("key_bit_or"),
        F.bit_xor("l_orderkey").alias("key_bit_xor"),
        F.sum(
            F.col("l_orderkey").bitwiseXOR(F.col("l_partkey")) % 1024
        ).cast("bigint").alias("xor_bucket_sum"),
    )


LONG_TOKEN_REGEX = "[a-z]{6,}"


# ---------------------------------------------------------------------------
# fn_regexp_extract_report — regexp extraction profile
# ---------------------------------------------------------------------------


@query(
    "fn_regexp_extract_report",
    oracle=f"""
    WITH per_doc AS (
      SELECT doc_id, lang, text,
             regexp_extract_all(text, '{LONG_TOKEN_REGEX}') AS matches,
             regexp_extract(text, '{LONG_TOKEN_REGEX}') AS first_match
      FROM documents
    ), flat AS (
      SELECT doc_id, lang, UNNEST(matches) AS m FROM per_doc
    ), dstats AS (
      SELECT lang, COUNT(DISTINCT m) AS n_distinct FROM flat GROUP BY lang
    ), base AS (
      SELECT lang,
             CAST(SUM(LEN(matches)) AS BIGINT) AS n_matches,
             CAST(COUNT(CASE WHEN LEN(matches) > 0 THEN 1 END) AS BIGINT)
               AS n_docs_matched,
             ROUND(AVG(CASE WHEN first_match <> ''
                            THEN STRPOS(text, first_match) END), 4)
               AS avg_first_pos
      FROM per_doc GROUP BY lang
    )
    SELECT b.lang, b.n_matches, b.n_docs_matched, d.n_distinct,
           b.avg_first_pos
    FROM base b JOIN dstats d USING (lang)
    """,
)
def fn_regexp_extract_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regexp-extraction profile per language: total matches of
    ``{LONG_TOKEN_REGEX}`` (6+-letter runs), docs with ≥1 match,
    distinct matched tokens, and the mean position of the first match
    (1-based, via the first occurrence of the first matched string) —
    the regexp_extract_all / regexp_extract / instr function surface
    (SURVEY.md §2.G) exercised end-to-end, the extraction sibling of
    llm_token_regex's tokenizer.

    All JVM-side expressions inside whole-stage codegen (no Python);
    the only shuffle is the per-lang aggregate. Both engines run
    leftmost-greedy matching for this pattern class, and the
    first-match position is computed as plain substring search on the
    matched literal, so no engine-specific regex offset API is needed.
    """
    d = load(spark, sf_dir, "documents")
    per_doc = d.select(
        "doc_id",
        "lang",
        "text",
        F.expr(f"regexp_extract_all(text, '{LONG_TOKEN_REGEX}', 0)").alias(
            "matches"
        ),
        F.regexp_extract("text", LONG_TOKEN_REGEX, 0).alias("first_match"),
    )
    flat = per_doc.select(
        "lang", F.explode("matches").alias("m")
    )
    distinct_per_lang = flat.groupBy("lang").agg(
        F.countDistinct("m").alias("n_distinct")
    )
    base = per_doc.groupBy("lang").agg(
        F.sum(F.size("matches")).alias("n_matches"),
        F.count(F.when(F.size("matches") > 0, 1)).alias("n_docs_matched"),
        pround(
            F.avg(
                F.when(
                    F.col("first_match") != "",
                    F.expr("instr(text, first_match)"),
                )
            ),
            4,
        ).alias("avg_first_pos"),
    )
    return base.join(distinct_per_lang, "lang").select(
        "lang", "n_matches", "n_docs_matched", "n_distinct", "avg_first_pos"
    )


LAMBDA_HOT = 0.15


# ---------------------------------------------------------------------------
# fn_lambda_surface — higher-order array functions (transform/filter/
# exists/aggregate) over the embedding column
# ---------------------------------------------------------------------------


@query(
    "fn_lambda_surface",
    oracle=f"""
    SELECT vec_id,
           ROUND(list_aggregate(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'), 6)
             AS sum_sq,
           ROUND(list_aggregate(list_transform(embedding,
                 x -> ABS(CAST(x AS DOUBLE))), 'sum'), 6) AS l1_norm,
           CAST(LEN(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_pos,
           CAST(LEN(list_filter(embedding, x -> x > {LAMBDA_HOT})) > 0
                AS INT) AS has_hot
    FROM embeddings
    """,
)
def fn_lambda_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array lambda surface (SURVEY.md §2.H growth):
    ``transform`` / ``filter`` / ``exists`` / ``aggregate`` over the
    embedding vectors — sum of squares, L1 norm, positive-component
    count, hot-component flag.

    All four stay JVM-side (no Python UDF, no Arrow hop): lambdas
    compile to Catalyst HigherOrderFunction expressions (interpreted
    eval — Spark excludes them from whole-stage codegen — but still
    Tungsten-array-backed), and the plan is map-only with ZERO
    exchanges: per-vector feature math at scan bandwidth, the 100 TB
    shape. Determinism: both engines fold the array LEFT-TO-RIGHT
    over float→double promoted elements (probed bit-identical against
    DuckDB list_aggregate), rounded to 6 dp belt-and-braces.
    """
    e = load(spark, sf_dir, "embeddings")
    x2 = F.transform("embedding", lambda x: x.cast("double") * x.cast("double"))
    ax = F.transform("embedding", lambda x: F.abs(x.cast("double")))
    fold = lambda arr: F.aggregate(  # noqa: E731
        arr, F.lit(0.0).cast("double"), lambda a, x: a + x
    )
    return e.select(
        "vec_id",
        pround(fold(x2), 6).alias("sum_sq"),
        pround(fold(ax), 6).alias("l1_norm"),
        F.size(F.filter("embedding", lambda x: x > F.lit(0.0))).cast(
            "bigint"
        ).alias("n_pos"),
        F.exists("embedding", lambda x: x > F.lit(LAMBDA_HOT)).cast("int").alias(
            "has_hot"
        ),
    )


# ---------------------------------------------------------------------------
# fn_map_surface — map construction + map_filter / transform_values
# ---------------------------------------------------------------------------


@query(
    "fn_map_surface",
    oracle="""
    SELECT user_id, event_type,
           CAST(cnt * 10 + 1 AS BIGINT) AS boosted
    FROM (
      SELECT user_id, event_type, COUNT(*) AS cnt
      FROM events GROUP BY 1, 2
    ) WHERE cnt >= 3
    """,
)
def fn_map_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-typed column surface (SURVEY.md §2.H growth): per-user
    event-type counts built into a ``map<string,bigint>`` via
    ``map_from_entries``, pruned with ``map_filter`` (keep counts ≥ 3),
    rescored with ``transform_values``, and exploded back to rows.

    The map round-trip is the point — feature dictionaries ride through
    pipelines as map columns at 100 TB, and the lambda ops keep the
    manipulation JVM-side (no UDF, map stays Tungsten-encoded). The
    exploded row SET is deterministic even though map iteration order is
    not (the driver's compare is order-insensitive). Alphabet-bounded:
    ≤ 5 entries per user's map.
    """
    e = load(spark, sf_dir, "events")
    g = e.groupBy("user_id", "event_type").agg(F.count("*").alias("cnt"))
    m = g.groupBy("user_id").agg(
        F.map_from_entries(
            F.collect_list(F.struct("event_type", "cnt"))
        ).alias("m")
    )
    kept = m.select(
        "user_id",
        F.transform_values(
            F.map_filter("m", lambda k, v: v >= F.lit(3)),
            lambda k, v: v * 10 + 1,
        ).alias("m"),
    )
    ex = kept.select("user_id", F.explode("m").alias("event_type", "boosted"))
    return ex.select("user_id", "event_type", F.col("boosted").cast("bigint"))


# ---------------------------------------------------------------------------
# fn_url_parse — URL component extraction surface
# ---------------------------------------------------------------------------


@query(
    "fn_url_parse",
    oracle="""
    WITH u AS (
      SELECT doc_id,
             'https://' || source || '.example.com/docs/' || lang || '/' ||
             CAST(doc_id AS VARCHAR) || '?ref=' || lang || '&n=' ||
             CAST(n_chars AS VARCHAR) AS url
      FROM documents
    )
    SELECT doc_id,
           REGEXP_EXTRACT(url, '^https://([^/]+)', 1) AS host,
           REGEXP_EXTRACT(url, '^https://[^/]+(/[^?]*)', 1) AS path,
           CAST(REGEXP_EXTRACT(url, '[?&]n=([0-9]+)', 1) AS BIGINT)
             AS n_param
    FROM u
    """,
)
def fn_url_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL parsing surface (`parse_url` — the crawl-ingest primitive
    behind host-level dedup, robots grouping, and domain mixing): host,
    path, and a typed query parameter extracted from deterministic
    synthesized URLs (the fixtures carry no raw URLs, so the op builds
    them from document fields first — the parsing surface is what's
    under test).

    Spark's side uses the dedicated JVM `parse_url(url, 'HOST' | 'PATH'
    | 'QUERY', key)` expression; the oracle proves the same extraction
    with portable regexes. Map-only, zero shuffles — per-URL cost is
    scan bandwidth, which is what a 100 TB crawl normalization needs.
    """
    d = load(spark, sf_dir, "documents")
    url = F.concat(
        F.lit("https://"),
        F.col("source"),
        F.lit(".example.com/docs/"),
        F.col("lang"),
        F.lit("/"),
        F.col("doc_id").cast("string"),
        F.lit("?ref="),
        F.col("lang"),
        F.lit("&n="),
        F.col("n_chars").cast("string"),
    )
    u = d.select("doc_id", url.alias("url"))
    return u.select(
        "doc_id",
        F.parse_url("url", F.lit("HOST")).alias("host"),
        F.parse_url("url", F.lit("PATH")).alias("path"),
        F.parse_url("url", F.lit("QUERY"), F.lit("n"))
        .cast("bigint")
        .alias("n_param"),
    )


# ---------------------------------------------------------------------------
# fn_try_arith — error-safe TRY arithmetic surface
# ---------------------------------------------------------------------------


@query(
    "fn_try_arith",
    oracle=f"""
    WITH c AS (SELECT event_id, {_CENTS_SQL} AS c FROM events)
    SELECT event_id,
           ROUND(CASE WHEN c % 3 = 0 THEN NULL
                      ELSE CAST(c AS DOUBLE) / (c % 3) END, 4) AS safe_div,
           TRY_CAST(CASE WHEN c % 2 = 1 THEN CAST(c AS VARCHAR) || 'x'
                         ELSE CAST(c AS VARCHAR) END AS BIGINT)
             AS parsed_even
    FROM c
    """,
)
def fn_try_arith(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Error-safe TRY arithmetic surface (`try_divide`, `try_cast`) —
    the ingestion-grade arithmetic that yields NULL instead of aborting
    a 10⁶-task job on one malformed row: division guarded against the
    zero denominators (cents divisible by 3 → NULL) and numeric parsing
    of strings where odd cents carry a trailing junk character.

    Spark evaluates the dedicated TRY expressions; the oracle proves the
    identical NULL semantics with portable CASE/TRY_CAST. Map-only,
    whole-stage codegen, no shuffle.
    """
    e = load(spark, sf_dir, "events")
    c = e.select("event_id", cents_col(F.col("value")).alias("c"))
    junk = F.when(
        F.col("c") % 2 == 1, F.concat(F.col("c").cast("string"), F.lit("x"))
    ).otherwise(F.col("c").cast("string"))
    return c.select(
        "event_id",
        pround(
            F.try_divide(F.col("c").cast("double"), F.col("c") % 3), 4
        ).alias("safe_div"),
        junk.try_cast("bigint").alias("parsed_even"),
    )


AES_KEY = "0123456789abcdef"  # fixture-grade static key: the op audits


# ---------------------------------------------------------------------------
# fn_aes_roundtrip — AES encryption surface audit
# ---------------------------------------------------------------------------


@query(
    "fn_aes_roundtrip",
    oracle="""
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_roundtrip_ok
    FROM documents GROUP BY 1
    """,
)
def fn_aes_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AES column-encryption surface (`aes_encrypt`/`aes_decrypt` —
    the at-rest PII-column pattern): every document text encrypted and
    decrypted back, counting exact byte-level roundtrips per language;
    the oracle pins n_roundtrip_ok == n_docs, so a single mangled byte
    anywhere fails the hash.

    The ciphertext itself is NONDETERMINISTIC (random IV per call —
    exactly what you want operationally) and therefore never leaves
    the plan; only the roundtrip invariant is surfaced, which is the
    honest checkable contract. JVM-side GCM, map-only, no shuffle
    before the final per-lang count.
    """
    d = load(spark, sf_dir, "documents")
    decrypted = F.aes_decrypt(
        F.aes_encrypt(F.col("text").cast("binary"), F.lit(AES_KEY)),
        F.lit(AES_KEY),
    ).cast("string")
    return d.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.when(decrypted == F.col("text"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_roundtrip_ok"),
    )


EARTH_R_M = 6371000.0


# ---------------------------------------------------------------------------
# fn_haversine_distance — great-circle distance surface
# ---------------------------------------------------------------------------


@query(
    "fn_haversine_distance",
    oracle=f"""
    WITH pts AS (
      SELECT user_id,
             (CAST(user_id % 180 AS DOUBLE) - 89.5) AS lat,
             (CAST((user_id * 7) % 360 AS DOUBLE) - 179.5) AS lon
      FROM (SELECT DISTINCT user_id FROM events)
    )
    SELECT user_id, lat, lon,
           ROUND(2 * {EARTH_R_M!r} * ASIN(SQRT(
             SIN(RADIANS(lat - 48.8566) / 2) * SIN(RADIANS(lat - 48.8566) / 2)
             + COS(RADIANS(48.8566)) * COS(RADIANS(lat))
               * SIN(RADIANS(lon - 2.3522) / 2)
               * SIN(RADIANS(lon - 2.3522) / 2)
           )) / 1000, 2) AS dist_km
    FROM pts
    """,
)
def fn_haversine_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Haversine great-circle distance surface: per-user synthetic
    coordinates (derived deterministically from user_id — the fixtures
    carry no geo columns, so the trig surface is what's under test) to
    a fixed anchor point, in km.

    The formula is spelled with the same operation sequence on both
    engines (radians → sin/cos → asin of sqrt); libm sin/cos/asin are
    correctly-rounded for these magnitudes on both (glibc/JVM double
    trig), and the result rounds to 2 dp km — a ~10 m guard band, far
    above any ulp divergence. Map-only over the distinct-user table;
    geo joins at scale would band by geohash cell before any pairwise
    distance, the same candidate-then-verify shape as the LSH family.
    """
    e = load(spark, sf_dir, "events")
    pts = e.select("user_id").distinct().select(
        "user_id",
        ((F.col("user_id") % 180).cast("double") - 89.5).alias("lat"),
        (((F.col("user_id") * 7) % 360).cast("double") - 179.5).alias("lon"),
    )
    lat_a, lon_a = 48.8566, 2.3522
    dlat = F.radians(F.col("lat") - lat_a) / 2
    dlon = F.radians(F.col("lon") - lon_a) / 2
    h = (
        F.sin(dlat) * F.sin(dlat)
        + F.cos(F.radians(F.lit(lat_a)))
        * F.cos(F.radians(F.col("lat")))
        * F.sin(dlon)
        * F.sin(dlon)
    )
    return pts.select(
        "user_id",
        "lat",
        "lon",
        pround(2 * EARTH_R_M * F.asin(F.sqrt(h)) / 1000, 2).alias(
            "dist_km"
        ),
    )


# ---------------------------------------------------------------------------
# fn_variant_surface — Spark 4 VARIANT semi-structured type
# ---------------------------------------------------------------------------


@query(
    "fn_variant_surface",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(props::JSON ->> 'k' AS BIGINT)) AS BIGINT)
             AS sum_k,
           CAST(COUNT(CASE WHEN CAST(props::JSON ->> 'k' AS BIGINT) > 50
                      THEN 1 END) AS BIGINT) AS n_big_k
    FROM events GROUP BY 1
    """,
)
def fn_variant_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VARIANT semi-structured type surface (new in Spark 4):
    ``parse_json`` ingests the props JSON into a binary VARIANT column
    and ``variant_get`` extracts typed paths — the schema-on-read
    answer to evolving telemetry payloads, replacing per-query
    get_json_object string re-parsing with a parse-once binary
    encoding.

    At 100 TB the difference is material: VARIANT parses each payload
    ONCE at ingest (and columnar-shreds common paths in newer
    writers), while the string-JSON path re-tokenizes per expression —
    fn_json keeps the legacy surface for comparison. The oracle reads
    the same field through DuckDB's JSON extraction; typed-path
    extraction semantics must agree exactly.
    """
    e = load(spark, sf_dir, "events")
    v = e.select(
        "event_type",
        F.try_variant_get(F.parse_json("props"), "$.k", "long").alias("k"),
    )
    return v.groupBy("event_type").agg(
        F.sum("k").cast("bigint").alias("sum_k"),
        F.count(F.when(F.col("k") > 50, 1)).cast("bigint").alias("n_big_k"),
    )


# ---------------------------------------------------------------------------
# fn_csv_parse — from_csv expression surface
# ---------------------------------------------------------------------------


@query(
    "fn_csv_parse",
    oracle="""
    WITH r AS (
      SELECT doc_id,
             lang || ',' || source || ',' || CAST(n_chars AS VARCHAR)
               AS line
      FROM documents
    )
    SELECT doc_id,
           STRING_SPLIT(line, ',')[1] AS lang_p,
           STRING_SPLIT(line, ',')[2] AS source_p,
           CAST(STRING_SPLIT(line, ',')[3] AS BIGINT) AS n_chars_p
    FROM r
    """,
)
def fn_csv_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`from_csv` expression surface: an embedded CSV line (built
    in-query — the fixtures carry no raw CSV column) parsed back into a
    typed struct per row — the in-row codec for log lines and legacy
    feeds, the CSV sibling of fn_json/from_json.

    Schema-directed parsing (never inference row-by-row), whole
    operation JVM-side in a map-only plan; the oracle proves the same
    decomposition with portable string splitting. The roundtrip
    (build → parse → compare) makes delimiter/quoting drift visible in
    the hash.
    """
    d = load(spark, sf_dir, "documents")
    line = F.concat_ws(
        ",", F.col("lang"), F.col("source"), F.col("n_chars").cast("string")
    )
    parsed = F.from_csv(
        line, "lang_p string, source_p string, n_chars_p bigint"
    )
    return d.select("doc_id", parsed.alias("p")).select(
        "doc_id", "p.lang_p", "p.source_p", "p.n_chars_p"
    )


# ---------------------------------------------------------------------------
# fn_inline_stack — generator expression surface (inline / stack)
# ---------------------------------------------------------------------------


@query(
    "fn_inline_stack",
    oracle=f"""
    WITH base AS (
      SELECT event_id, event_type, {_CENTS_SQL} AS c FROM events
    )
    SELECT event_id, 'gross' AS measure, CAST(c AS BIGINT) AS val
    FROM base
    UNION ALL
    SELECT event_id, 'net', CAST(c - c // 10 AS BIGINT) FROM base
    UNION ALL
    SELECT event_id, 'fee', CAST(c // 10 AS BIGINT) FROM base
    """,
)
def fn_inline_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generator-expression surface: ``stack(3, ...)`` fans each event
    into three (measure, value) rows — gross, net, fee — in ONE
    projection (the row-generator siblings of explode; UNPIVOT compiles
    to the same Generate operator, and the oracle writes the UNION ALL
    longhand).

    Integer fee split (c div 10) keeps every generated value exact.
    Map-only Generate — the fan-out is a constant ×3, no shuffle, no
    join; at 100 TB this is how wide measures become long without
    paying UNION ALL's three scans (one scan here — the plan the
    oracle's formulation would triple).
    """
    e = load(spark, sf_dir, "events")
    c = cents_col(F.col("value"))
    stacked = F.expr(
        "stack(3, 'gross', c, 'net', c - c div 10, 'fee', c div 10) "
        "AS (measure, val)"
    )
    return (
        e.select("event_id", c.alias("c"))
        .select("event_id", stacked)
        .select("event_id", "measure", F.col("val").cast("bigint"))
    )


# ---------------------------------------------------------------------------
# fn_explode_outer — null-preserving generator semantics
# ---------------------------------------------------------------------------


@query(
    "fn_explode_outer",
    oracle="""
    WITH d AS (
      SELECT ROW_NUMBER() OVER () AS rid, doc_id,
             CASE WHEN doc_id % 3 = 0 THEN []
                  ELSE STRING_SPLIT(SUBSTRING(text, 1, 20), ' ') END AS arr
      FROM documents
    )
    SELECT d.doc_id, u.tok, CAST(1 AS BIGINT) AS marker
    FROM d LEFT JOIN (
      SELECT rid, UNNEST(arr) AS tok FROM d
    ) u USING (rid)
    """,
)
def fn_explode_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``explode_outer`` semantics: rows with EMPTY arrays survive the
    explode as a single NULL-token row (plain explode silently drops
    them — the classic row-loss bug when a pipeline explodes optional
    attachments/labels). Every third document's array is emptied to
    manufacture the case the fixtures don't contain (the
    agg_melt_nulls trick).

    The oracle builds the same null-preserving semantics with a LEFT
    JOIN against the UNNEST (DuckDB's unnest drops empties too — the
    join-back IS the portable spelling), keyed on a synthetic
    ROW_NUMBER rid rather than doc_id: explode_outer is strictly
    PER-ROW, and a doc_id-keyed join-back silently fans out across
    rows sharing a duplicated id (caught by the duplicate-keys exact
    sweep, tests/test_duplicate_rows.py). Same Generate operator,
    outer flag set; row counts prove no document vanishes.
    """
    d = load(spark, sf_dir, "documents").select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0, F.array().cast("array<string>"))
        .otherwise(F.split(F.substring("text", 1, 20), " "))
        .alias("arr"),
    )
    return d.select(
        "doc_id",
        F.explode_outer("arr").alias("tok"),
        F.lit(1).cast("bigint").alias("marker"),
    )


TZ_LOCAL = "America/New_York"


# ---------------------------------------------------------------------------
# fn_timezone_surface — IANA zone conversion for local-time analytics
# ---------------------------------------------------------------------------


@query(
    "fn_timezone_surface",
    oracle=f"""
    WITH l AS (
      SELECT (ts AT TIME ZONE 'UTC') AT TIME ZONE '{TZ_LOCAL}' AS lt,
             event_type
      FROM events
    )
    SELECT CAST(EXTRACT(hour FROM lt) AS INT) AS local_hour,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types
    FROM l GROUP BY 1
    """,
)
def fn_timezone_surface(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IANA timezone conversion (`convert_timezone`): the event stream's
    UTC timestamps viewed in America/New_York LOCAL time, aggregated by
    local hour — the 'when are users actually awake' analysis every
    session-pinned-UTC pipeline (§7.5 rule 1) still has to answer, done
    the only correct way: tzdata rules (DST transitions included), not
    a fixed offset.

    Both engines delegate to the SAME IANA database — Spark via
    ``convert_timezone(from, to, ts)``, DuckDB via the double
    ``AT TIME ZONE`` idiom — so the local-hour histogram agrees even
    across the EST/EDT boundary the fixture's multi-month span
    straddles (a fixed -5:00 offset would NOT hash-match; the op fails
    if either engine shortcuts the rules).
    """
    e = load(spark, sf_dir, "events")
    lt = F.convert_timezone(F.lit("UTC"), F.lit(TZ_LOCAL), F.col("ts"))
    return (
        e.select(F.hour(lt).cast("int").alias("local_hour"), "event_type")
        .groupBy("local_hour")
        .agg(
            F.count("*").cast("bigint").alias("n"),
            F.count_distinct("event_type").cast("bigint").alias("n_types"),
        )
    )


# ---------------------------------------------------------------------------
# fn_datetime_constructors — make_date / make_timestamp roundtrip
# ---------------------------------------------------------------------------


@query(
    "fn_datetime_constructors",
    oracle="""
    WITH c AS (
      SELECT o_orderkey, o_orderdate,
             make_date(CAST(EXTRACT(year FROM o_orderdate) AS INT),
                       CAST(EXTRACT(month FROM o_orderdate) AS INT),
                       CAST(EXTRACT(day FROM o_orderdate) AS INT))
               AS rebuilt_date,
             make_timestamp(CAST(EXTRACT(year FROM o_orderdate) AS BIGINT),
                            CAST(EXTRACT(month FROM o_orderdate) AS BIGINT),
                            CAST(EXTRACT(day FROM o_orderdate) AS BIGINT),
                            12, 30, 0) AS noonish
      FROM orders
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CASE WHEN rebuilt_date = CAST(o_orderdate AS DATE)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_roundtrip_ok,
           CAST(SUM(CAST(EXTRACT(hour FROM noonish) AS BIGINT)) AS BIGINT)
             AS hour_sum
    FROM c
    """,
)
def fn_datetime_constructors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datetime CONSTRUCTOR surface (`make_date` / `make_timestamp`):
    every order date decomposed into (year, month, day) components and
    rebuilt — the component-roundtrip identity that catches 1-based vs
    0-based month bugs, and the constructor path ingestion uses when
    dates arrive as separate fields (common in CSV/mainframe feeds).

    The roundtrip count is pinned equal to the row count by the oracle;
    the constructed 12:30 timestamp's hour-sum proves the time
    components land where declared. Pure calendar arithmetic — both
    engines implement the proleptic Gregorian calendar, so equality is
    exact. Map-only, one final 1-row aggregate.
    """
    o = load(spark, sf_dir, "orders")
    rebuilt = F.make_date(
        F.year("o_orderdate"), F.month("o_orderdate"), F.dayofmonth("o_orderdate")
    )
    noonish = F.make_timestamp(
        F.year("o_orderdate"),
        F.month("o_orderdate"),
        F.dayofmonth("o_orderdate"),
        F.lit(12),
        F.lit(30),
        F.lit(0),
    )
    c = o.select(
        (rebuilt == F.col("o_orderdate").cast("date")).cast("int").alias("ok"),
        F.hour(noonish).cast("bigint").alias("h"),
    )
    return c.agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum("ok").cast("bigint").alias("n_roundtrip_ok"),
        F.sum("h").cast("bigint").alias("hour_sum"),
    )
