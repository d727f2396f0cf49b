"""Round-9 seed operators — the Spark 4 recursive-CTE surface, a
portable Count-Min sketch with mergeable counters, additive seasonal
decomposition, URL parsing, a parquet zone-map audit, datasketches-HLL
merge invariance, error-safe TRY arithmetic, an edit-distance fuzzy
near-dup witness, event-type audience-overlap Jaccard via bitmasks, and
exact weighted medians — 10 operators, 9 oracled + 1 declared
metadata audit.

Reference parity note: /root/reference (alehakad/FootballDataEngeneering)
contains no code (README.md:1-2 + LICENSE only — SURVEY.md §0), so these
extend SURVEY.md §2's own declared inventory, continuing the r4→r8
growth playbook.

Import discipline: leaf modules only at module scope (det / registry /
session) — see seeds8's note.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from engine.det import _CENTS_SQL, cents_col, pround
from engine.registry import query
from engine.session import load


HIER_START_CAP = 200
CMS_P = 2147483647  # 2^31 - 1 (Mersenne prime)
CMS_W = 64
CMS_ROWS = ((1_000_003, 17), (999_983, 29), (1_000_033, 47), (999_979, 71))
CMS_PROBES = (0, 1, 2, 3, 4)
EDIT_CAP = 100
EDIT_PREFIX = 40
EDIT_MAX_DIST = 10
EVENT_TYPE_CODES = (
    ("click", 0),
    ("error", 1),
    ("purchase", 2),
    ("signup", 3),
    ("view", 4),
)


# ---------------------------------------------------------------------------
# sql_recursive_hierarchy — WITH RECURSIVE ancestor walk (Spark 4 RCTE)
# ---------------------------------------------------------------------------

# One SQL text for BOTH engines (the same-SQL-both-engines discipline as
# sql_exists_subquery): a derived part hierarchy parent(p) = ⌊p/7⌋ walks
# each capped start part up its ancestor chain, accumulating exact
# retail-price cents; recursion terminates when the parent id has no
# part row (or reaches 0). Depth is bounded by log₇(max key).
_HIER_SQL = f"""
    WITH RECURSIVE walk AS (
      SELECT p_partkey AS start_key,
             p_partkey AS cur,
             0 AS depth,
             CAST(FLOOR(p_retailprice * 100 + 0.5) AS BIGINT) AS cost
      FROM part WHERE p_partkey < {HIER_START_CAP}
      UNION ALL
      SELECT w.start_key, p.p_partkey, w.depth + 1,
             w.cost + CAST(FLOOR(p.p_retailprice * 100 + 0.5) AS BIGINT)
      FROM walk w
      JOIN part p
        ON p.p_partkey = CAST(FLOOR(w.cur / 7.0) AS BIGINT)
       AND w.cur >= 7
    )
    SELECT start_key,
           CAST(MAX(depth) AS INT) AS chain_depth,
           CAST(MAX(cost) AS BIGINT) AS chain_cost_cents
    FROM walk GROUP BY start_key
"""


@query("sql_recursive_hierarchy", oracle=_HIER_SQL)
def sql_recursive_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recursive CTE (WITH RECURSIVE — new in Spark 4): hierarchical
    ancestor walk over a derived part taxonomy (parent = ⌊key/7⌋),
    returning each start part's chain depth and exact accumulated cost.
    IDENTICAL SQL text runs on Spark and DuckDB.

    Scale design: Spark executes the recursion as an iterative
    union-loop of JOINS — each step is a distributed hash join on the
    parent key, never a driver loop; total work is
    Σ_steps |frontier| with depth ≤ log₇(max key) (the same bounded-
    iteration argument as llm_dedup_clusters' connected components,
    which hand-rolls the loop the CTE now expresses declaratively).
    The start population is capped (HIER_START_CAP = 200) only to keep
    the witness small; the recursion itself is corpus-size-independent
    in depth. All arithmetic is exact integer cents.
    """
    load(spark, sf_dir, "part").createOrReplaceTempView("part")
    return spark.sql(_HIER_SQL)


# ---------------------------------------------------------------------------
# agg_countmin_sketch — portable mergeable Count-Min sketch
# ---------------------------------------------------------------------------


def _cms_oracle() -> str:
    hashes = " UNION ALL ".join(
        f"SELECT {j} AS j, {a} AS a, {b} AS b"
        for j, (a, b) in enumerate(CMS_ROWS)
    )
    probes = ", ".join(f"({u})" for u in CMS_PROBES)
    return f"""
    WITH h AS ({hashes}),
    counters AS (
      SELECT h.j, ((h.a * e.user_id + h.b) % {CMS_P}) % {CMS_W} AS bucket,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM events e CROSS JOIN h
      GROUP BY 1, 2
    ),
    probes(user_id) AS (VALUES {probes}),
    est AS (
      SELECT p.user_id,
             MIN(COALESCE(c.cnt, 0)) AS cm_est
      FROM probes p
      CROSS JOIN h
      LEFT JOIN counters c
        ON c.j = h.j
       AND c.bucket = ((h.a * p.user_id + h.b) % {CMS_P}) % {CMS_W}
      GROUP BY 1
    ),
    exact AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_exact
      FROM events WHERE user_id IN ({", ".join(map(str, CMS_PROBES))})
      GROUP BY 1
    )
    SELECT e.user_id,
           CAST(e.cm_est AS BIGINT) AS cm_est,
           CAST(COALESCE(x.n_exact, 0) AS BIGINT) AS n_exact,
           CAST(e.cm_est >= COALESCE(x.n_exact, 0) AS INT) AS overestimates
    FROM est e LEFT JOIN exact x USING (user_id)
    """


@query("agg_countmin_sketch", oracle=_cms_oracle())
def agg_countmin_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch over the user_id frequency stream: 4 hash rows ×
    64 buckets of PURE-INTEGER counters (hₐ,ᵦ(u) = ((a·u+b) mod p) mod w
    with fixed constants — portable across engines, unlike xxhash), plus
    point-frequency estimates for 5 probe users with the CM guarantee
    (est ≥ exact) emitted as a checked flag.

    This is the mergeable heavy-hitter state for 100 TB streams: the
    counter table is a fixed 256-cell grid built by ONE map-side-combined
    aggregation (explode ×4 then groupBy — commutative integer sums, so
    partition order is irrelevant and partial sketches merge by
    addition). The probe lookup joins the metadata-sized counter grid
    broadcast-style. DuckDB runs the identical arithmetic, so even the
    sketch ERROR is bit-identical — an oracled sketch, unlike the
    declared-drift HLL/GK audits.
    """
    e = load(spark, sf_dir, "events")
    h = spark.createDataFrame(
        [(j, a, b) for j, (a, b) in enumerate(CMS_ROWS)], "j int, a long, b long"
    )
    # Hot path: the 4 bucket ids are computed INLINE per row and
    # posexploded — whole-stage-codegen arithmetic + one map-combined
    # aggregation, no join at all on the fact side (the crossJoin
    # formulation lives on in the oracle; measured ~2× on the
    # fact-side stage). The tiny BNLJ below touches only the 5-probe ×
    # 4-row × 256-cell metadata grids.
    buckets = F.array(
        *[
            (((F.lit(a) * F.col("user_id") + F.lit(b)) % CMS_P) % CMS_W)
            for a, b in CMS_ROWS
        ]
    )
    counters = (
        e.select(F.posexplode(buckets).alias("j", "bucket"))
        .groupBy("j", "bucket")
        .agg(F.count("*").alias("cnt"))
    )
    probes = spark.createDataFrame([(u,) for u in CMS_PROBES], "user_id long")
    ctr = counters.select(
        F.col("j").alias("cj"), F.col("bucket").alias("cb"), "cnt"
    )
    est = (
        probes.crossJoin(F.broadcast(h))
        .join(
            F.broadcast(ctr),
            (F.col("cj") == F.col("j"))
            & (
                F.col("cb")
                == ((F.col("a") * F.col("user_id") + F.col("b")) % CMS_P)
                % CMS_W
            ),
            "left",
        )
        .groupBy("user_id")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("cm_est"))
    )
    exact = (
        e.filter(F.col("user_id").isin(*CMS_PROBES))
        .groupBy("user_id")
        .agg(F.count("*").alias("n_exact"))
    )
    return (
        est.join(F.broadcast(exact), "user_id", "left")
        .select(
            "user_id",
            F.col("cm_est").cast("bigint"),
            F.coalesce(F.col("n_exact"), F.lit(0))
            .cast("bigint")
            .alias("n_exact"),
            (
                F.col("cm_est") >= F.coalesce(F.col("n_exact"), F.lit(0))
            )
            .cast("int")
            .alias("overestimates"),
        )
    )


# ---------------------------------------------------------------------------
# ts_seasonal_decompose — additive hour-of-day decomposition
# ---------------------------------------------------------------------------


@query(
    "ts_seasonal_decompose",
    oracle=f"""
    WITH c AS (
      SELECT event_type, CAST(EXTRACT(hour FROM ts) AS INT) AS hr,
             {_CENTS_SQL} AS c
      FROM events
    ), cell AS (
      SELECT event_type, hr,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(c) AS BIGINT) AS s1,
             CAST(SUM(c * c) AS BIGINT) AS s2
      FROM c GROUP BY 1, 2
    ), g AS (
      SELECT event_type,
             CAST(SUM(n) AS BIGINT) AS gn,
             CAST(SUM(s1) AS BIGINT) AS gs
      FROM cell GROUP BY 1
    )
    SELECT cell.event_type, cell.hr, cell.n,
           ROUND(CAST(cell.s1 AS DOUBLE) / cell.n, 4) AS hour_mean,
           ROUND(CAST(cell.s1 AS DOUBLE) / cell.n
                 - CAST(g.gs AS DOUBLE) / g.gn, 4) AS hour_effect,
           ROUND(SQRT(CAST(cell.s2 AS DOUBLE) / cell.n
                 - (CAST(cell.s1 AS DOUBLE) / cell.n)
                   * (CAST(cell.s1 AS DOUBLE) / cell.n)), 4) AS within_rms
    FROM cell JOIN g ON g.event_type = cell.event_type
    """,
)
def ts_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive seasonal decomposition of event value by hour-of-day:
    per (type, hour) cell — mean, effect vs the type's grand mean, and
    within-cell RMS — the value-weighted companion of seeds6's
    count-share events_hourly_profile.

    One map-combined pass collects exact integer (n, Σc, Σc²) per cell
    (alphabet×24 grid — metadata-sized at any corpus size); every
    downstream statistic is the same literal IEEE expression over those
    exact integers on both engines. The grand means come from
    re-aggregating the GRID, never a second fact scan.
    """
    e = load(spark, sf_dir, "events")
    c = cents_col(F.col("value"))
    cell = (
        e.select(
            "event_type", F.hour("ts").cast("int").alias("hr"), c.alias("c")
        )
        .groupBy("event_type", "hr")
        .agg(
            F.count("*").alias("n"),
            F.sum("c").alias("s1"),
            F.sum(F.col("c") * F.col("c")).alias("s2"),
        )
    )
    g = cell.groupBy("event_type").agg(
        F.sum("n").alias("gn"), F.sum("s1").alias("gs")
    )
    mean = F.col("s1").cast("double") / F.col("n")
    return cell.join(F.broadcast(g), "event_type").select(
        "event_type",
        "hr",
        "n",
        pround(mean, 4).alias("hour_mean"),
        pround(mean - F.col("gs").cast("double") / F.col("gn"), 4).alias(
            "hour_effect"
        ),
        pround(
            F.sqrt(F.col("s2").cast("double") / F.col("n") - mean * mean), 4
        ).alias("within_rms"),
    )


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
# source_rowgroup_stats — parquet zone-map audit (declared metadata op)
# ---------------------------------------------------------------------------


@query("source_rowgroup_stats")
def source_rowgroup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet row-group zone-map audit: per row group of
    lineitem.parquet — row count, l_orderkey min/max from the FOOTER
    statistics (no data pages read), and whether the groups are
    key-clustered (each group's min beyond the previous max — the
    property that makes min/max skipping effective).

    Declared rows-only (the 13th audit-family entry): the oracle SQL
    surface sees table VIEWS, not file paths, and row-group layout is
    not content-derivable — tests/test_seeds9_properties.py instead
    checks this output cell-for-cell against DuckDB's
    ``parquet_metadata()`` of the same file. Metadata-plane op: the
    driver reads ONLY the footer (pyarrow), the same operation a
    catalog service runs per shard to validate clustering before
    relying on skip-scans at 100 TB.
    """
    import pyarrow.parquet as pq

    schema_str = (
        "row_group int, n_rows bigint, min_orderkey bigint, "
        "max_orderkey bigint, clustered_after_prev int"
    )
    md = pq.ParquetFile(f"{sf_dir}/lineitem.parquet").metadata
    if md.num_row_groups == 0:  # empty file: footer carries no groups
        return spark.createDataFrame([], schema_str)
    col_idx = {
        md.row_group(0).column(i).path_in_schema: i
        for i in range(md.row_group(0).num_columns)
    }["l_orderkey"]
    rows = []
    prev_max = None
    for rg in range(md.num_row_groups):
        g = md.row_group(rg)
        st = g.column(col_idx).statistics
        if st is None or st.min is None:  # 0-row group: no stats written
            rows.append((rg, g.num_rows, None, None, 1))
            continue
        clustered = int(prev_max is None or st.min > prev_max)
        rows.append((rg, g.num_rows, st.min, st.max, clustered))
        prev_max = st.max if prev_max is None else max(prev_max, st.max)
    return spark.createDataFrame(rows, schema_str)


# ---------------------------------------------------------------------------
# agg_hll_sketch_mergeable — datasketches HLL two-level merge invariance
# ---------------------------------------------------------------------------


HLL_MERGE_REL_BOUND = 0.10  # ≫ 3σ of the lgK=12 default rsd (~1.6 %)


@query(
    "agg_hll_sketch_mergeable",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           CAST(1 AS INT) AS merged_within_bound,
           CAST(1 AS INT) AS single_within_bound
    FROM events GROUP BY 1
    """,
)
def agg_hll_sketch_mergeable(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datasketches-HLL mergeability audit (`hll_sketch_agg` /
    `hll_union_agg` — Spark 4's portable sketch surface): per event
    type, per-day sketches UNIONED up and the single-pass sketch must
    BOTH estimate the true cardinality within the error envelope — the
    property that lets 100 TB rollups keep fixed-width sketch state per
    partition/day and merge upward without re-scanning (the sketch twin
    of agg_bitmap_distinct's exact bitmaps).

    The audited invariant is deliberately the ERROR BOUND, not
    merged == single: the two paths ARE bit-identical while sketches
    stay in sparse mode (sf0.001/sf0.01 fixtures) but diverge once
    promotion to dense HLL happens on different merge orders (observed
    at sf0.1, 1500 users/type — merged 1500 vs single estimates a few
    counts apart). Pinning equality would encode a small-cardinality
    accident as a contract. The 10 % bound is ≫ the published 3σ for
    lgK = 12 (~5 %), so the flags are deterministic at every fixture
    SF; agg_hll_drift audits the actual error magnitude. Both sketch
    passes are map-combined with fixed-width partial state.
    """
    e = load(spark, sf_dir, "events")
    per_day = e.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("d")
    ).agg(F.hll_sketch_agg("user_id").alias("sk"))
    merged = per_day.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est_merged")
    )
    single = e.groupBy("event_type").agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias(
            "est_single"
        ),
        F.count_distinct("user_id").alias("exact_users"),
    )
    exact = F.col("exact_users").cast("double")
    bound = F.lit(HLL_MERGE_REL_BOUND) * exact
    return merged.join(F.broadcast(single), "event_type").select(
        "event_type",
        F.col("exact_users").cast("bigint"),
        (F.abs(F.col("est_merged") - exact) <= bound)
        .cast("int")
        .alias("merged_within_bound"),
        (F.abs(F.col("est_single") - exact) <= bound)
        .cast("int")
        .alias("single_within_bound"),
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


# ---------------------------------------------------------------------------
# llm_edit_distance_dedup — Levenshtein fuzzy near-dup witness
# ---------------------------------------------------------------------------


@query(
    "llm_edit_distance_dedup",
    oracle=f"""
    WITH p AS (
      SELECT doc_id, SUBSTRING(text, 1, {EDIT_PREFIX}) AS pfx
      FROM documents WHERE doc_id < {EDIT_CAP}
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(LEVENSHTEIN(a.pfx, b.pfx) AS INT) AS edit_dist
    FROM p a JOIN p b ON a.doc_id < b.doc_id
    WHERE LEVENSHTEIN(a.pfx, b.pfx) <= {EDIT_MAX_DIST}
    """,
)
def llm_edit_distance_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance fuzzy near-dup witness: document-prefix pairs with
    Levenshtein ≤ 10 — the character-level screen that catches small
    in-place edits (typo fixes, date stamps) which token-set Jaccard
    scores as identical and embedding cosine smooths over.

    Witness population absolutely capped (doc_id < 100 — the
    VERDICT-r3-mandated O(1) witness rule), because pairwise
    Levenshtein is O(n²·L²): the production screen at corpus scale
    first bands by length + fingerprint (llm_fingerprint /
    llm_lsh_neardup candidates) and only verifies CANDIDATE pairs with
    the same JVM levenshtein() used here. Unit-cost edit distance has
    one definition — both engines agree exactly.
    """
    d = load(spark, sf_dir, "documents")
    p = d.filter(F.col("doc_id") < EDIT_CAP).select(
        "doc_id", F.substring("text", 1, EDIT_PREFIX).alias("pfx")
    )
    a, b = p.alias("a"), p.alias("b")
    dist = F.levenshtein(F.col("a.pfx"), F.col("b.pfx"))
    return (
        a.join(F.broadcast(b), F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            dist.cast("int").alias("edit_dist"),
        )
        .filter(F.col("edit_dist") <= EDIT_MAX_DIST)
    )


# ---------------------------------------------------------------------------
# events_user_overlap_jaccard — audience overlap via type bitmasks
# ---------------------------------------------------------------------------


def _type_code_sql() -> str:
    return (
        "CASE "
        + " ".join(
            f"WHEN event_type = '{t}' THEN {c}" for t, c in EVENT_TYPE_CODES
        )
        + " END"
    )


def _overlap_oracle() -> str:
    pairs = " UNION ALL ".join(
        f"SELECT '{a}' AS type_a, '{b}' AS type_b, {ca} AS bit_a, {cb} AS bit_b"
        for (a, ca) in EVENT_TYPE_CODES
        for (b, cb) in EVENT_TYPE_CODES
        if a < b
    )
    return f"""
    WITH m AS (
      SELECT user_id,
             BIT_OR(CAST(1 AS BIGINT) << ({_type_code_sql()})) AS mask
      FROM events GROUP BY user_id
    ), g AS (
      SELECT mask, CAST(COUNT(*) AS BIGINT) AS n_users FROM m GROUP BY 1
    ), pairs AS ({pairs})
    SELECT p.type_a, p.type_b,
           CAST(SUM(CASE WHEN (g.mask >> p.bit_a) % 2 = 1
                          AND (g.mask >> p.bit_b) % 2 = 1
                         THEN g.n_users ELSE 0 END) AS BIGINT) AS n_both,
           CAST(SUM(CASE WHEN (g.mask >> p.bit_a) % 2 = 1
                           OR (g.mask >> p.bit_b) % 2 = 1
                         THEN g.n_users ELSE 0 END) AS BIGINT) AS n_either,
           ROUND(CAST(SUM(CASE WHEN (g.mask >> p.bit_a) % 2 = 1
                                AND (g.mask >> p.bit_b) % 2 = 1
                               THEN g.n_users ELSE 0 END) AS DOUBLE)
                 / NULLIF(SUM(CASE WHEN (g.mask >> p.bit_a) % 2 = 1
                                     OR (g.mask >> p.bit_b) % 2 = 1
                                   THEN g.n_users ELSE 0 END), 0), 6)
             AS jaccard
    FROM pairs p CROSS JOIN g
    GROUP BY 1, 2
    """


@query("events_user_overlap_jaccard", oracle=_overlap_oracle())
def events_user_overlap_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap matrix: Jaccard similarity of the USER SETS of
    every event-type pair — 'how much does the purchase audience overlap
    the error audience' — computed through per-user type BITMASKS, not
    a self-join of the fact.

    Scale design: one user_id aggregation folds each user's types into
    a 5-bit mask (bit_or — commutative integer state); the mask
    HISTOGRAM (≤ 2⁵ rows at any corpus size) is all the pair grid ever
    touches, so the 10-pair overlap matrix costs one fact shuffle plus
    metadata arithmetic. The self-join formulation the oracle avoids
    too — both engines run the same mask algebra.
    """
    e = load(spark, sf_dir, "events")
    m = e.groupBy("user_id").agg(
        F.bit_or(
            F.expr(f"shiftleft(cast(1 as bigint), {_type_code_sql()})")
        ).alias("mask")
    )
    g = m.groupBy("mask").agg(F.count("*").alias("n_users"))
    pairs = spark.createDataFrame(
        [
            (a, b, ca, cb)
            for (a, ca) in EVENT_TYPE_CODES
            for (b, cb) in EVENT_TYPE_CODES
            if a < b
        ],
        "type_a string, type_b string, bit_a int, bit_b int",
    )
    has_a = F.expr("(mask & shiftleft(cast(1 as bigint), bit_a)) != 0")
    has_b = F.expr("(mask & shiftleft(cast(1 as bigint), bit_b)) != 0")
    n_both = F.sum(F.when(has_a & has_b, F.col("n_users")).otherwise(0))
    n_either = F.sum(F.when(has_a | has_b, F.col("n_users")).otherwise(0))
    return (
        pairs.crossJoin(F.broadcast(g))
        .groupBy("type_a", "type_b")
        .agg(
            n_both.cast("bigint").alias("n_both"),
            n_either.cast("bigint").alias("n_either"),
            # try_divide: a pair neither of whose types occurs at all
            # (tiny/degenerate corpora) has |A∪B| = 0 — NULL Jaccard,
            # not an ANSI abort (one-row exact sweep).
            pround(
                F.try_divide(n_both.cast("double"), n_either),
                6,
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# agg_weighted_median — exact weighted median via cumulative crossing
# ---------------------------------------------------------------------------


@query(
    "agg_weighted_median",
    oracle="""
    WITH r AS (
      SELECT l_returnflag,
             CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS price_c,
             CAST(l_quantity AS BIGINT) AS w
      FROM lineitem
    ), cum AS (
      SELECT l_returnflag, price_c,
             SUM(w) OVER (PARTITION BY l_returnflag
                          ORDER BY price_c
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cw,
             SUM(w) OVER (PARTITION BY l_returnflag) AS tw
      FROM r
    )
    SELECT l_returnflag,
           CAST(MAX(tw) AS BIGINT) AS total_weight,
           CAST(MIN(CASE WHEN 2 * cw >= tw THEN price_c END) AS BIGINT)
             AS wmedian_cents
    FROM cum GROUP BY 1
    """,
)
def agg_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact weighted median of line price weighted by quantity, per
    return flag — the order statistic percentile() cannot express
    (weights ≠ frequencies of distinct rows).

    Pure-integer crossing rule: sort by exact price cents, first price
    where 2·cum_weight ≥ total_weight. Rows tied on price can permute
    within the cumulative sum without changing WHICH PRICE crosses, so
    no unique tiebreak is needed for the reported value — and no float
    appears anywhere. Scale: one l_returnflag partitioning shared by
    both windows + the final aggregate; the 100 TB swap for the full
    sort is the weighted GK sketch, audited the same way as
    agg_percentile_drift.
    """
    li = load(spark, sf_dir, "lineitem")
    r = li.select(
        "l_returnflag",
        F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("price_c"),
        F.col("l_quantity").cast("bigint").alias("w"),
    )
    return weighted_median_core(r)


def weighted_median_core(r: DataFrame) -> DataFrame:
    """The integer crossing-rule weighted median over any
    (l_returnflag, price_c, w) frame — factored for the hypothesis
    reference check (tests/test_seeds89_refchecks.py)."""
    w_cum = (
        W.partitionBy("l_returnflag")
        .orderBy("price_c")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    w_all = W.partitionBy("l_returnflag")
    cum = r.select(
        "l_returnflag",
        "price_c",
        F.sum("w").over(w_cum).alias("cw"),
        F.sum("w").over(w_all).alias("tw"),
    )
    return cum.groupBy("l_returnflag").agg(
        F.max("tw").cast("bigint").alias("total_weight"),
        F.min(F.when(2 * F.col("cw") >= F.col("tw"), F.col("price_c")))
        .cast("bigint")
        .alias("wmedian_cents"),
    )
