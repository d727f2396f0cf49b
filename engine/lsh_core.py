"""Banded-LSH core — a LEAF module (registers nothing) holding the one
definition of each shared banded-candidate stage: the hot-bucket gate
(:func:`hot_bucket_sides`), the bucket self-join with its
first-collision-band guard (:func:`bucket_self_join`,
:func:`first_collision_guard`) and the candidate-doc Jaccard verify
(:func:`jaccard_verify`). The MinHash (word-token and char-shingle),
SimHash, embedding and decontamination paths all call them.
"""

from __future__ import annotations

from collections.abc import Callable
from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from engine.det import pround
from engine.llm_ops import (
    N_MINHASH,
    bitset_intersection,
    jaccard_ratio,
    minhash_hashes,
    packed_token_sets,
    size_prune,
)

N_BANDS = 4  # MinHash-LSH: 4 bands × 4 rows over the 16-perm signature

# Hot-bucket gate (r14, VERDICT r13 item 3 / optimization guide §2.4):
# band buckets with more rows than this are 2-D-salted in the candidate
# self-join so ONE pathological bucket (a 100 TB crawl with 10⁶
# byte-identical docs) cannot produce a single quadratic task. The
# fixture's largest bucket is ~1.1k rows (measured sf0.1), so the
# default never trips locally and the candidate join degenerates to the
# unsalted shape (g = 1 everywhere). Tests monkeypatch the module
# attribute to force the gate.
HOT_BUCKET_ROWS = 4096

_TOK_SQL = """
      SELECT DISTINCT doc_id, lang, token FROM (
        SELECT doc_id, lang, UNNEST(STRING_SPLIT(text, ' ')) AS token
        FROM documents)
"""


# ---------------------------------------------------------------------------
# MinHash-LSH near-dup (scale path of llm_jaccard_neardup)
# ---------------------------------------------------------------------------


def _minhash_sig(tok: DataFrame) -> DataFrame:
    # Permutation hashes precomputed per distinct token (vocabulary ≪
    # occurrences), broadcast back onto occurrence rows — see
    # engine.llm_ops.minhash_hashes.
    joined = tok.join(F.broadcast(minhash_hashes(tok)), "token")
    return joined.groupBy("doc_id", "lang").agg(
        *[F.min(f"p{i:02d}").alias(f"h{i:02d}") for i in range(N_MINHASH)]
    )


def band_rows(sig: DataFrame) -> DataFrame:
    """(doc_id, lang, band, bv, abv) rows from a minhash signature frame.

    One explode over an array of (band, band-hash) structs — a 4-way
    union here would recompute the signature aggregate per branch; the
    explode computes it once, and identical subplans on the two sides
    of a bucket self-join reuse one shuffle (ReusedExchange). Shared by
    :func:`lsh_neardup_pairs` and the cross-corpus decontamination
    (llm_decontaminate_lsh).

    ``bv`` is the UNHEX'd md5 — 16 raw bytes instead of a 32-char hex
    string. unhex is a bijection on canonical md5 output, so binary
    equality ≡ the oracle's hex-string equality (the mirrored candidate
    contract is untouched) while join keys and shuffle rows are half
    the width (optimization guide §2.3, narrower types). ``abv`` packs
    ALL band hashes per row so a consumer can detect collisions in
    earlier bands without a second pass (see :func:`lsh_neardup_pairs`'s
    first-collision-band dedup); consumers that don't need it project
    it away before any exchange."""
    per_band = N_MINHASH // N_BANDS
    band_hash = [
        F.unhex(
            F.md5(
                F.concat_ws(
                    "|",
                    *[
                        f"h{i:02d}"
                        for i in range(b * per_band, (b + 1) * per_band)
                    ],
                )
            )
        )
        for b in range(N_BANDS)
    ]
    band_structs = F.array(
        *[
            F.struct(F.lit(b).alias("band"), band_hash[b].alias("bv"))
            for b in range(N_BANDS)
        ]
    )
    return sig.select(
        "doc_id",
        "lang",
        F.array(*band_hash).alias("abv"),
        F.explode(band_structs).alias("s"),
    ).select("doc_id", "lang", "s.band", "s.bv", "abv")


def lsh_sig_bands_ctes(tok_sql: str = _TOK_SQL) -> str:
    """DuckDB CTE prefix mirroring the minhash-signature + band-hash
    construction over any (doc_id, lang, token) CTE — ends with
    ``bands`` (doc_id, lang, band, bv). Consumers append their own
    candidate join: the self-join form (:func:`lsh_candidate_ctes`) or
    the cross-corpus form (llm_decontaminate_lsh). The
    banding is deterministic (md5-derived minhash), so both engines
    agree on the exact candidate set — banding recall is part of the
    MIRRORED semantics, not a source of divergence."""
    mins = ",\n             ".join(
        f"MIN(('0x' || SUBSTRING(MD5(token || '#{i}'), 1, 15))::BIGINT)"
        f" AS h{i:02d}"
        for i in range(N_MINHASH)
    )
    per_band = N_MINHASH // N_BANDS
    band_selects = "\n      UNION ALL\n".join(
        "      SELECT doc_id, lang, {b} AS band, MD5(CONCAT_WS('|', {hs})) AS bv FROM sig".format(
            b=b,
            hs=", ".join(
                f"h{i:02d}" for i in range(b * per_band, (b + 1) * per_band)
            ),
        )
        for b in range(N_BANDS)
    )
    return f"""tok AS ({tok_sql}),
    sig AS (
      SELECT doc_id, lang,
             {mins}
      FROM tok GROUP BY doc_id, lang
    ), bands AS (
{band_selects}
    )"""


def lsh_candidate_ctes(tok_sql: str = _TOK_SQL) -> str:
    """DuckDB CTE chain mirroring :func:`lsh_neardup_pairs` candidate
    generation — :func:`lsh_sig_bands_ctes` plus the self-join, ending
    with ``sz`` (per-doc set sizes) and ``inter`` (per-candidate-pair
    intersection counts). Shared by the near-dup pair oracles
    (:func:`lsh_oracle`) and the dedup-clustering oracles
    (engine.pipeline_ops / llm_dedup_survivors), which append their own
    threshold filter + recursive closure."""
    return f"""{lsh_sig_bands_ctes(tok_sql)}, cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bv = b.bv AND a.lang = b.lang
       AND a.doc_id < b.doc_id
    ), sz AS (
      SELECT doc_id, COUNT(*) AS n_tok FROM tok GROUP BY doc_id
    ), inter AS (
      SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
      FROM cand c
      JOIN tok ta ON ta.doc_id = c.doc_a
      JOIN tok tb ON tb.doc_id = c.doc_b AND tb.token = ta.token
      GROUP BY 1, 2
    )"""


def lsh_oracle(tok_sql: str = _TOK_SQL, threshold: float = 0.8) -> str:
    """DuckDB mirror of :func:`lsh_neardup_pairs` over any (doc_id, lang,
    token) CTE — the token form and the char-shingle form share it."""
    return f"""
    WITH {lsh_candidate_ctes(tok_sql)}
    SELECT doc_a, doc_b,
           ROUND(CAST(n_common AS DOUBLE) / (sa.n_tok + sb.n_tok - n_common), 4)
             AS jaccard
    FROM inter
    JOIN sz sa ON doc_a = sa.doc_id
    JOIN sz sb ON doc_b = sb.doc_id
    WHERE CAST(n_common AS DOUBLE) / (sa.n_tok + sb.n_tok - n_common)
          >= {threshold}
    """


def first_collision_guard(
    band: Column,
    hash_a: Callable[[int], Column],
    hash_b: Callable[[int], Column],
    n_bands: int,
) -> Column:
    """Join predicate that keeps a bucket-colliding pair only in its
    LOWEST colliding band: true at band 0, and at band b only when the
    two sides' hashes differ in every band below b. ``hash_a(i)`` /
    ``hash_b(i)`` are each side's band-i hash expression.

    A pair colliding in k bands is then emitted once instead of k times,
    so no candidate-sized ``.distinct()`` shuffle is needed and the
    candidate SET is unchanged. The CASE chain is unrolled statically
    (n_bands is a constant): a zip_with/slice/exists spelling of the
    same predicate measured slower than the distinct it replaces,
    because its lambda allocations ran per raw bucket pair."""
    guard = F.lit(True)
    for eb in range(1, n_bands):
        all_differ = reduce(
            lambda acc, c: acc & c,
            [hash_a(i) != hash_b(i) for i in range(eb)],
        )
        guard = F.when(band == eb, all_differ).otherwise(guard)
    return guard


def salted_sides(
    flagged: DataFrame, id_col: str
) -> tuple[DataFrame, DataFrame, Column]:
    """2-D-salted self-join sides ``a`` / ``b`` of a band-row frame that
    carries a per-row replication factor ``g``, plus the salt equality
    to AND into the join condition.

    Side a keys on (salt(id), r), side b on (r, salt(id)), r ∈ [0, g):
    every in-bucket pair meets in EXACTLY one of the g² sub-buckets (at
    salt_a × salt_b), so a bucket of bn rows splits into tasks of
    ~(bn/g)² pairs while the candidate set stays identical."""
    cols = [c for c in flagged.columns if c != "g"]
    salt = F.pmod(F.hash(id_col), F.col("g"))
    rep = F.explode(F.sequence(F.lit(0), F.col("g") - 1))
    a = flagged.select(*cols, salt.alias("s1"), rep.alias("s2")).alias("a")
    b = flagged.select(*cols, rep.alias("s1"), salt.alias("s2")).alias("b")
    return a, b, (F.col("a.s1") == F.col("b.s1")) & (
        F.col("a.s2") == F.col("b.s2")
    )


def hot_bucket_sides(
    bands: DataFrame, id_col: str, keys: list[str]
) -> tuple[DataFrame, DataFrame, Column]:
    """Self-join sides of ``bands`` (bucketed by ``keys``) with the
    hot-bucket gate applied: buckets above HOT_BUCKET_ROWS rows get
    :func:`salted_sides` with g = ⌈bn / HOT_BUCKET_ROWS⌉, so one
    pathological bucket (10⁶ byte-identical crawl pages) cannot become a
    single quadratic task. Returns (a, b, salt condition).

    The topology switch is a DRIVER-SIDE branch on one action, whether
    any bucket is hot (plan from runtime statistics, as AQE does). A
    fully lazy formulation — broadcast-joining the hot list onto every
    band row with an always-on explode — measured +56% on the LSH family
    with ZERO hot buckets: the two join sides stopped sharing one
    ReusedExchange and the generator broke the probe side's codegen
    fusion. With no hot bucket (every fixture) the sides are the plain
    unsalted aliases, so that plan is unchanged and the census job is
    the only cost.

    With hot buckets, each bucket's g is derived distributively: the
    census joins back onto the band rows in the plan, nothing is
    collected to the driver, and the join carries no broadcast hint, so
    AQE sizes it (the hot list is ≤ rows/HOT_BUCKET_ROWS entries, but
    not bounded by a constant)."""
    census = (
        bands.groupBy(*keys)
        .agg(F.count("*").alias("bn"))
        .filter(F.col("bn") > HOT_BUCKET_ROWS)
    )
    if census.isEmpty():
        return bands.alias("a"), bands.alias("b"), F.lit(True)
    hot = census.select(
        *keys,
        F.ceil(F.col("bn") / F.lit(HOT_BUCKET_ROWS)).cast("int").alias("g"),
    )
    flagged = bands.join(hot, keys, "left").withColumn(
        "g", F.coalesce(F.col("g"), F.lit(1))
    )
    return salted_sides(flagged, id_col)


def bucket_self_join(
    sides: tuple[DataFrame, DataFrame, Column],
    id_col: str,
    keys: list[str],
    n_bands: int,
) -> DataFrame:
    """Candidate pairs from the self-join ``sides`` (see
    :func:`hot_bucket_sides`) of band rows carrying ``band`` and the
    array ``abv`` of all their band hashes: same bucket, a.id < b.id,
    emitted once in the lowest colliding band. Columns of both sides
    stay addressable as ``a.*`` / ``b.*``."""
    a, b, salt_cond = sides
    same_bucket = reduce(
        lambda acc, c: acc & c,
        [F.col(f"a.{k}") == F.col(f"b.{k}") for k in keys],
    )
    return a.join(
        b,
        same_bucket
        & salt_cond
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        & first_collision_guard(
            F.col("a.band"),
            lambda i: F.col("a.abv")[i],
            lambda i: F.col("b.abv")[i],
            n_bands,
        ),
    )


def jaccard_verify(
    cand: DataFrame, arrs: DataFrame, a: str, b: str, threshold: float
) -> DataFrame:
    """Exact-Jaccard verify of the candidate pairs ``cand`` (doc-id
    columns ``a``, ``b``) against per-doc distinct token arrays ``arrs``
    (doc_id, lang, toks): the (a, b, na, nb, n_common) rows whose token
    Jaccard is ≥ ``threshold``.

    Only candidate docs are packed into bitsets
    (engine.llm_ops.packed_token_sets), and the doc_id semi-join runs
    BEFORE the token explode, so non-candidate docs never produce
    occurrence rows; at 100 TB the candidate set is orders of magnitude
    smaller than the corpus. The same plan serves an empty candidate set:
    packed_token_sets then gives width-1 masks and every join stays
    empty."""
    cand = cand.localCheckpoint(eager=True)
    cand_ids = (
        cand.select(F.col(a).alias("doc_id"))
        .unionByName(cand.select(F.col(b).alias("doc_id")))
        .distinct()
    )
    packed, n_words = packed_token_sets(
        arrs.join(cand_ids, "doc_id", "left_semi").select(
            "doc_id", "lang", F.explode("toks").alias("token")
        )
    )
    pa = packed.select(
        F.col("doc_id").alias(a),
        F.col("mask").alias("ma"),
        F.col("n_tok").alias("na"),
    )
    pb = packed.select(
        F.col("doc_id").alias(b),
        F.col("mask").alias("mb"),
        F.col("n_tok").alias("nb"),
    )
    # The size prune (llm_ops.size_prune) runs before the O(mask width)
    # popcount; it drops ~26% of the popcounts at sf0.1, where
    # hot-bucket candidates are mostly size-mismatched.
    return (
        cand.join(F.broadcast(pa), a)
        .join(F.broadcast(pb), b)
        .filter(size_prune(threshold))
        .select(
            a,
            b,
            "na",
            "nb",
            bitset_intersection("ma", "mb", n_words).alias("n_common"),
        )
        .filter(jaccard_ratio() >= threshold)
    )


def lsh_neardup_pairs(tok_arrays: DataFrame, threshold: float) -> DataFrame:
    """MinHash-LSH banded near-dup over per-doc distinct token arrays
    ``tok_arrays`` (doc_id, lang, toks array<string>): minhash (16
    perms) → 4 bands × 4 rows → band-hash bucket join → exact-Jaccard
    bitset verify of candidates only → (doc_a, doc_b, jaccard).

    Candidate generation is O(Σ bucket²) instead of all-pairs; the
    banding S-curve gives catch probability 1-(1-J^4)^4 at Jaccard J
    (≈ 0.89 at J=0.8; a production run raises perms/bands for recall —
    parameters are module constants). Shared by the word-token and
    char-shingle near-dup queries.

    Hot buckets (boilerplate: many byte-identical docs sharing one
    bucket) make the candidate set quadratic in the group size — for
    THIS pairs contract every such candidate is a true duplicate
    (Jaccard 1.0), so the pair count is mandatory; what must not happen
    is all of them landing in ONE task, which :func:`hot_bucket_sides`
    prevents (tests/test_lsh_hotbucket.py forces the gate). A production
    run at 100 TB additionally collapses exact duplicates first so
    boilerplate enters banding as one representative.

    The arrays, not exploded occurrence rows, are checkpointed: the
    same string payload with ~token-count fewer row headers (sf0.1:
    110.3 → 15.1 MB for shingles, 12.5 → 2.2 MB for word tokens). Every
    consumer re-derives occurrence rows with an in-plan explode."""
    arrs = tok_arrays.localCheckpoint(eager=True)
    tok = arrs.select("doc_id", "lang", F.explode("toks").alias("token"))
    # The doc-grain signature table is read three times (both self-join
    # sides and the hot-bucket census), so the minhash aggregate is
    # checkpointed; lazily, so the census job materializes it.
    sig = _minhash_sig(tok).localCheckpoint(eager=False)
    keys = ["band", "bv", "lang"]
    bands = band_rows(sig)
    cand = bucket_self_join(
        hot_bucket_sides(bands, "doc_id", keys), "doc_id", keys, N_BANDS
    ).select(
        F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
    )
    return jaccard_verify(cand, arrs, "doc_a", "doc_b", threshold).select(
        "doc_a", "doc_b", pround(jaccard_ratio(), 4).alias("jaccard")
    )
