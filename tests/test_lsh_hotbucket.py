"""Hot-bucket adversarial check for the MinHash-LSH dedup family: a
corpus where ONE band bucket holds most of the corpus (60 byte-identical
boilerplate docs — every signature, hence every band hash, equal) plus a
few token-disjoint distinct docs.

This is the known worst case of LSH banding at 100 TB (boilerplate /
templated crawl pages): all identical docs collide into a single bucket,
so the candidate set is quadratic in the group size. For the *pairs*
contract that is not wasted work — every candidate IS a true near-dup
(Jaccard exactly 1.0), so candidates == output — and the linear-output
scale path is the clustering form, which must collapse the clique to one
component with one canonical survivor. This test pins both behaviors
end-to-end through the registered queries on a scratch corpus.
"""

from __future__ import annotations

import shutil
import tempfile

import pytest

import engine

N_DUP = 60  # one bucket holding 60 docs → C(60,2) = 1770 candidate pairs
DUP_TEXT = "spark join filter window shuffle broadcast partition agg"
DISTINCT_TEXTS = {  # pairwise token-disjoint → no cross near-dups
    100: "alpha bravo charlie delta echo",
    101: "foxtrot golf hotel india juliet",
    102: "kilo lima mike november oscar",
    103: "papa quebec romeo sierra tango",
    104: "uniform victor whiskey xray yankee",
}


@pytest.fixture(scope="module")
def hotbucket_sf_dir(spark):
    tmp = tempfile.mkdtemp(prefix="lsh_hotbucket_")
    rows = [
        (i, DUP_TEXT, "en", f"src{i % 3}", len(DUP_TEXT))
        for i in range(N_DUP)
    ] + [
        (i, t, "en", "srcx", len(t)) for i, t in DISTINCT_TEXTS.items()
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(f"{tmp}/documents.parquet")
    yield tmp
    shutil.rmtree(tmp, ignore_errors=True)


def test_identical_docs_pairs_are_exactly_the_clique(spark, hotbucket_sf_dir):
    pairs = engine.QUERIES["llm_lsh_neardup"](spark, hotbucket_sf_dir).collect()
    got = {(r.doc_a, r.doc_b): r.jaccard for r in pairs}
    want_keys = {
        (a, b) for a in range(N_DUP) for b in range(a + 1, N_DUP)
    }
    assert set(got) == want_keys  # no distinct-doc pair sneaks in
    assert all(j == 1.0 for j in got.values())


def test_identical_docs_collapse_to_one_component(spark, hotbucket_sf_dir):
    labels = engine.QUERIES["llm_dedup_clusters"](
        spark, hotbucket_sf_dir
    ).collect()
    by_doc = {r.doc_id: (r.cluster_id, r.is_canonical) for r in labels}
    assert len(by_doc) == N_DUP + len(DISTINCT_TEXTS)
    for i in range(N_DUP):
        assert by_doc[i] == (0, 1 if i == 0 else 0)
    for i in DISTINCT_TEXTS:
        assert by_doc[i] == (i, 1)  # token-disjoint docs stay singletons


def test_identical_docs_single_survivor_absorbs_all(spark, hotbucket_sf_dir):
    surv = engine.QUERIES["llm_dedup_survivors"](
        spark, hotbucket_sf_dir
    ).collect()
    by_doc = {r.doc_id: r.n_members for r in surv}
    assert by_doc[0] == N_DUP
    assert all(by_doc[i] == 1 for i in DISTINCT_TEXTS)
    assert set(by_doc) == {0, *DISTINCT_TEXTS}


def test_hot_bucket_gate_preserves_pairs_and_bounds_tasks(
    spark, hotbucket_sf_dir, monkeypatch
):
    """Force the r14 hot-bucket gate (HOT_BUCKET_ROWS far below the
    60-doc clique bucket) and pin BOTH properties: the salted join's
    pair output is bit-identical to the ungated run, and the pair space
    of the hot bucket is split across g² > 1 sub-buckets with a bounded
    per-sub-bucket share (no single task handles the whole clique)."""
    import engine.lsh_core as lc
    from engine.llm_ops import token_arrays, tokens
    from engine.session import load
    from pyspark.sql import functions as F

    docs = load(spark, hotbucket_sf_dir, "documents")

    monkeypatch.setattr(lc, "HOT_BUCKET_ROWS", 8)
    gated = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in lc.lsh_neardup_pairs(token_arrays(docs), 0.8).collect()
    }
    want = {
        (a, b): 1.0 for a in range(N_DUP) for b in range(a + 1, N_DUP)
    }
    assert gated == want  # output identical with the gate TRIPPED

    # The divert itself: the sides lsh_neardup_pairs joins, from the
    # engine's own gate, and the per-sub-bucket pair counts.
    bands = lc.band_rows(lc._minhash_sig(tokens(docs, distinct=True)))
    a, b, salt_cond = lc.hot_bucket_sides(
        bands, "doc_id", ["band", "bv", "lang"]
    )
    assert {"s1", "s2"} <= set(a.columns)  # the clique bucket IS salted
    per_key = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.lang") == F.col("b.lang"))
            & salt_cond
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy("a.band", "a.bv", "a.lang", "a.s1", "a.s2")
        .agg(F.count("*").alias("n_pairs"))
        .agg(F.max("n_pairs").alias("mx"), F.sum("n_pairs").alias("tot"))
        .collect()[0]
    )
    clique = N_DUP * (N_DUP - 1) // 2
    assert per_key["tot"] == 4 * clique  # every band keeps every pair
    # g = ceil(60/8) = 8 → 64 sub-buckets; no one sub-bucket holds more
    # than a small share of the 1770-pair clique.
    assert per_key["mx"] < clique / 4


# ---------------------------------------------------------------------------
# Embedding banded path (r14: the same gate, applied to
# engine.scale_ops._embedding_neardup_banded)
# ---------------------------------------------------------------------------

# 8-dim Hadamard rows: mutually orthogonal (cosine exactly 0, integer
# arithmetic — no threshold-boundary ulp risk), so the only pairs at or
# above COSINE_NEARDUP_T are the identical-vector clique (cosine 1.0).
_HAD = [
    [1, 1, 1, 1, 1, 1, 1, 1],
    [1, -1, 1, -1, 1, -1, 1, -1],
    [1, 1, -1, -1, 1, 1, -1, -1],
    [1, -1, -1, 1, 1, -1, -1, 1],
    [1, 1, 1, 1, -1, -1, -1, -1],
    [1, -1, 1, -1, -1, 1, -1, 1],
]
N_VEC_DUP = 60  # 60 copies of _HAD[0] → every band bucket holds 60 rows


@pytest.fixture(scope="module")
def hot_emb(spark):
    rows = [(i, [float(x) for x in _HAD[0]]) for i in range(N_VEC_DUP)] + [
        (100 + k, [float(x) for x in _HAD[1 + k]]) for k in range(5)
    ]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    ).localCheckpoint(eager=True)


def test_embedding_hot_bucket_gate_preserves_pairs_and_bounds_tasks(
    spark, hot_emb, monkeypatch
):
    """Force the embedding path's hot-bucket gate (the bound is the
    SHARED engine.lsh_core.HOT_BUCKET_ROWS, resolved at call time) and
    pin BOTH properties: output identical to the ungated run, and the
    clique bucket's pair space split across g² > 1 sub-buckets with a
    bounded per-sub-bucket share."""
    import engine.lsh_core as lc
    from engine.scale_ops import (
        NEARDUP_BANDS,
        _emb_dim,
        _embedding_neardup_banded,
    )
    from pyspark.sql import functions as F

    dim = _emb_dim(hot_emb)
    ungated = {
        (r.vec_a, r.vec_b): r.cosine
        for r in _embedding_neardup_banded(hot_emb, dim).collect()
    }
    want = {
        (a, b): 1.0
        for a in range(N_VEC_DUP)
        for b in range(a + 1, N_VEC_DUP)
    }
    assert ungated == want  # the clique, nothing else (orthogonal rest)

    monkeypatch.setattr(lc, "HOT_BUCKET_ROWS", 8)
    gated = {
        (r.vec_a, r.vec_b): r.cosine
        for r in _embedding_neardup_banded(hot_emb, dim).collect()
    }
    assert gated == ungated  # bit-identical with the gate TRIPPED

    # The divert itself: the sides the gated branch joins, from the
    # engine's own gate, and the per-sub-bucket pair counts.
    import numpy as np
    from engine.scale_ops import NEARDUP_BITS, _plane_weight

    planes = NEARDUP_BANDS * NEARDUP_BITS
    plane_mat = np.array(
        [[_plane_weight(k, d) for d in range(dim)] for k in range(planes)]
    )
    rows = hot_emb.collect()
    band_rows = []
    for r in rows:
        bits = np.asarray(r.embedding) @ plane_mat.T > 0
        for b in range(NEARDUP_BANDS):
            seg = bits[b * NEARDUP_BITS : (b + 1) * NEARDUP_BITS]
            bv = int(
                (seg.astype(np.int64) << np.arange(NEARDUP_BITS)).sum()
            )
            band_rows.append((r.vec_id, b, bv))
    bands = spark.createDataFrame(
        band_rows, "vec_id long, band int, bv long"
    )
    n_hot = (
        bands.groupBy("band", "bv")
        .count()
        .filter(F.col("count") > lc.HOT_BUCKET_ROWS)
        .count()
    )
    assert n_hot == NEARDUP_BANDS  # all 8 clique buckets are hot
    a, b, salt_cond = lc.hot_bucket_sides(bands, "vec_id", ["band", "bv"])
    per_key = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv"))
            & salt_cond
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .groupBy("a.band", "a.bv", "a.s1", "a.s2")
        .agg(F.count("*").alias("n_pairs"))
        .agg(F.max("n_pairs").alias("mx"), F.sum("n_pairs").alias("tot"))
        .collect()[0]
    )
    clique = N_VEC_DUP * (N_VEC_DUP - 1) // 2
    assert per_key["tot"] == NEARDUP_BANDS * clique  # every band, every pair
    assert per_key["mx"] < clique / 4  # no task holds the whole clique


def test_all_hot_salting_preserves_pairs(
    spark, hotbucket_sf_dir, monkeypatch
):
    """Every multi-row bucket hot (HOT_BUCKET_ROWS = 1, so each bucket
    of bn > 1 rows is salted with g = bn) and the pair output is still
    exactly the clique. Uses the production tok_arrays path, so this also
    exercises the doc-grain array checkpoint end-to-end under the gate."""
    import engine.lsh_core as lc
    from engine.llm_ops import token_arrays
    from engine.session import load

    docs = load(spark, hotbucket_sf_dir, "documents")
    want = {
        (a, b): 1.0 for a in range(N_DUP) for b in range(a + 1, N_DUP)
    }

    monkeypatch.setattr(lc, "HOT_BUCKET_ROWS", 1)
    salted = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in lc.lsh_neardup_pairs(token_arrays(docs), 0.8).collect()
    }
    assert salted == want, "salting every multi-row bucket changed the pairs"


def test_embedding_all_hot_salting_preserves_pairs(
    spark, hot_emb, monkeypatch
):
    """Same all-hot pin (HOT_BUCKET_ROWS = 1) for the embedding banded
    path."""
    import engine.lsh_core as lc
    from engine.scale_ops import _emb_dim, _embedding_neardup_banded

    dim = _emb_dim(hot_emb)
    want = {
        (a, b): 1.0
        for a in range(N_VEC_DUP)
        for b in range(a + 1, N_VEC_DUP)
    }
    monkeypatch.setattr(lc, "HOT_BUCKET_ROWS", 1)
    salted = {
        (r.vec_a, r.vec_b): r.cosine
        for r in _embedding_neardup_banded(hot_emb, dim).collect()
    }
    assert salted == want


def test_first_collision_guard_keeps_each_pair_in_its_lowest_band(spark):
    """The shared bucket self-join emits a pair once, in the lowest band
    where its band hashes collide, and never emits a pair that collides
    in no band. Hand-built band rows over 4 bands:
    docs 1/2 collide in bands 1 and 3, docs 3/4 in band 0 only, and
    docs 5/6 in none."""
    import engine.lsh_core as lc
    from pyspark.sql import functions as F

    abv = {
        1: [10, 11, 12, 13],
        2: [20, 11, 22, 13],
        3: [30, 31, 32, 33],
        4: [30, 41, 42, 43],
        5: [50, 51, 52, 53],
        6: [60, 61, 62, 63],
    }
    bands = spark.createDataFrame(
        [(d, b, h[b], h) for d, h in abv.items() for b in range(4)],
        "doc_id long, band int, bv long, abv array<long>",
    )
    sides = (bands.alias("a"), bands.alias("b"), F.lit(True))
    got = sorted(
        (r.doc_a, r.doc_b, r.band)
        for r in lc.bucket_self_join(sides, "doc_id", ["band", "bv"], 4)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.band").alias("band"),
        )
        .collect()
    )
    assert got == [(1, 2, 1), (3, 4, 0)]
