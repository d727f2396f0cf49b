"""Property-based tests (hypothesis) for the custom plan rewrites.

The differential suite checks the fixtures; these check the *logic* on
adversarial inputs hypothesis generates — the places where a subtle bug
would survive a fixture pass: bitset packing, as-of window rewrite, LSH
candidate soundness.

Spark jobs per example are slow, so example counts are small and data is
tiny; the properties target boundary structure (ties, empty sets,
single-token docs), not volume.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from pyspark.sql import functions as F

from engine.llm_ops import bitset_intersection, packed_token_sets

SETTINGS = settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)

# Small vocab so collisions/full-overlap cases actually occur.
TOKENS = st.sampled_from(["a", "b", "c", "dd", "ee", "fff"])
DOC = st.lists(TOKENS, min_size=1, max_size=8)


@given(docs=st.lists(DOC, min_size=1, max_size=6))
@SETTINGS
def test_bitset_intersection_matches_python_sets(spark, docs):
    """|A∩B| via packed bitsets == python set intersection, for every
    doc pair, on arbitrary small corpora (one language)."""
    rows = [
        (i, "xx", " ".join(doc)) for i, doc in enumerate(docs)
    ]
    d = spark.createDataFrame(rows, "doc_id long, lang string, text string")
    tok = d.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("token")
    ).distinct()
    packed, n_words = packed_token_sets(tok)
    assert {len(r.mask) for r in packed.collect()} == {n_words}
    a = packed.select(
        F.col("doc_id").alias("da"),
        F.col("mask").alias("ma"),
        F.col("n_tok").alias("na"),
    )
    b = packed.select(
        F.col("doc_id").alias("db"),
        F.col("mask").alias("mb"),
        F.col("n_tok").alias("nb"),
    )
    got = {
        (r.da, r.db): (r.inter, r.na, r.nb)
        for r in a.crossJoin(b)
        .select(
            "da", "db", "na", "nb",
            bitset_intersection("ma", "mb").alias("inter"),
        )
        .collect()
    }
    sets = {i: set(doc) for i, doc in enumerate(docs)}
    for i in sets:
        for j in sets:
            inter, na, nb = got[(i, j)]
            assert inter == len(sets[i] & sets[j]), (i, j, docs)
            assert na == len(sets[i]) and nb == len(sets[j])


def test_packed_token_sets_of_empty_input_is_width_one(spark):
    """An empty token frame packs to no rows and a 1-word mask width, so
    popcount unrolls stay well-formed while every pair join is empty."""
    tok = spark.createDataFrame([], "doc_id long, lang string, token string")
    packed, n_words = packed_token_sets(tok)
    assert (packed.count(), n_words) == (0, 1)


@given(
    events=st.lists(
        st.tuples(
            st.integers(0, 2),  # user_id
            st.integers(0, 50),  # ts offset (seconds) — ties across users ok
            st.booleans(),  # True = purchase, False = click
        ),
        min_size=1,
        max_size=14,
        unique_by=lambda e: (e[0], e[1]),  # (user, ts) unique, as fixtures
    )
)
@SETTINGS
def test_asof_window_rewrite_matches_reference(spark, events):
    """The union-tag + last(ignorenulls) as-of rewrite == a per-row
    python reference (most recent click at-or-before each purchase)."""
    rows = [
        (i, u, 1_700_000_000 + ts, "purchase" if p else "click")
        for i, (u, ts, p) in enumerate(events)
    ]
    ev = spark.createDataFrame(
        rows, "event_id long, user_id long, epoch long, event_type string"
    ).withColumn("ts", F.col("epoch").cast("timestamp")).drop("epoch")

    from pyspark.sql import Window as W

    w = (
        W.partitionBy("user_id")
        .orderBy("ts")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    click_ts = F.when(F.col("event_type") == "click", F.col("ts"))
    got = {
        r.event_id: r.click_ts
        for r in ev.withColumn(
            "click_ts", F.last(click_ts, ignorenulls=True).over(w)
        )
        .filter(F.col("event_type") == "purchase")
        .collect()
    }

    for i, (u, ts, p) in enumerate(events):
        if not p:
            continue
        prior = [
            ts2
            for (u2, ts2, p2) in events
            if u2 == u and not p2 and ts2 <= ts
        ]
        want = max(prior) if prior else None
        got_ts = got[i]
        got_epoch = (
            None if got_ts is None else int(got_ts.timestamp()) - 1_700_000_000
        )
        assert got_epoch == want, (i, events)


def test_lsh_pairs_subset_of_exact_jaccard(spark):
    """Soundness: every LSH-banded near-dup pair is an exact-Jaccard
    near-dup pair (the banding only generates candidates; the verify is
    exact — so false positives are impossible, only misses)."""
    import engine

    sf = "/root/testdata/sf0.001"
    lsh = {
        (r.doc_a, r.doc_b)
        for r in engine.QUERIES["llm_lsh_neardup"](spark, sf).collect()
    }
    exact = {
        (r.doc_a, r.doc_b)
        for r in engine.QUERIES["llm_jaccard_neardup"](spark, sf).collect()
    }
    assert lsh <= exact


def test_embedding_banded_pairs_subset_of_exact(spark):
    """Soundness of the >2M-vector banded cosine path (never taken by
    the registered query at fixture scale, so exercised directly):
    every banded pair must appear in the exact broadcast-matmul result
    with the identical rounded cosine — banding only generates
    candidates; the verify is exact."""
    import engine
    from engine.scale_ops import _emb_dim, _embedding_neardup_banded
    from engine.session import load

    sf = "/root/testdata/sf0.001"
    emb = load(spark, sf, "embeddings")
    banded = {
        (r.vec_a, r.vec_b): r.cosine
        for r in _embedding_neardup_banded(emb, _emb_dim(emb)).collect()
    }
    exact = {
        (r.vec_a, r.vec_b): r.cosine
        for r in engine.QUERIES["llm_embedding_neardup"](spark, sf).collect()
    }
    assert set(banded) <= set(exact)
    for k, v in banded.items():
        assert v == exact[k]


def test_embedding_neardup_has_no_driver_stage():
    """VERDICT r11 item 1 regression pin: the exact broadcast-witness
    path must have NO driver-side corpus stage — the r9-r11 perf tax
    came from a toPandas() + sparkContext.broadcast pair that degraded
    with accumulated JVM heap. The corpus now travels worker-side
    (engine/scale_ops.py::_neardup_corpus); if either driver construct
    reappears in this op's body, fail here with the history attached
    rather than rediscovering it from bench drift.

    ADVICE r12 (medium): the original pin scanned
    ``inspect.getsource(so.llm_embedding_neardup)`` — but that module
    attribute is the registry's generic 2-line ``wrapped`` closure, so
    the scan passed vacuously no matter what the operator body did. Now
    the registry sets ``__wrapped__`` and this pin (a) asserts the
    unwrap actually reaches a DIFFERENT function, then (b) scans only
    the ast-unparsed STATEMENTS of the real body — the docstring (which
    legitimately narrates the banned constructs' history) and comments
    never false-trip, and a reintroduced driver stage cannot hide."""
    import ast
    import inspect

    import engine.scale_ops as so

    fn = inspect.unwrap(so.llm_embedding_neardup)
    assert fn is not so.llm_embedding_neardup, (
        "registry wrapper lost __wrapped__ — this pin would be "
        "scanning the 2-line registry closure and passing vacuously "
        "(ADVICE r12)"
    )
    fdef = ast.parse(inspect.getsource(fn)).body[0]
    assert isinstance(fdef, ast.FunctionDef)
    stmts = fdef.body
    if (
        stmts
        and isinstance(stmts[0], ast.Expr)
        and isinstance(stmts[0].value, ast.Constant)
        and isinstance(stmts[0].value.value, str)
    ):
        stmts = stmts[1:]  # the docstring narrates the removed stage
    code = "\n".join(ast.unparse(s) for s in stmts)
    assert "mapInPandas" in code, (
        "sanity: the scan no longer sees the real operator body"
    )
    for banned in ("toPandas", "sparkContext.broadcast", ".collect("):
        assert banned not in code, (
            f"llm_embedding_neardup regained a driver-side stage "
            f"({banned}) — see VERDICT r11 wrong #1 (in-bench 1.29s -> "
            "6.8s heap-sensitivity tax)"
        )


def test_neardup_corpus_cache_and_shapes(tmp_path):
    """Worker-side corpus reader unit properties: (1) (path, mtime,
    size)-keyed cache — a rewritten file is re-read, not served stale;
    (2) the flattened-reshape decode reproduces the list<float> rows
    exactly; (3) ragged embedding rows fail LOUDLY (reshape ValueError)
    instead of silently mis-pairing values."""
    import os
    import time as _time

    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from engine.scale_ops import _NEARDUP_CORPUS, _neardup_corpus

    p = str(tmp_path / "embeddings.parquet")

    def write(vals):
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array(
                        list(range(len(vals))), type=pa.int64()
                    ),
                    "embedding": pa.array(
                        vals, type=pa.list_(pa.float32())
                    ),
                }
            ),
            p,
        )

    write([[1.0, 2.0], [3.0, 4.0]])
    ids, mat, sq = _neardup_corpus(p)
    assert ids.tolist() == [0, 1]
    assert mat.tolist() == [[1.0, 2.0], [3.0, 4.0]]
    assert sq.tolist() == [5.0, 25.0]

    # Same stat triple -> cache hit (identity, no re-read).
    assert _neardup_corpus(p)[1] is mat

    # Rewrite with different values; bump mtime explicitly in case the
    # filesystem's mtime granularity would otherwise alias the key.
    write([[9.0, 9.0], [1.0, 1.0]])
    st = os.stat(p)
    os.utime(p, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    ids2, mat2, _ = _neardup_corpus(p)
    assert mat2.tolist() == [[9.0, 9.0], [1.0, 1.0]]
    assert len(_NEARDUP_CORPUS) == 1, "stale corpus entry not evicted"

    # Ragged rows: reshape must raise, never mis-pair.
    write([[1.0, 2.0], [3.0]])
    st = os.stat(p)
    os.utime(p, ns=(st.st_atime_ns, st.st_mtime_ns + 2_000_000))
    try:
        _neardup_corpus(p)
        assert False, "ragged embedding rows must fail loudly"
    except ValueError:
        pass


def test_neardup_corpus_dir_key_sees_inplace_part_rewrite(tmp_path):
    """ADVICE r12 (low): when the corpus path is a DIRECTORY of part
    files, rewriting a part's CONTENT in place leaves the directory's
    own mtime/size untouched — a dir-stat cache key would serve the
    stale corpus forever in a reused worker. The key must derive from
    the contained data files' (name, mtime, size), so the rewrite
    invalidates; _SUCCESS/hidden markers stay out of the key."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from engine.scale_ops import _NEARDUP_CORPUS, _neardup_corpus

    d = tmp_path / "embeddings.parquet"
    d.mkdir()
    part = str(d / "part-00000.parquet")
    (d / "_SUCCESS").write_text("")

    def write(vals):
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array(
                        list(range(len(vals))), type=pa.int64()
                    ),
                    "embedding": pa.array(
                        vals, type=pa.list_(pa.float32())
                    ),
                }
            ),
            part,
        )

    write([[1.0, 2.0], [3.0, 4.0]])
    _, mat, _ = _neardup_corpus(str(d))
    assert mat.tolist() == [[1.0, 2.0], [3.0, 4.0]]
    assert _neardup_corpus(str(d))[1] is mat, "same content: cache hit"

    # In-place content rewrite: dir stat is unchanged, file stat isn't.
    dir_stat = os.stat(d)
    write([[9.0, 9.0], [1.0, 1.0]])
    st = os.stat(part)
    os.utime(part, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    os.utime(  # freeze the dir stat to the advice's exact scenario
        d, ns=(dir_stat.st_atime_ns, dir_stat.st_mtime_ns)
    )
    _, mat2, _ = _neardup_corpus(str(d))
    assert mat2.tolist() == [[9.0, 9.0], [1.0, 1.0]], (
        "stale corpus served after an in-place part rewrite"
    )
    assert len(_NEARDUP_CORPUS) == 1, "stale dir-corpus entry not evicted"


def test_embedding_neardup_reads_spark_written_corpus_dir(spark, tmp_path):
    """The worker-side reader must accept a Spark-WRITTEN corpus — a
    directory of part files plus _SUCCESS — not just the driver's
    single-file fixtures: the row-order/skew twin sweeps materialize
    shuffled fixture copies through DataFrame writes. Same pair set as
    the original fixture (row order is immaterial: pairs key on ids)."""
    import engine
    from engine.session import load

    src = "/root/testdata/sf0.001"
    sf = str(tmp_path)
    emb = load(spark, src, "embeddings")
    # repartition(3): multi-part directory, the twin fixtures' shape
    emb.repartition(3).write.mode("overwrite").parquet(
        f"{sf}/embeddings.parquet"
    )
    got = {
        (r.vec_a, r.vec_b, r.cosine)
        for r in engine.QUERIES["llm_embedding_neardup"](spark, sf).collect()
    }
    want = {
        (r.vec_a, r.vec_b, r.cosine)
        for r in engine.QUERIES["llm_embedding_neardup"](spark, src).collect()
    }
    assert got == want


@given(
    edge_list=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)), max_size=15
    ),
    n_nodes=st.integers(1, 10),
)
@SETTINGS
def test_connected_components_matches_union_find(spark, edge_list, n_nodes):
    """Distributed CC (min-label propagation + path halving) == a plain
    union-find, on arbitrary small graphs incl. self-loops, duplicate
    edges, chains (worst case for propagation depth), and isolated
    nodes."""
    from engine.pipeline_ops import connected_components

    edge_list = [(u, v) for u, v in edge_list if u < n_nodes and v < n_nodes]
    parent = list(range(n_nodes))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edge_list:
        parent[find(u)] = find(v)
    expected = {}
    for comp in range(n_nodes):
        expected.setdefault(find(comp), []).append(comp)
    want = {u: min(members) for members in expected.values() for u in members}

    nodes = spark.createDataFrame([(i,) for i in range(n_nodes)], "u long")
    sym = [(u, v) for u, v in edge_list] + [(v, u) for u, v in edge_list]
    if sym:
        edges = spark.createDataFrame(sym, "u long, v long")
    else:
        edges = spark.createDataFrame([], "u long, v long")
    got = {
        r.u: r.label for r in connected_components(nodes, edges).collect()
    }
    assert got == want


@given(
    docs=st.lists(DOC, min_size=1, max_size=6),
    cap=st.integers(1, 6),
)
@SETTINGS
def test_lsh_pairs_commute_with_input_restriction(spark, docs, cap):
    """The witness-restricted evaluators (llm_dedup_recall, llm_simhash_recall) rely
    on: lsh_neardup_pairs(restricted corpus) == lsh_neardup_pairs(full
    corpus) filtered to pairs inside the restriction. True because
    minhash signatures/band hashes are per-document and candidacy +
    verify are pairwise — this pins the property on arbitrary small
    corpora so a future lsh_core edit that introduces cross-document
    state (e.g. corpus-dependent banding) breaks loudly here, not as a
    silent driver hash-mismatch on the evaluator."""
    from engine.llm_ops import token_arrays
    from engine.lsh_core import lsh_neardup_pairs

    rows = [(i, "xx", " ".join(doc)) for i, doc in enumerate(docs)]
    d = spark.createDataFrame(rows, "doc_id long, lang string, text string")

    def pairs(frame):
        return {
            (r.doc_a, r.doc_b, r.jaccard)
            for r in lsh_neardup_pairs(token_arrays(frame), 0.5).collect()
        }

    full_filtered = {
        (a, b, j) for a, b, j in pairs(d) if a < cap and b < cap
    }
    restricted = pairs(d.filter(F.col("doc_id") < cap))
    assert restricted == full_filtered


@given(
    docs=st.lists(DOC, min_size=1, max_size=6),
    cap=st.integers(1, 6),
)
@SETTINGS
def test_simhash_pairs_commute_with_input_restriction(spark, docs, cap):
    """Same commutation pin for the SimHash side (llm_simhash_recall):
    simhash_neardup_pairs over a restricted signature frame == the
    full-corpus pairs among the restricted docs."""
    import tempfile

    from engine.scale_ops import _simhash_df, simhash_neardup_pairs

    rows = [(i, "xx", " ".join(doc), 1, 1) for i, doc in enumerate(docs)]
    d = spark.createDataFrame(
        rows, "doc_id long, lang string, text string, source int, n_chars int"
    )
    with tempfile.TemporaryDirectory() as tmp:
        d.write.mode("overwrite").parquet(f"{tmp}/documents.parquet")

        def pairs(docs_frame):
            return {
                (r.doc_a, r.doc_b, r.hamming)
                for r in simhash_neardup_pairs(
                    _simhash_df(spark, tmp, docs=docs_frame)
                ).collect()
            }

        full_filtered = {
            (a, b, h) for a, b, h in pairs(d) if a < cap and b < cap
        }
        restricted = pairs(d.filter(F.col("doc_id") < cap))
        assert restricted == full_filtered


@given(
    docs=st.lists(DOC, min_size=1, max_size=6),
    cap=st.integers(1, 6),
)
@SETTINGS
def test_exact_jaccard_pairs_commute_with_input_restriction(spark, docs, cap):
    """Same commutation pin for the exact side (llm_dedup_recall):
    exact_jaccard_pairs over a restricted doc frame == the full-corpus
    pairs among the restricted docs. True even though the dictionary
    ids and bitset width picked by packed_token_sets vary with the
    input vocabulary — |∩| and |∪| are dictionary-invariant and the
    size prune + threshold are per-pair. A future edit introducing
    corpus-dependent pair state breaks loudly here, not as a driver
    hash-mismatch on the evaluator."""
    from engine.llm_ops import exact_jaccard_pairs, tokens

    rows = [(i, "xx", " ".join(doc)) for i, doc in enumerate(docs)]
    d = spark.createDataFrame(rows, "doc_id long, lang string, text string")

    def pairs(frame):
        return {
            (r.doc_a, r.doc_b, r.jaccard)
            for r in exact_jaccard_pairs(
                tokens(frame, distinct=True), 0.5
            ).collect()
        }

    full_filtered = {
        (a, b, j) for a, b, j in pairs(d) if a < cap and b < cap
    }
    restricted = pairs(d.filter(F.col("doc_id") < cap))
    assert restricted == full_filtered


def test_neardup_corpus_dir_key_sees_nested_part_rewrite(tmp_path):
    """ADVICE r13 (low): the r12 fix only scanned TOP-LEVEL files, so a
    nested/partitioned layout (part files inside subdirectories, which
    pq.read_table happily reads) could still serve a stale corpus after
    an in-place rewrite one level deeper. The key must walk the tree;
    hidden/underscore directories stay out of it."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    from engine.scale_ops import _neardup_corpus

    d = tmp_path / "embeddings.parquet"
    sub = d / "bucket=0"
    sub.mkdir(parents=True)
    (d / "_SUCCESS").write_text("")
    part = str(sub / "part-00000.parquet")

    def write(vals):
        pq.write_table(
            pa.table(
                {
                    "vec_id": pa.array(
                        list(range(len(vals))), type=pa.int64()
                    ),
                    "embedding": pa.array(
                        vals, type=pa.list_(pa.float32())
                    ),
                }
            ),
            part,
        )

    write([[1.0, 2.0], [3.0, 4.0]])
    _, mat, _ = _neardup_corpus(str(d))
    assert mat.tolist() == [[1.0, 2.0], [3.0, 4.0]]
    assert _neardup_corpus(str(d))[1] is mat, "same content: cache hit"

    # In-place rewrite of the NESTED part: neither the corpus dir nor
    # the subdirectory stat has to change.
    dir_stat, sub_stat = os.stat(d), os.stat(sub)
    write([[9.0, 9.0], [1.0, 1.0]])
    st = os.stat(part)
    os.utime(part, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000))
    os.utime(d, ns=(dir_stat.st_atime_ns, dir_stat.st_mtime_ns))
    os.utime(sub, ns=(sub_stat.st_atime_ns, sub_stat.st_mtime_ns))
    _, mat2, _ = _neardup_corpus(str(d))
    assert mat2.tolist() == [[9.0, 9.0], [1.0, 1.0]], (
        "stale corpus served after a nested in-place part rewrite"
    )


def test_size_prune_keeps_exact_boundary_pair(spark):
    """r15 (VERDICT r14 item 9): a pair at J EXACTLY = t whose sizes sit
    exactly at the prune boundary (nb/na = t) must survive the size
    prune. The prune implication J ≥ t ⟹ t·na ≤ nb is exact in real
    arithmetic but one rounding away in doubles: at t = 9/14 with
    na=42, nb=27, the double product 42·t = 27.000000000000004 > 27,
    so the pre-slack spelling (na*t <= nb) PRUNED this qualifying
    pair — the −1 slack keeps it. (At the registered thresholds
    0.7/0.8 the rounding happens to be benign for every na ≤ 5000 —
    checked exhaustively — so this pins the generic helper at a
    threshold where the failure is real, as insurance for any future
    threshold.)"""
    from engine.llm_ops import exact_jaccard_pairs, tokens

    t = 9 / 14
    assert 42 * t > 27, "test premise: the unslacked product rounds up"
    toks = [f"w{i}" for i in range(42)]
    rows = [
        (0, " ".join(toks), "en", "s", 99),         # |A| = 42
        (2, " ".join(toks[:27]), "en", "s", 99),    # B ⊂ A, |B| = 27
    ]
    docs = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in exact_jaccard_pairs(
            tokens(docs, distinct=True), threshold=t
        ).collect()
    }
    # J(A,B) = 27/42 = 9/14 exactly = t: the pair must be in the
    # output (pround(·, 4) of 0.642857... = 0.6429).
    assert got == {(0, 2): 0.6429}


def test_token_array_producers_match_occurrence_producers(spark):
    """r15 arrays-checkpoint equivalence pin: exploding the doc-grain
    array frames yields exactly the occurrence rows the LSH core used
    to checkpoint, for both producers (word tokens and char shingles).
    The lsh_neardup_pairs tok_arrays path re-derives occurrences from
    these arrays, so this is the identity the whole optimization
    rests on."""
    from pyspark.sql import functions as F

    from engine.llm_ops import token_arrays, tokens
    from engine.pipeline_ops import char_shingle_arrays, char_shingles

    rows = [
        (0, "a bb a ccc bb dd", "en", "s", 16),
        (1, "xyzzy", "de", "s", 5),
        (2, "abc", "en", "s", 3),  # shorter than NGRAM: no shingles
        (3, "", "en", "s", 0),
    ]
    docs = spark.createDataFrame(
        rows,
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    occ = sorted(
        (r.doc_id, r.lang, r.token)
        for r in tokens(docs, distinct=True).collect()
    )
    via_arr = sorted(
        (r.doc_id, r.lang, r.token)
        for r in token_arrays(docs)
        .select("doc_id", "lang", F.explode("toks").alias("token"))
        .collect()
    )
    assert occ == via_arr and occ, "word-token arrays diverge"
    occ_sh = sorted(
        (r.doc_id, r.lang, r.token) for r in char_shingles(docs).collect()
    )
    via_arr_sh = sorted(
        (r.doc_id, r.lang, r.token)
        for r in char_shingle_arrays(docs)
        .select("doc_id", "lang", F.explode("toks").alias("token"))
        .collect()
    )
    assert occ_sh == via_arr_sh and occ_sh, "shingle arrays diverge"
