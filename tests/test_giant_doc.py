"""Giant-document sweep (SURVEY.md §5 adversarial-input layer): the
documents.text family must SURVIVE one ~366k-char document — at 100 TB
the length distribution is heavy-tailed (concatenated logs, minified
bundles, book-length pages), and a single long row is where any hidden
O(len²) per-document work (edit distance without length bucketing,
unbounded shingle cross-products) or per-row buffer blowup shows up.

The giant doc is half highly-repetitive (a 45-char sentence repeated —
the repetition/quality filters' worst case) and half high-entropy (md5
stream — the shingle/vocabulary explosion worst case).

Only survival within the suite's normal runtime is asserted; value
correctness on canonical fixtures belongs to the differential suite.
A hang here = a quadratic per-doc path = a real 100 TB bug.
"""

from __future__ import annotations

import pathlib

import duckdb
import pytest

import engine
from engine.session import TABLES
from tests.conftest import duck_connect, SF_DIR
from tests.test_degenerate_text import _TEXT_QIDS


@pytest.fixture(scope="session")
def giant_doc_sf_dir(tmp_path_factory):
    """Fixture twin where the max-doc_id document's text is replaced by
    a ~366k-char body (repeat-heavy first half, md5-stream second
    half); n_chars tracks the rewrite."""
    out = tmp_path_factory.mktemp("giantdoc_sf")
    con = duck_connect()
    src = pathlib.Path(SF_DIR)
    for t in TABLES:
        if t == "documents":
            con.execute(
                f"""COPY (
                    WITH big AS (
                      SELECT repeat(
                               'the quick brown fox jumps over a lazy dog ',
                               6400)
                             || (SELECT string_agg(md5(CAST(i AS VARCHAR)),
                                                   '')
                                 FROM range(3000) t(i)) AS body
                    ),
                    rewritten AS (
                      SELECT d.doc_id,
                        CASE WHEN d.doc_id =
                               (SELECT max(doc_id)
                                FROM '{src}/documents.parquet')
                             THEN (SELECT body FROM big)
                             ELSE d.text END AS text,
                        d.lang, d.source
                      FROM '{src}/documents.parquet' d)
                    SELECT doc_id, text, lang, source,
                           CAST(length(text) AS BIGINT) AS n_chars
                    FROM rewritten)
                    TO '{out}/documents.parquet' (FORMAT PARQUET)"""
            )
        else:
            con.execute(
                f"COPY (SELECT * FROM '{src}/{t}.parquet') "
                f"TO '{out}/{t}.parquet' (FORMAT PARQUET)"
            )
    con.close()
    return str(out)


@pytest.mark.parametrize("qid", _TEXT_QIDS)
def test_query_survives_giant_doc(spark, giant_doc_sf_dir, qid):
    df = engine.QUERIES[qid](spark, giant_doc_sf_dir)
    assert df.count() >= 0


# The events.props JSON consumers (functions.fn_json parses '$.k' with
# get_json_object; functions.fn_variant_surface ingests props as VARIANT).
_PROPS_QIDS = ["fn_json", "fn_variant_surface"]


@pytest.fixture(scope="session")
def giant_props_sf_dir(tmp_path_factory):
    """Fixture twin where one event's props is a ~1 MB JSON object with
    10k filler keys BEFORE the queried '$.k' key — the
    enriched-beyond-reason payload a logging pipeline eventually ships;
    JSON-path extraction must stay linear in the blob and the queried
    key must still parse from the tail."""
    out = tmp_path_factory.mktemp("giantprops_sf")
    con = duck_connect()
    src = pathlib.Path(SF_DIR)
    for t in TABLES:
        if t == "events":
            con.execute(
                f"""COPY (
                    WITH big AS (
                      SELECT '{{'
                             || (SELECT string_agg(
                                   '"pad' || i || '":"'
                                   || repeat('x', 90) || '"', ',')
                                 FROM range(10000) t(i))
                             || ',"k":7}}' AS blob
                    )
                    SELECT event_id, ts, user_id, event_type, value,
                      CASE WHEN event_id =
                             (SELECT max(event_id)
                              FROM '{src}/events.parquet')
                           THEN (SELECT blob FROM big)
                           ELSE props END AS props
                    FROM '{src}/events.parquet')
                    TO '{out}/events.parquet' (FORMAT PARQUET)"""
            )
        else:
            con.execute(
                f"COPY (SELECT * FROM '{src}/{t}.parquet') "
                f"TO '{out}/{t}.parquet' (FORMAT PARQUET)"
            )
    con.close()
    return str(out)


@pytest.mark.parametrize("qid", _PROPS_QIDS)
def test_query_survives_giant_props(spark, giant_props_sf_dir, qid):
    df = engine.QUERIES[qid](spark, giant_props_sf_dir)
    assert df.count() >= 0
