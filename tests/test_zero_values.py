"""Zero-values robustness: every registered query must plan and execute
over a fixture twin whose MEASURE columns are all degenerate — empty
text, zero prices/quantities/values, zero-norm embeddings — with keys,
enums, and timestamps intact.

This is the class the empty and single-row sweeps cannot reach: groups
that EXIST but sum to zero (an ANSI divide-by-zero job abort, not a
NULL), constant series with n > 1 (stddev exactly 0, unlike the
single-row NULL), and zero-norm vectors (cosine 0/0). At 100 TB these
are routine — a crawl shard of boilerplate-stripped empty docs, a
refunded-to-zero order day, a null-imputed embedding batch — and one
unguarded division takes down the whole job under Spark 4's default
ANSI mode. Found llm_code_fraction's Σn_chars=0 abort on landing
(engine/curation.py, fixed with try_divide; DuckDB's divide-by-zero is
NULL, so oracles already agree with the try_* semantics).
"""

from __future__ import annotations

import pathlib

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

import engine
from engine.session import TABLES
from tests.conftest import SF_DIR, materialize

ALL_IDS = sorted(engine.QUERIES)

# measure columns to degenerate, per table (keys/enums/dates untouched)
ZERO_COLS: dict[str, dict[str, object]] = {
    "customer": {"c_acctbal": 0.0},
    "supplier": {"s_acctbal": 0.0},
    "part": {"p_retailprice": 0.0, "p_size": 0},
    "orders": {"o_totalprice": 0.0},
    "lineitem": {
        "l_quantity": 0.0,
        "l_extendedprice": 0.0,
        "l_discount": 0.0,
        "l_tax": 0.0,
    },
    "events": {"value": 0.0},
    "documents": {"text": "", "n_chars": 0},
}


def _zeroed(table: pa.Table, name: str) -> pa.Table:
    for col, val in ZERO_COLS.get(name, {}).items():
        i = table.schema.get_field_index(col)
        typ = table.schema.field(i).type
        arr = pa.array([val] * len(table), type=typ)
        table = table.set_column(i, table.schema.field(i), arr)
    if name == "embeddings":
        i = table.schema.get_field_index("embedding")
        typ = table.schema.field(i).type
        dim = len(table.column(i)[0].as_py()) if len(table) else 0
        arr = pa.array([[0.0] * dim] * len(table), type=typ)
        table = table.set_column(i, table.schema.field(i), arr)
    return table


@pytest.fixture(scope="session")
def zero_sf_dir(tmp_path_factory):
    out = tmp_path_factory.mktemp("zero_sf")
    for t in TABLES:
        src = pathlib.Path(SF_DIR) / f"{t}.parquet"
        pq.write_table(_zeroed(pq.read_table(src), t), out / f"{t}.parquet")
    return str(out)


@pytest.mark.parametrize("qid", ALL_IDS)
def test_query_survives_zeroed_measures(spark, zero_sf_dir, qid):
    df = engine.QUERIES[qid](spark, zero_sf_dir)
    assert materialize(df) >= 0
    assert len(df.schema.fields) > 0


# ---------------------------------------------------------------------------
# EXACT tier (r7): both engines see the same zeroed twin, so every
# oracled query must hash-match its oracle ON the twin. First run (as
# an ad-hoc sweep) caught 7 ANSI divide-by-zero job aborts that the
# survival tier's count() had pruned away (win_pct_change,
# win_ratio_to_report, win_pareto_days, llm_zipf_slope,
# q8_market_share, q14_promo_revenue, ts_naive_forecast_eval — all now
# try_divide with NULLIF-mirrored oracles) plus fn_math's oracle-side
# LN(0) out-of-range (now CASE-guarded to Spark's NULL).
# ---------------------------------------------------------------------------

from engine.session import TABLES as _TABLES
from tests.conftest import assert_frames_match, duck_connect


@pytest.fixture(scope="session")
def zero_ddb(zero_sf_dir):
    con = duck_connect()
    for t in _TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{zero_sf_dir}/{t}.parquet')"
        )
    yield con
    con.close()


@pytest.mark.parametrize("qid", sorted(engine.ORACLES))
def test_oracle_pair_under_zeroed_measures(spark, zero_sf_dir, zero_ddb, qid):
    spark_df = engine.QUERIES[qid](spark, zero_sf_dir)
    oracle_pdf = zero_ddb.execute(engine.ORACLES[qid]).fetchdf()
    assert_frames_match(spark_df, oracle_pdf, qid=f"{qid}[zero-twin]")
