"""Output check: each query's result against its DuckDB oracle.

The comparison is the one the engine's differential suite makes, with
its own helpers (``tests/conftest.py``): the same column names, the same
row count, and an order-insensitive hash of every canonicalised value. A
query without an oracle gets a rows-only check (its result must have a
schema and be countable).

The input tables never change within a checkout, so each oracle runs
once: its digest is stored beside the tables and every run compares its
own Spark result with the stored digest.
"""

from __future__ import annotations

import hashlib
import importlib.util
import json
import os
from pathlib import Path

DIGESTS = "oracle-digests.json"
_CONFTEST = Path(__file__).resolve().parent.parent / "tests" / "conftest.py"


def _conftest():
    spec = importlib.util.spec_from_file_location("engine_tests_conftest", _CONFTEST)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


_helpers = _conftest()


def digest(pdf) -> list:
    """[sorted column names, row count, order-insensitive value hash]."""
    cols, rows = _helpers.normalize(pdf)
    h = hashlib.sha256()
    for r in rows:
        h.update(repr(r).encode())
        h.update(b"\n")
    return [cols, len(rows), h.hexdigest()]


def oracle_digests(data_dir: str, tables, oracles: dict, ids) -> dict:
    """The digest of every oracle among ``ids``, from the store beside the
    tables; the oracles missing from it run now (DuckDB on the same
    parquet files) and are added, so a run pays for each oracle at most
    once per checkout."""
    path = os.path.join(data_dir, DIGESTS)
    stored = {}
    if os.path.exists(path):
        with open(path) as f:
            stored = json.load(f)
    missing = [q for q in ids if q in oracles and q not in stored]
    if missing:
        con = _helpers.duck_connect()
        try:
            for t in tables:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
            for q in missing:
                stored[q] = digest(con.execute(oracles[q]).fetchdf())
        finally:
            con.close()
        tmp = f"{path}.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(stored, f, indent=1, sort_keys=True)
        os.replace(tmp, path)  # atomic: a reader never sees half a store
    return {q: stored[q] for q in ids if q in stored}


def result(df, has_oracle: bool):
    """Evaluate a query's DataFrame for checking: its digest when there is
    an oracle, else its column count and row count."""
    if not has_oracle:
        return len(df.schema.fields), df.count()
    return digest(df.toPandas())


def compare(got, want: list | None) -> str | None:
    """Compare a result from :func:`result` with the oracle's digest (None
    when the query has no oracle); returns None when they agree, else a
    one-line reason."""
    if want is None:
        n_cols, _ = got
        return None if n_cols else "result has no columns"
    if got[0] != want[0]:
        return f"columns {got[0]} != oracle {want[0]}"
    if got[1] != want[1]:
        return f"rows {got[1]} != oracle {want[1]}"
    if got[2] != want[2]:
        return "value hash differs from oracle"
    return None
