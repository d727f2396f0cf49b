#!/usr/bin/env python3
"""Profile a directory of input tables, to compare generated tables with
the engine's fixtures.

    python3 perfbench/profile_tables.py <sf0.1 fixture dir> > perfbench/fixture_profile.json

The profile holds, per table, the row count and, per column, min, max
and mean for numbers and timestamps (timestamps in epoch seconds) or the
distinct count for strings; and, for the text and vectors the LLM
queries read, the document-length quantiles, the vocabulary size, the
near-duplicate and exact-duplicate counts, the language shares and the
embedding norms. test_perfbench.py checks datagen's tables against the
stored fixture profile.
"""

import json
import sys

import duckdb

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
NUMERIC = ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "FLOAT", "DOUBLE")


def profile(data_dir: str) -> dict:
    con = duckdb.connect()
    out: dict = {}
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
            cols = {}
            for name, typ, *_ in con.execute(f"DESCRIBE {t}").fetchall():
                if typ in NUMERIC:
                    lo, hi, mean = con.execute(
                        f"SELECT min({name}), max({name}), avg({name}) FROM {t}").fetchone()
                    cols[name] = {"min": float(lo), "max": float(hi), "mean": float(mean)}
                elif typ.startswith("TIMESTAMP"):
                    lo, hi, mean = con.execute(
                        f"SELECT min(epoch({name})), max(epoch({name})), avg(epoch({name}))"
                        f" FROM {t}").fetchone()
                    cols[name] = {"min": float(lo), "max": float(hi), "mean": float(mean)}
                elif typ == "VARCHAR":
                    cols[name] = {"distinct": con.execute(
                        f"SELECT count(DISTINCT {name}) FROM {t}").fetchone()[0]}
            rows = con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
            out[t] = {"rows": rows, "columns": cols}
        qs, longest = con.execute(
            "SELECT quantile_cont(n, [0.1, 0.5, 0.9]), max(n) FROM "
            "(SELECT len(string_split(text, ' ')) AS n FROM documents)").fetchone()
        out["documents"]["text"] = {
            "tokens_q10_q50_q90_max": [*qs, longest],
            "vocabulary": con.execute(
                "SELECT count(DISTINCT w) FROM (SELECT unnest(string_split(text, ' ')) AS w"
                " FROM documents)").fetchone()[0],
            "dup_suffixed": con.execute(
                "SELECT count(*) FROM documents WHERE text LIKE '% dup'").fetchone()[0],
            "exact_duplicates": con.execute(
                "SELECT count(*) - count(DISTINCT text) FROM documents").fetchone()[0],
            "lang_share": dict(con.execute(
                "SELECT lang, round(count(*) / (SELECT count(*) FROM documents), 4)"
                " FROM documents GROUP BY lang ORDER BY lang").fetchall()),
        }
        norm, top = con.execute(
            "SELECT avg(sqrt(list_sum(list_transform(embedding, x -> x * x)))),"
            " avg(list_max(list_transform(embedding, x -> abs(x)))) FROM embeddings").fetchone()
        out["embeddings"]["vectors"] = {"mean_norm": norm, "mean_max_abs": top}
    finally:
        con.close()
    return out


if __name__ == "__main__":
    json.dump(profile(sys.argv[1]), sys.stdout, indent=1, sort_keys=True)
    sys.stdout.write("\n")
