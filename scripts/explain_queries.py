#!/usr/bin/env python
"""Capture .explain('formatted') for a set of queries into plans/<tag>/.

Usage: python scripts/explain_queries.py <tag> <suffix> [qid ...]
Writes plans/<tag>/<qid>_<suffix>.txt for each qid (default: the
queries named on stdin, one per line, if no qids given).

explain itself is planning-side and runs no job, but building a
query's DataFrame can: the llm/emb/graph queries that checkpoint or
collect intermediate results (21 of them in perfbench/probe.json, e.g.
the LSH family's signature checkpoint, hot-bucket census and candidate
checkpoint) run those Spark jobs here, and their captured plan shows
only the fragment after the last checkpoint. Do not run this alongside
timing work.
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

import engine
from engine.session import get_spark


def main() -> None:
    tag, suffix = sys.argv[1], sys.argv[2]
    qids = sys.argv[3:]
    if not qids:
        qids = [ln.strip() for ln in sys.stdin if ln.strip()]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        tag,
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark(app_name="explain-capture")
    for qid in qids:
        df = engine.QUERIES[qid](spark, sf_dir)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        path = os.path.join(out_dir, f"{qid}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(buf.getvalue())
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
