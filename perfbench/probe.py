#!/usr/bin/env python3
"""Measure each candidate query once warm, for workload selection.

    python3 perfbench/probe.py [--out perfbench/probe.json]

Runs every query of the olap families (``q``, ``agg``, ``join``, ``win``)
and the LLM-curation families (``llm``, ``emb``, ``graph``) on the
benchmark's generated tables, in the benchmark's session (local[<cpus>]),
twice in a row, and records the second call: the seconds spent building
the DataFrame and forcing it to the noop sink, and the Spark jobs each
phase launched (StatusTracker by job group). The result memos are
cleared before each call and the table schemas are loaded once up
front, so the build jobs counted are the query's own, not schema
inference or a memo hit.
select_workloads.py reads the result.
"""

import argparse
import json
import os
import shutil
import sys
import tempfile
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

import run  # noqa: E402
import stats  # noqa: E402

FAMILIES = ("q", "agg", "join", "win", "llm", "emb", "graph")
REPS = 2


def clear_result_memos() -> None:
    """The result memos of ``bench.reset_process_memos``, without its
    schema catalog: schema inference is the same few jobs for every
    query and would hide which queries launch jobs of their own."""
    import engine.pipeline_ops
    import engine.scale_ops

    engine.pipeline_ops._LABELS_MEMO.clear()
    engine.scale_ops._NEARDUP_CORPUS.clear()


def probe(data: str) -> dict:
    """The second call of every candidate query, by id."""
    import bench
    import engine
    from engine.session import TABLES, get_spark, load

    spark = get_spark(app_name="perfbench-probe")
    sc = spark.sparkContext
    st = sc.statusTracker()
    ids = sorted(q for q in engine.QUERIES if stats.family(q) in FAMILIES)
    for t in TABLES:  # fills the session's schema catalog once
        load(spark, data, t)
    out = {}
    for qid in ids:
        for rep in range(REPS):
            clear_result_memos()
            groups = (f"{qid}:build{rep}", f"{qid}:exec{rep}")
            sc.setJobGroup(groups[0], qid)
            t0 = time.perf_counter()
            df = engine.QUERIES[qid](spark, data)
            t1 = time.perf_counter()
            sc.setJobGroup(groups[1], qid)
            bench.force(df)
            t2 = time.perf_counter()
        time.sleep(0.3)  # let the listener bus deliver the last job events
        out[qid] = {
            "family": stats.family(qid),
            "build_s": round(t1 - t0, 4),
            "exec_s": round(t2 - t1, 4),
            "build_jobs": len(st.getJobIdsForGroup(groups[0])),
            "exec_jobs": len(st.getJobIdsForGroup(groups[1])),
        }
        print(qid, out[qid], file=sys.stderr, flush=True)
    spark.stop()
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--out", default=str(HERE / "probe.json"))
    args = ap.parse_args(argv)
    run.OUT_DIR.mkdir(exist_ok=True)
    work = Path(tempfile.mkdtemp(prefix="probe-", dir=run.OUT_DIR))
    run.prepare_env(work)
    try:
        out = probe(run.ensure_tables(work))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    meta = {"cpus": int(os.environ["SPARK_GRAFT_CPUS"]), "reps": REPS,
            "data": Path(run.DATA_DIR).name, "recorded": "second call of each query"}
    with open(args.out, "w") as f:
        json.dump({"meta": meta, "queries": out}, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
