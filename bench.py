#!/usr/bin/env python
"""Benchmark harness (driver contract + SURVEY.md §7.2 M9).

Runs every registered query at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {qid: sec, ...}, "sf": ...}.

Each query is forced with a noop sink write — full plan executes on the
executors, nothing is collected to the driver, which is how a 100 TB run
would be measured too.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

import engine
from engine.session import get_spark


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def reset_process_memos() -> None:
    """Clear driver-process memo caches between bench passes (VERDICT r12
    item 1). Memoized ops must pay their real cost in EVERY pass, or a
    REPS>=2 median books a cache-hit time no single-rep driver artifact
    can reproduce (llm_dedup_clusters: 0.054 s memo-warm vs ~9-13 s cold
    — the gap that manufactured r12's phantom 24 s regression). Clears
    the CC-labels memo shared by llm_dedup_clusters/llm_dedup_survivors
    and the driver-side twin of the worker corpus cache (the worker-side
    copies key on file stats and are the storage-layer analogue of
    broadcast warmth — every pass pays the same per-worker read pattern
    a single-rep artifact does, so no clearing is needed there)."""
    import engine.pipeline_ops
    import engine.scale_ops
    import engine.session

    engine.pipeline_ops._LABELS_MEMO.clear()
    engine.scale_ops._NEARDUP_CORPUS.clear()
    # Metadata, not results — but cleared per pass anyway so every rep
    # pays the same first-load schema-inference cost a fresh single-rep
    # process does (the r12 comparability principle, applied to the r14
    # schema catalog).
    engine.session._SCHEMA_CATALOG.clear()


def wait_for_quiet(
    quiet_load: float,
    max_wait: float,
    loadavg=os.getloadavg,
    sleep=time.sleep,
    quiet_load15: float = 2.5,
) -> float:
    """Sleep until the host is quiet or ``max_wait`` elapses; returns the
    seconds waited (recorded in the artifact as ``quiet_wait_sec``).

    The gate tests the 1-min AND 5-min averages against ``quiet_load``
    (VERDICT r12 item 3) AND the 15-min average against ``quiet_load15``
    (VERDICT r13 item 1): BENCH_r13 started the instant load5 dipped to
    1.95 — a hair under 2.0 — while load15 still read 2.85, and the
    artifact came out 1.66× the idle-host number. The 15-min average is
    the slowest-decaying contamination signal; a genuinely
    recently-freed host still clears 2.5 within the 600 s budget, while
    a host that was busy for the last quarter hour does not. A
    still-loaded start after the full wait stays self-diagnosing via
    loadavg_start, exactly as before."""
    quiet_wait = 0.0

    def busy() -> bool:
        load1, load5, load15 = loadavg()[:3]
        return max(load1, load5) > quiet_load or load15 > quiet_load15

    try:
        still_busy = busy()
    except OSError:
        return 0.0
    while still_busy and quiet_wait < max_wait:
        sleep(10)
        quiet_wait += 10
        try:
            still_busy = busy()
        except OSError:
            # Transient getloadavg failure mid-wait: degrade to the
            # no-gate path rather than crashing the bench (ADVICE r13).
            return quiet_wait
    return quiet_wait


def run_passes(
    spark, sf_dir: str, ids: list[str], reps: int
) -> dict[str, list[float]]:
    """The timing loop: ``reps`` whole interleaved passes over ``ids``,
    with process-local memos cleared at the top of every pass so each
    pass measures the same cold-memo work a single-rep run does.
    Factored out of main() so tests can pin the reset-per-pass contract
    directly (monkeypatching ``bench.reset_process_memos``)."""
    samples: dict[str, list[float]] = {q: [] for q in ids}
    for _ in range(reps):
        reset_process_memos()
        for qid in ids:
            t0 = time.perf_counter()
            force(engine.QUERIES[qid](spark, sf_dir))
            samples[qid].append(time.perf_counter() - t0)
    return samples


def warmup(spark, sf_dir: str) -> None:
    """Steady-state warmup (untimed): JVM JIT + codegen compiler, parquet
    footer cache, shuffle machinery, and the Python worker pools all have
    one-time startup costs that would otherwise be charged to whichever
    query happens to run first. Each Python-UDF eval type (batch UDF,
    pandas scalar, grouped map, mapInPandas, UDTF) spins up its own
    worker fleet on first use (~5-7 s for 32 interpreters importing
    pandas), so one tiny query per eval type runs here."""
    import pandas as pd

    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf, udf, udtf

    force(
        spark.read.parquet(f"{sf_dir}/region.parquet")
        .groupBy("r_name")
        .agg(F.count("*").alias("n"))
    )

    two = spark.createDataFrame(pd.DataFrame({"x": [1, 2]}))

    def _noop_pd(it):
        for pdf in it:
            yield pdf

    force(two.mapInPandas(_noop_pd, schema="x long"))

    def _noop_arrow(it):
        yield from it

    force(two.mapInArrow(_noop_arrow, schema="x long"))
    force(two.select(udf(lambda x: x, "long")("x").alias("x")))
    force(two.select(pandas_udf(lambda s: s, "long")("x").alias("x")))
    force(
        two.groupBy("x").applyInPandas(
            lambda pdf: pdf, schema="x long"
        )
    )

    @udtf(returnType="y long")
    class _Echo:
        def eval(self, x):
            yield (x,)

    force(_Echo(F.lit(1)))

    # First use of each file-sink format initializes its committer /
    # codec paths (~1-3 s each, observed: first partitioned parquet
    # write 2.5 s vs 0.85 s warm) — one-time machinery that would
    # otherwise be charged to whichever roundtrip/sink query runs first.
    import shutil
    import tempfile

    scratch = tempfile.mkdtemp(prefix="bench_warm_")
    try:
        two_p = two.withColumn("p", F.col("x") % 2)
        two_p.write.mode("overwrite").partitionBy("p").parquet(f"{scratch}/p")
        spark.read.parquet(f"{scratch}/p").collect()
        for fmt in ("csv", "json", "orc"):
            two.write.mode("overwrite").format(fmt).save(f"{scratch}/{fmt}")
            spark.read.format(fmt).load(f"{scratch}/{fmt}").collect()
        # Spark 4 built-in XML datasource: separate reader/writer init
        # path from the row-based formats above (source_xml_roundtrip).
        two.write.mode("overwrite").format("xml").option(
            "rowTag", "r"
        ).save(f"{scratch}/xml")
        (
            spark.read.format("xml")
            .option("rowTag", "r")
            .schema("x long")
            .load(f"{scratch}/xml")
            .collect()
        )
        # Datasketches HLL + recursive-CTE (UnionLoopExec) first-use
        # class loading (agg_hll_sketch_mergeable, sql_recursive_*).
        force(
            two.agg(
                F.hll_sketch_estimate(F.hll_sketch_agg("x")).alias("e")
            )
        )
        spark.sql(
            "WITH RECURSIVE t(n) AS (SELECT 1 UNION ALL "
            "SELECT n + 1 FROM t WHERE n < 3) SELECT SUM(n) FROM t"
        ).collect()
        # First use of the Python DataSource API (spark.dataSource
        # .register + a custom read AND a custom write) initializes its
        # own plan/exec machinery — a first-use cost the five UDF eval
        # types above do NOT cover (VERDICT r12 item 2: measured 19.6 s /
        # 17.5 s cold vs 0.62 s / 1.59 s warm for source/sink_python_
        # datasource — the pair distorted two consecutive driver
        # artifacts). A 2-row source + a 2-row sink warm both paths.
        from pyspark.sql.datasource import (
            DataSource,
            DataSourceReader,
            DataSourceWriter,
            InputPartition,
            WriterCommitMessage,
        )

        class _WarmSource(DataSource):
            @classmethod
            def name(cls):
                return "bench_warm_src"

            def schema(self):
                return "x bigint"

            def reader(self, schema):
                class R(DataSourceReader):
                    def partitions(self):
                        # 8 splits = the real op's task fan-out, so the
                        # datasource-read Python workers all spin here
                        return [InputPartition(i) for i in range(8)]

                    def read(self, p):
                        yield (p.value,)

                return R()

        sink_dir = f"{scratch}/pyds_sink"
        os.makedirs(sink_dir, exist_ok=True)

        class _WarmSink(DataSource):
            @classmethod
            def name(cls):
                return "bench_warm_sink"

            def writer(self, schema, overwrite):
                class Wr(DataSourceWriter):
                    def write(self, it):
                        p = os.path.join(sink_dir, f"{os.getpid()}.txt")
                        with open(p, "a") as f:
                            for row in it:
                                f.write(f"{row[0]}\n")
                        return WriterCommitMessage()

                return Wr()

        spark.dataSource.register(_WarmSource)
        spark.dataSource.register(_WarmSink)
        force(spark.read.format("bench_warm_src").load())
        (
            two.repartition(4)
            .write.format("bench_warm_sink")
            .mode("append")
            .save()
        )

        # First saveAsTable initializes the session-catalog + table
        # commit machinery (~2-4 s observed) — one-time cost otherwise
        # charged to join_bucketed_colocated's scratch database.
        db = "bench_warm_db"
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {db} LOCATION '{scratch}/db'")
        try:
            (
                two.write.mode("overwrite")
                .format("parquet")
                .bucketBy(2, "x")
                .saveAsTable(f"{db}.warm_t")
            )
            spark.table(f"{db}.warm_t").collect()
        finally:
            spark.sql(f"DROP DATABASE IF EXISTS {db} CASCADE")
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    only = sys.argv[1:]  # optional: bench a subset by query id
    unknown = [qid for qid in only if qid not in engine.QUERIES]
    if unknown:
        print(f"unknown query id(s): {unknown}", file=sys.stderr)
        print(f"known ids: {sorted(engine.QUERIES)}", file=sys.stderr)
        sys.exit(2)
    # Bounded wait-for-quiet (VERDICT r11 item 4): the r10/r11 artifacts
    # were taken on a loaded host (loadavg_start 4-16) and needed
    # off-artifact re-measurement to adjudicate. The driver's bench run
    # is outside scripts/close_round.sh's sequencing, so the gate record
    # is made clean AT THE SOURCE: sleep until 1-min load drops under
    # SPARK_GRAFT_QUIET_LOAD (default 2.0) or SPARK_GRAFT_QUIET_MAX_WAIT
    # (default 600 s) elapses, and record the wait in the artifact. A
    # still-loaded start after the full wait remains self-diagnosing via
    # loadavg_start, exactly as before.
    quiet_load = float(os.environ.get("SPARK_GRAFT_QUIET_LOAD", "2.0"))
    quiet_load15 = float(os.environ.get("SPARK_GRAFT_QUIET_LOAD15", "2.5"))
    max_wait = float(os.environ.get("SPARK_GRAFT_QUIET_MAX_WAIT", "600"))
    quiet_wait = wait_for_quiet(quiet_load, max_wait, quiet_load15=quiet_load15)

    # Pre-existing host contention, sampled BEFORE any work starts
    # (i.e. after the quiet wait above): by end-of-run the bench's own
    # load dominates the 1-min figure, so the start sample is the one
    # that diagnoses a contaminated run (the BENCH_r10 failure mode —
    # foreign sweeps sharing the host).
    try:
        loadavg_start = [round(x, 2) for x in os.getloadavg()]
    except OSError:
        loadavg_start = None

    spark = get_spark(app_name="engine-bench")
    warmup(spark, sf_dir)

    # Median-of-N per query (SPARK_GRAFT_BENCH_REPS, default 3): this
    # host swings 1.5-2× run-to-run (BASELINE.md), so medians are the
    # stable signal. The default moved 1 → 3 in r14 (VERDICT r13 item 1):
    # memo-clearing at the top of every pass makes each rep equivalent to
    # a cold single-rep, so the driver's unattended artifact becomes a
    # median at ~3× wall cost — which the quiet-wait budget already
    # dwarfs — instead of a one-shot sample at the mercy of host noise.
    # Reps interleave whole passes (not back-to-back per query) so
    # cache-warmth bias is shared evenly.
    reps = max(1, int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    ids = [q for q in sorted(engine.QUERIES) if not only or q in only]
    samples = run_passes(spark, sf_dir, ids, reps)
    timings: dict[str, float] = {
        q: round(sorted(s)[len(s) // 2], 3) for q, s in samples.items()
    }

    total = round(sum(timings.values()), 3)
    # Host-contention telemetry (VERDICT r10 wrong #1): BENCH_r10's
    # 521 s reading was concurrent-sweep contamination, adjudicated only
    # by off-artifact re-measurement. Recording the 1/5/15-min loadavg
    # and the CPU allowance makes a contaminated run diagnosable from
    # the artifact alone — loadavg far above len(affinity) at capture
    # time means the wall numbers were taken on a busy host.
    try:
        loadavg_end = [round(x, 2) for x in os.getloadavg()]
    except OSError:
        loadavg_end = None
    try:
        cpus = len(os.sched_getaffinity(0))
    except AttributeError:
        cpus = os.cpu_count()
    full, summary = build_artifacts(
        timings,
        sf=sf,
        loadavg_start=loadavg_start,
        loadavg_end=loadavg_end,
        cpus=cpus,
        quiet_wait=quiet_wait,
        reps=reps,
    )
    # Full per-query detail first (the documented contract line) ...
    print(json.dumps(full))
    # ... then a SHORT summary line LAST. The driver keeps only a ~2 KB
    # tail of stdout, so the ~3 KB full line above gets head-truncated and
    # can't be parsed (BENCH_r01 "parsed": null). This final line is kept
    # under ~1.4 KB by including only the slowest queries, so the totals
    # always survive the tail capture and parse.
    print(json.dumps(summary, separators=(",", ":")))


def build_artifacts(
    timings: dict[str, float],
    sf,
    loadavg_start,
    loadavg_end,
    cpus,
    quiet_wait: float,
    reps: int,
) -> tuple[dict, dict]:
    """Build the (full, summary) JSON artifact dicts from per-query
    medians. Factored out of main() so tests can pin the summary-line
    contract (tests/test_bench_loop.py) without running Spark.

    r15 additions (VERDICT r14 item 6, keys-only): ``geomean_sec`` on
    both lines — the whole-suite per-query signal that survives the
    summary truncation (a reader diffing two summary tails otherwise
    sees only top-N movement) — and ``truncated_to_slowest`` on the
    summary, making explicit that its per-query dict is the slowest-N
    SUBSET of the ``n_queries`` run (PERF_r14 misread queries leaving
    this top-N as "dropped"). The geomean floors each median at 1 ms so
    a rounded 0.0 cannot zero the product."""
    import math

    total = round(sum(timings.values()), 3)
    geomean = (
        round(
            math.exp(
                sum(math.log(max(v, 1e-3)) for v in timings.values())
                / len(timings)
            ),
            3,
        )
        if timings
        else None
    )
    common = {
        "metric": "engine_all_queries_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "geomean_sec": geomean,
        "loadavg_start": loadavg_start,
        "loadavg_end": loadavg_end,
        "cpus": cpus,
        "quiet_wait_sec": round(quiet_wait),
        "reps": reps,
    }
    full = dict(common)
    summary = dict(common)
    summary["queries"] = {}
    summary["n_queries"] = len(timings)

    def report(n: int) -> None:
        summary["n_reported"] = summary["truncated_to_slowest"] = n

    # Both trailer keys are set before each size check, so the 1300-byte
    # bound covers the line exactly as printed.
    report(0)
    slowest = sorted(timings.items(), key=lambda kv: (-kv[1], kv[0]))
    for qid, sec in slowest:
        summary["queries"][qid] = sec
        report(len(summary["queries"]))
        if len(json.dumps(summary, separators=(",", ":"))) > 1300:
            del summary["queries"][qid]
            report(len(summary["queries"]))
            break
    return full, summary


if __name__ == "__main__":
    main()
