#!/usr/bin/env python3
"""Benchmark of the analytics engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload olap_mix --seed 1 --seconds 16 --trace 0

Run from the repository root. The input tables have the sf0.1 shape of
the engine's fixtures and are generated once per checkout from a fixed
data seed (perfbench/datagen.py), so every run reads the same bytes;
``--seed`` draws the order of the queries in each pass. Spark runs at
local[<cpus>], where <cpus> is the size of the process's CPU affinity.
One client drives a closed loop: each query starts when the previous
one has finished. The run

1. runs every query of the workload once and checks its output against
   its DuckDB oracle's digest (perfbench/verify.py), outside the timed
   section. This pass also pays the first-use costs (code generation,
   JIT, Python worker pools). ``setup_s`` is process start to the first
   timed query less the benchmark's own work (input generation, the
   oracles and the comparison, the host canary);
2. runs WARM_PASSES untimed passes, while the JVM compiles the
   engine's shared paths and the Python workers fill their corpus
   caches; these count in ``setup_s`` too. The warm-up is a count of
   passes, not a time, so that every run starts timing at the same
   point of the JIT's warm-up curve however fast the host is;
3. times a fixed number of whole passes, each in its own seeded order
   and with the engine's process memos cleared first: as many as fill
   ``--seconds`` at the workload's typical pass time (PASS_S), and at
   least MIN_PASSES. A count, not a time, so that every run pools the
   same number of executions: each query is one share of them, and a
   percentile of the pool would otherwise fall on another query when a
   slow host fits one pass fewer.

With ``--trace 0`` the last stdout line carries the end-to-end metrics.
With ``--trace 1`` the timed section is split in two halves. The first
runs untraced, as above. Then the session restarts with Spark's event
log on, warms up again, and the second half is traced: each
query's build and execute phases are timed and tagged with the job
groups ``<qid>:build`` and ``<qid>:exec``. Counts come from Spark's
StatusTracker; task metrics, and the end of planning (the SQL execution
start of the noop write), come from the event log. The last line
carries the per-layer metrics, including the tracing overhead: traced
half minus untraced half. A per-query profile and the full result are
written under ``perfbench_out/``.
"""

import time

PROCESS_T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shlex  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path[:0] = [str(HERE), str(ROOT)]

import datagen  # noqa: E402
import stats  # noqa: E402

MIN_PASSES = 3
WARM_PASSES = 2
# A warm pass in seconds, which sets the count of timed passes. On a
# 4-vCPU host warm passes ran 2.2-4.0 s (olap_mix) and 1.7-4.4 s
# (llm_dedup), moving with the host's load.
PASS_S = {"olap_mix": 3.0, "llm_dedup": 2.0}
DATA_SEED = 42
DRIVER_MEM = "4g"
OUT_DIR = ROOT / "perfbench_out"
DATA_DIR = str(OUT_DIR / f"tables-sf{datagen.SF}-seed{DATA_SEED}")


def load_workloads() -> dict:
    with open(HERE / "workloads.json") as f:
        return json.load(f)["workloads"]


FAMILIES = sorted({stats.family(q) for w in load_workloads().values() for q in w["ids"]})
END_TO_END_UNITS = {
    "wall_s": "s",
    "geomean_s": "s",
    "query_p50_s": "s",
    "query_tail_s": "s",
    "ok_frac": "1",
    "setup_s": "s",
}
_LAYER_UNITS = {
    "session.start_s": "s",
    "session.warmup_s": "s",
    "build.s": "s",
    "build.jobs": "count",
    "build.stages": "count",
    "build.tasks": "count",
    "build.queries_with_jobs": "count",
    "build.task_s": "s",
    "build.shuffle_write_mb": "MB",
    "plan.s": "s",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.s_per_job": "s",
    "exec.sched_delay_s": "s",
    "exec.util": "1",
    "exec.task_s": "s",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "exec.spill_mb": "MB",
    "exec.shuffle_read_mb": "MB",
    "exec.shuffle_write_mb": "MB",
    "exec.input_mb": "MB",
    "exec.output_mb": "MB",
    "exec.failed_tasks": "count",
    "host.cpus": "count",
    "host.canary_s": "s",
    "host.load1_start": "1",
    "trace.overhead.wall_s": "s",
    "trace.overhead.geomean_s": "s",
    "trace.overhead.query_p50_s": "s",
}
PER_LAYER_UNITS = {
    **_LAYER_UNITS,
    **{f"build.s.{f}": "s" for f in FAMILIES},
    **{f"exec.s.{f}": "s" for f in FAMILIES},
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=sorted(load_workloads()))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def prepare_env(work: Path) -> dict:
    """Point every scratch location of Python, the JVM and Spark inside
    ``work`` and size Spark to this process's CPUs. Must run before the
    session starts. Returns the settings that turn tracing on, for
    :meth:`Run.restart_traced`; the event log goes to ``events_dir``."""
    cpus = len(os.sched_getaffinity(0))
    local = work / "spark-local"
    tmp = work / "tmp"
    for d in (local, tmp, events_dir(work)):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    mem = os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    os.environ["TMPDIR"] = str(tmp)
    # Python workers import the engine's UDF modules from the checkout.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)
    tempfile.tempdir = str(tmp)
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    confs = {
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # No hsperfdata files: every JVM would write them under /tmp.
        # The heap is committed and touched at start: a page the JVM
        # touches for the first time faults, in a virtual machine on the
        # host too, and those faults otherwise land in the timed passes
        # (measured: 117-131 thousand of them, at 2-5 us each, over the
        # warm and timed passes of olap_mix; 43-76 thousand with the heap
        # touched first).
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                                         f"-Xms{mem} -XX:+AlwaysPreTouch",
        "spark.ui.showConsoleProgress": "false",
    }
    args = [a for k, v in confs.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": events_dir(work).as_uri(),
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def events_dir(work: Path) -> Path:
    return work / "spark-local" / "eventlog"


def ensure_tables(work: Path) -> str:
    """The generated input tables, written first if this checkout has
    none yet. Returns their directory."""
    if not os.path.isdir(DATA_DIR):
        tmp = datagen.write(DATA_SEED, str(work / "tables"))
        try:
            os.rename(tmp, DATA_DIR)  # atomic: a reader never sees half a set
        except OSError:
            if not os.path.isdir(DATA_DIR):
                raise
    return DATA_DIR


def _reason(e: Exception) -> str:
    lines = str(e).strip().splitlines() or [""]
    return f"{type(e).__name__}: {lines[0][:200]}"


class Run:
    """One benchmark run: the session, its inputs and what was measured."""

    def __init__(self, args, ids: list[str], work: Path, trace_confs: dict):
        import bench
        import engine
        from engine.session import TABLES, get_spark

        self.args, self.ids, self.work, self.trace_confs = args, ids, work, trace_confs
        self.bench, self.engine = bench, engine
        self.tables, self.get_spark = TABLES, get_spark
        self.data = DATA_DIR
        self.spark = None
        self.failures: dict[str, str] = {}
        self.info: dict = {"cpus": int(os.environ["SPARK_GRAFT_CPUS"])}
        self.orders = iter(stats.pass_orders(ids, args.seed, 10_000))

    # -- set-up and correctness --------------------------------------
    def start(self) -> None:
        """Generate the tables if this checkout has none yet, then start
        the session, which launches the JVM. Records the engine's share:
        process start to imports done, and the session start."""
        t0 = time.perf_counter()
        ensure_tables(self.work)
        t1 = time.perf_counter()
        self.spark = self.get_spark(app_name="perfbench")
        self.start_s = time.perf_counter() - t1
        self.once_s = t0 - PROCESS_T0
        self.info.update(import_s=self.once_s, datagen_s=t1 - t0, start_s=self.start_s)

    def jvm_faults(self) -> int:
        """Page faults the JVM has taken so far (its minflt in
        /proc/<pid>/stat)."""
        from pyspark import SparkContext

        with open(f"/proc/{SparkContext._gateway.proc.pid}/stat") as f:
            return int(f.read().rsplit(")", 1)[1].split()[7])

    def canary(self) -> float:
        """A pinned micro-query, run warm and timed once: a slow host
        shows here before it shows in the workload."""
        q = self.spark.range(0, 4_000_000, 1, 4).selectExpr("sum(id * 7 % 13) AS s")
        q.collect()
        t0 = time.perf_counter()
        q.collect()
        return time.perf_counter() - t0

    def verify(self) -> None:
        """Run each query once, in the first pass's order, and check its
        output. This pass also pays every first-use cost (code
        generation, JIT, Python worker pools) before timing starts; its
        engine share, without the oracle and the comparison, starts
        ``warm_s``.
        The oracles of every workload run here if this checkout has not
        stored their digests yet."""
        import verify

        t0 = time.perf_counter()
        every = sorted({q for w in load_workloads().values() for q in w["ids"]})
        want = verify.oracle_digests(self.data, self.tables, self.engine.ORACLES, every)
        self.info["oracle_s"] = time.perf_counter() - t0
        per_query = self.info["verify_query_s"] = {}
        self.bench.reset_process_memos()
        for qid in next(self.orders):
            try:
                t0 = time.perf_counter()
                got = verify.result(self.engine.QUERIES[qid](self.spark, self.data),
                                    qid in want)
                per_query[qid] = time.perf_counter() - t0
                err = verify.compare(got, want.get(qid))
            except Exception as e:  # a failing query is a result, not a crash
                err = _reason(e)
            if err:
                self.failures[qid] = err
        self.warm_s = sum(per_query.values())

    def restart_traced(self) -> None:
        """Stop the session and start it again with the event log on and
        the status store keeping every job, in the same JVM: a new
        SparkContext reads its defaults from the JVM's system
        properties."""
        jvm = self.spark.sparkContext._jvm
        self.spark.stop()
        for k, v in self.trace_confs.items():
            jvm.java.lang.System.setProperty(k, v)
        t0 = time.perf_counter()
        self.spark = self.get_spark(app_name="perfbench-traced")
        self.info["traced_restart_s"] = time.perf_counter() - t0

    # -- timing -------------------------------------------------------
    def run_query(self, qid: str, traced: bool) -> dict | None:
        """Run one query to its noop sink; None if it raised. A traced run
        also returns the wall-clock milliseconds at which the noop write
        was called and returned, to be matched with its SQL execution
        start in the event log."""
        sc = self.spark.sparkContext
        fn = self.engine.QUERIES[qid]
        try:
            if not traced:
                t0 = time.perf_counter()
                self.bench.force(fn(self.spark, self.data))
                return {"total": time.perf_counter() - t0}
            t0 = time.perf_counter()
            sc.setJobGroup(f"{qid}:build", qid)
            df = fn(self.spark, self.data)
            t1 = time.perf_counter()
            sc.setJobGroup(f"{qid}:exec", qid)
            w0 = time.time() * 1e3
            self.bench.force(df)
            w1 = time.time() * 1e3
            t2 = time.perf_counter()
            return {"total": t2 - t0, "build": t1 - t0, "write": t2 - t1,
                    "write_ms": (w0, w1)}
        except Exception as e:
            self.failures.setdefault(qid, _reason(e))
            return None
        finally:
            if traced:
                sc.setLocalProperty("spark.jobGroup.id", None)

    def timed(self, traced: bool, seconds: float) -> dict:
        """WARM_PASSES untimed passes; then the timed passes that fill
        ``seconds`` at the workload's typical pass time."""
        # Pass times keep falling for a minute or more after the verify
        # pass while the JVM compiles the engine's shared paths (analyser,
        # optimiser, scheduler). Measured on a 4-vCPU host: olap_mix
        # passes run 4.2-6.0 s right after the verify pass, 3.0-3.6 s
        # after three more, and about 2.7 s two minutes in. A warm-up
        # bounded by time stopped at a different point of that curve on
        # a slow host than on a fast one; a fixed count of passes stops at
        # the same point on every host.
        t0 = time.perf_counter()
        for _ in range(WARM_PASSES):
            self.bench.reset_process_memos()
            for qid in next(self.orders):
                self.run_query(qid, traced)
        rec = {"samples": {q: [] for q in self.ids}, "phases": {q: [] for q in self.ids},
               "walls": [], "attempted": 0, "ok": 0, "warm_s": time.perf_counter() - t0}
        t_start = time.perf_counter()
        for _ in range(stats.pass_count(seconds, PASS_S[self.args.workload], MIN_PASSES)):
            self.bench.reset_process_memos()
            t_pass = time.perf_counter()
            for qid in next(self.orders):
                rec["attempted"] += 1
                r = self.run_query(qid, traced)
                if r is None:
                    continue
                rec["samples"][qid].append(r["total"])
                rec["phases"][qid].append(r)
                rec["ok"] += qid not in self.failures
            rec["walls"].append(time.perf_counter() - t_pass)
        rec["timed_s"] = time.perf_counter() - t_start
        return rec

    # -- reduction ----------------------------------------------------
    @staticmethod
    def end_to_end(rec: dict) -> dict:
        samples = {q: ts for q, ts in rec["samples"].items() if ts}
        if not samples:
            raise RuntimeError("no query completed in the timed section")
        return stats.end_to_end(samples, rec["walls"], rec["ok"], rec["attempted"])

    def per_layer(self, rec: dict, e2e_plain: dict, canary_s: float) -> tuple[dict, dict]:
        """Per-layer figures per traced pass, and the per-query profile."""
        import layers

        sc = self.spark.sparkContext
        layers.settle(sc)
        counts = {(qid, phase): layers.status_counts(sc, f"{qid}:{phase}")
                  for qid in self.ids for phase in ("build", "exec")}
        self.spark.stop()  # closes the event log
        self.spark = None
        task, sql_starts = layers.fold_event_log(str(events_dir(self.work)))
        # Planning ends when the noop write posts its SQL execution start:
        # Spark analyses, optimises and plans the write's own query first.
        for qid, ph in rec["phases"].items():
            for p in ph:
                p["plan"] = layers.plan_seconds(p["write_ms"], sql_starts.get(f"{qid}:exec", ()))
                p["exec"] = p["write"] - p["plan"]
        n_pass = len(rec["walls"])
        cpus = self.info["cpus"]
        profile = {}
        for qid in self.ids:
            ph = rec["phases"][qid]
            if not ph:
                continue
            runs = len(ph)
            entry = {f"{k}_s": stats.median(p[k] for p in ph) for k in ("build", "plan", "exec")}
            for phase in ("build", "exec"):
                for k, v in counts[qid, phase].items():
                    entry[f"{phase}_{k}"] = v / runs
            entry["runs"] = runs
            profile[qid] = entry

        def per_pass(phase: str, fam: str | None = None) -> float:
            return sum(p[phase] for q, ph in rec["phases"].items() for p in ph
                       if fam is None or stats.family(q) == fam) / n_pass

        def summed(phase: str, field: str) -> float:
            return sum(task.get(f"{q}:{phase}", {}).get(field, 0.0) for q in self.ids) / n_pass

        layer = {"session.start_s": self.start_s, "session.warmup_s": self.warm_s}
        for phase in ("build", "plan", "exec"):
            layer[f"{phase}.s"] = per_pass(phase)
        for phase in ("build", "exec"):
            for k in ("jobs", "stages", "tasks"):
                layer[f"{phase}.{k}"] = sum(
                    p[f"{phase}_{k}"] * p["runs"] for p in profile.values()) / n_pass
        layer["build.queries_with_jobs"] = sum(1 for p in profile.values() if p["build_jobs"] > 0)
        layer["build.task_s"] = summed("build", "task_s")
        layer["build.shuffle_write_mb"] = summed("build", "shuffle_write_mb")
        for field in layers.TASK_FIELDS:
            layer[f"exec.{field}"] = summed("exec", field)
        layer["exec.s_per_job"] = layer["exec.s"] / max(layer["exec.jobs"], 1.0)
        layer["exec.util"] = layer["exec.task_s"] / (layer["exec.s"] * cpus)
        for fam in FAMILIES:
            for phase in ("build", "exec"):
                layer[f"{phase}.s.{fam}"] = per_pass(phase, fam)
        layer["host.cpus"] = cpus
        layer["host.canary_s"] = canary_s
        layer["host.load1_start"] = self.info["load1_start"]
        e2e_traced = self.end_to_end(rec)
        for k in ("wall_s", "geomean_s", "query_p50_s"):
            layer[f"trace.overhead.{k}"] = e2e_traced[k] - e2e_plain[k]
        return layer, profile

    def close(self) -> None:
        """Stop the session, then the JVM, and wait for it to end."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is not None:
            proc = getattr(gw, "proc", None)
            gw.shutdown()
            SparkContext._gateway = None
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:
                    proc.kill()
                    proc.wait()


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import engine  # noqa: F401  (the program under test must be present)
        import bench  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the engine from {ROOT}: {e}", file=sys.stderr)
        return 2
    ids = load_workloads()[args.workload]["ids"]
    # A terminated run still stops its JVM and removes its scratch files.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    OUT_DIR.mkdir(exist_ok=True)
    work = Path(tempfile.mkdtemp(prefix=f"run-{args.workload}-", dir=OUT_DIR))
    trace_confs = prepare_env(work)
    run = None
    try:
        load1 = os.getloadavg()[0]
        run = Run(args, ids, work, trace_confs)
        run.info["load1_start"] = load1
        run.start()
        canary_s = run.canary()
        t = time.perf_counter()
        run.verify()
        run.info["verify_s"] = time.perf_counter() - t
        seconds = args.seconds / 2 if args.trace else args.seconds
        faults = run.jvm_faults()
        plain_rec = run.timed(False, seconds)
        run.info["jvm_faults"] = run.jvm_faults() - faults
        run.info["warm_passes_s"] = plain_rec["warm_s"]
        run.warm_s += plain_rec["warm_s"]
        plain = run.end_to_end(plain_rec)
        plain["setup_s"] = run.once_s + run.start_s + run.warm_s
        run.info.update(passes=len(plain_rec["walls"]), pass_walls_s=plain_rec["walls"],
                        timed_s=plain_rec["timed_s"])
        ok, attempted = plain_rec["ok"], plain_rec["attempted"]
        tag = f"{args.workload}-seed{args.seed}-trace{args.trace}"
        detail = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                  "query_samples_s": plain_rec["samples"],
                  "canary_s": canary_s, **plain}
        if args.trace:
            run.restart_traced()
            traced_rec = run.timed(True, seconds)
            ok, attempted = ok + traced_rec["ok"], attempted + traced_rec["attempted"]
            run.info.update(traced_passes=len(traced_rec["walls"]),
                            traced_pass_walls_s=traced_rec["walls"])
            layer, profile = run.per_layer(traced_rec, plain, canary_s)
            with open(OUT_DIR / f"profile-{tag}.json", "w") as f:
                json.dump(profile, f, indent=1, sort_keys=True)
            detail["layer"] = layer
            figures, units = layer, PER_LAYER_UNITS
        else:
            figures, units = plain, END_TO_END_UNITS
        detail.update(run.info, failures=run.failures)
        result = {"correct": not run.failures and ok == attempted,
                  "attempted": attempted, "failed": attempted - ok}
        with open(OUT_DIR / f"result-{tag}.json", "w") as f:
            json.dump({**result, "detail": detail}, f, indent=1, sort_keys=True)
        print(json.dumps(detail, sort_keys=True))
        metrics = {k: {"value": figures[k], "unit": u} for k, u in units.items()}
        print(json.dumps({**result, "metrics": metrics}))
        return 0
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        if run is not None:
            run.close()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
