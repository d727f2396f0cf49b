"""Bench-methodology pins (VERDICT r12 items 1 and 3).

The bench harness itself is part of the measurement contract: the
builder's REPS=3 close medians and the driver's single-rep artifacts
must book COMPARABLE numbers, or a cache-warm median manufactures
phantom regressions (r12: llm_dedup_clusters read 0.054 s memo-warm in
the close record vs ~9-13 s in every single-rep driver artifact). These
tests pin the two harness rules that keep the records comparable:

  1. process-local memos are cleared at the top of EVERY pass, so each
     rep pays the same cold-memo cost a single-rep run does;
  2. the pre-run quiet gate tests the 5-min load average too, so a
     momentary 1-min dip (BENCH_r12 started at [1.98, 3.05, 2.99])
     can't admit a still-busy host.

Pure unit tests — no SparkSession, no timing, safe under any host load.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
import engine  # noqa: E402
import engine.pipeline_ops as po  # noqa: E402
import engine.scale_ops as so  # noqa: E402


def test_reset_process_memos_clears_both_caches():
    """Both registered process-local memos (the CC-labels memo behind
    llm_dedup_clusters/llm_dedup_survivors and the driver-side corpus
    cache twin) empty out on reset — a future rename of either dict
    breaks the import here, loudly."""
    po._LABELS_MEMO[("app", "sf")] = object()
    so._NEARDUP_CORPUS[("p", 0, 0)] = object()
    bench.reset_process_memos()
    assert not po._LABELS_MEMO
    assert not so._NEARDUP_CORPUS


def test_run_passes_pays_cold_memo_cost_every_rep(monkeypatch):
    """VERDICT r12 item 1 'Done' bar: under REPS=3 a memoized query must
    run COLD in every rep (the reset wired into the pass loop clears the
    real _LABELS_MEMO), so the reported median can never book a
    cache-hit time a single-rep driver artifact can't reproduce."""
    observed: list[str] = []

    def memoized_query(spark, sf_dir):
        observed.append("warm" if po._LABELS_MEMO else "cold")
        po._LABELS_MEMO[("app", sf_dir)] = object()
        return None

    monkeypatch.setattr(bench, "force", lambda df: None)
    qid = "__bench_test_memoized__"
    monkeypatch.setitem(engine.QUERIES, qid, memoized_query)
    po._LABELS_MEMO.clear()
    samples = bench.run_passes(None, "sfX", [qid], 3)
    assert observed == ["cold", "cold", "cold"], (
        "a rep ran memo-warm — the close median and the driver's "
        "single-rep artifact are no longer comparable (r12's phantom "
        "24 s llm_dedup_clusters regression)"
    )
    assert len(samples[qid]) == 3
    po._LABELS_MEMO.clear()


def test_quiet_gate_rejects_momentary_one_minute_dip():
    """The exact BENCH_r12 contamination shape: load1 dips to 1.98 while
    load5 still reads 3.05 — the old 1-min-only gate exited here; the
    gate must now keep waiting until BOTH averages are quiet."""
    seq = iter(
        [
            (1.98, 3.05, 2.99),  # the r12 start sample: must NOT pass
            (1.50, 2.40, 2.80),
            (0.90, 1.70, 2.50),
        ]
    )
    slept: list[float] = []
    waited = bench.wait_for_quiet(
        2.0, 600, loadavg=lambda: next(seq), sleep=slept.append
    )
    assert waited == 20, "gate exited on the momentary 1-min dip"
    assert len(slept) == 2


def test_quiet_gate_rejects_r13_contamination_shape():
    """The exact BENCH_r13 contamination shape (VERDICT r13 item 1):
    load5 dips to 1.95 — a hair under the 2.0 bound — while load15 still
    reads 2.85. The r13 gate exited here and the artifact came out 1.66×
    the idle number; the 15-min bound must now hold the gate closed."""
    seq = iter(
        [
            (0.16, 1.95, 2.85),  # the r13 start sample: must NOT pass
            (0.40, 1.60, 2.70),
            (0.50, 1.40, 2.45),
        ]
    )
    slept: list[float] = []
    waited = bench.wait_for_quiet(
        2.0, 600, loadavg=lambda: next(seq), sleep=slept.append
    )
    assert waited == 20, "gate exited while load15 was still above bound"
    assert len(slept) == 2


def test_quiet_gate_degrades_on_midwait_loadavg_failure():
    """A transient getloadavg failure mid-wait must degrade to the
    no-gate path (returning the wait so far), not crash the bench
    (ADVICE r13)."""
    calls = {"n": 0}

    def flaky():
        calls["n"] += 1
        if calls["n"] >= 2:
            raise OSError("transient")
        return (9.0, 9.0, 9.0)

    waited = bench.wait_for_quiet(2.0, 600, loadavg=flaky, sleep=lambda s: None)
    assert waited == 10


def test_bench_reps_default_is_three():
    """VERDICT r13 item 1 'Done' bar: the driver's unattended artifact is
    a median-of-3 by default now that memo-clearing makes every rep pay
    the same cold cost a single-rep run does. Pin the default by reading
    the same env knob main() reads, with the env unset."""
    import inspect

    src = inspect.getsource(bench.main)
    assert 'os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")' in src


def test_quiet_gate_passes_genuinely_idle_host_immediately():
    waited = bench.wait_for_quiet(
        2.0,
        600,
        loadavg=lambda: (0.2, 0.3, 1.0),
        sleep=lambda s: (_ for _ in ()).throw(AssertionError("slept")),
    )
    assert waited == 0.0


def test_quiet_gate_gives_up_at_max_wait():
    """A persistently-busy host must not wait forever: the bounded wait
    exits at max_wait and the artifact's loadavg_start self-diagnoses."""
    slept: list[float] = []
    waited = bench.wait_for_quiet(
        2.0, 30, loadavg=lambda: (9.0, 9.0, 9.0), sleep=slept.append
    )
    assert waited == 30
    assert len(slept) == 3


def test_summary_artifact_contract():
    """r15 summary-line pins (VERDICT r14 item 6): the final JSON line
    must stay parseable from the driver's ~2 KB stdout tail AND be
    unmisreadable — its per-query dict is the slowest-N subset (marked
    by truncated_to_slowest), and geomean_sec carries the whole-suite
    per-query signal that survives the truncation."""
    import json
    import math

    timings = {f"q{i:03d}": round(0.05 + i * 0.01, 3) for i in range(300)}
    full, summary = bench.build_artifacts(
        timings,
        sf=0.1,
        loadavg_start=[0.1, 0.2, 0.3],
        loadavg_end=[1.0, 1.0, 1.0],
        cpus=32,
        quiet_wait=10.0,
        reps=3,
    )
    # Full line: every query, same totals, geomean present on BOTH
    # lines so either artifact alone carries it.
    assert full["queries"] == timings
    assert full["value"] == summary["value"] == round(sum(timings.values()), 3)
    want_geo = round(
        math.exp(sum(math.log(max(v, 1e-3)) for v in timings.values())
                 / len(timings)), 3,
    )
    assert full["geomean_sec"] == summary["geomean_sec"] == want_geo
    # Summary line: a strict slowest-N subset, explicitly marked.
    assert summary["n_queries"] == 300
    n = summary["truncated_to_slowest"]
    assert n == summary["n_reported"] == len(summary["queries"]) < 300
    cutoff = min(summary["queries"].values())
    dropped = [q for q in timings if q not in summary["queries"]]
    assert all(timings[q] <= cutoff for q in dropped), (
        "summary must keep the SLOWEST queries"
    )
    # The line survives the driver's tail capture with room to spare.
    line = json.dumps(summary, separators=(",", ":"))
    assert len(line) <= 1300, f"summary line {len(line)}B > 1300B"
    # Degenerate input: no queries -> no crash, null geomean.
    full0, summary0 = bench.build_artifacts(
        {}, sf=None, loadavg_start=None, loadavg_end=None,
        cpus=1, quiet_wait=0.0, reps=1,
    )
    assert full0["geomean_sec"] is None and summary0["n_queries"] == 0
