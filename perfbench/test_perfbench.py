"""Spark-free unit tests of the benchmark's own arithmetic and of BENCHMARK.json.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import math
import os
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import layers  # noqa: E402
import profile_tables  # noqa: E402
import run  # noqa: E402
import select_workloads  # noqa: E402
import stats  # noqa: E402
import verify  # noqa: E402


def _spec():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return json.load(f)


# -- tail percentile ---------------------------------------------------

def test_tail_leaves_ten_samples_beyond():
    xs = [float(i) for i in range(40)]
    value, pct, n = stats.tail(xs)
    assert n == 40
    assert value == 29.0
    assert sum(x > value for x in xs) == 10
    assert pct == 75.0


def test_tail_is_order_free_and_counts_every_op():
    xs = [float(i) for i in range(100)]
    assert stats.tail(list(reversed(xs))) == stats.tail(xs) == (89.0, 90.0, 100)


def test_tail_falls_back_to_median_when_samples_are_few():
    xs = [float(i) for i in range(15)]
    assert stats.tail(xs) == (7.0, 50.0, 15)


def test_tail_of_nothing_raises():
    with pytest.raises(ValueError):
        stats.tail([])


# -- geomean floor -----------------------------------------------------

def test_geomean_floors_each_value_at_one_millisecond():
    assert stats.geomean([0.0, 1.0]) == pytest.approx(math.sqrt(1e-3))
    assert stats.geomean([1e-9, 1e-9]) == pytest.approx(1e-3)


def test_geomean_leaves_values_above_the_floor_alone():
    assert stats.geomean([0.5, 2.0]) == pytest.approx(1.0)


# -- ok_frac base ------------------------------------------------------

def test_ok_frac_counts_against_every_attempt():
    assert stats.ok_frac(9, 10) == 0.9
    assert stats.ok_frac(10, 10) == 1.0


def test_ok_frac_needs_an_attempt():
    with pytest.raises(ValueError):
        stats.ok_frac(0, 0)


def test_end_to_end_reduction():
    samples = {"a": [1.0, 3.0, 2.0], "b": [0.0005, 0.0005, 0.0005]}
    e = stats.end_to_end(samples, [4.0, 2.0, 3.0], n_ok=5, n_attempted=6)
    assert e["wall_s"] == 3.0
    assert e["geomean_s"] == pytest.approx(math.sqrt(2.0 * 1e-3))
    assert e["query_p50_s"] == pytest.approx((0.0005 + 1.0) / 2)
    assert e["n_ops"] == 6
    assert e["ok_frac"] == pytest.approx(5 / 6)


# -- seeded order ------------------------------------------------------

def test_seed_gives_the_same_orders():
    ids = [f"q{i}" for i in range(20)]
    assert stats.pass_orders(ids, 7, 5) == stats.pass_orders(ids, 7, 5)
    assert stats.pass_orders(ids, 7, 5) != stats.pass_orders(ids, 8, 5)


def test_each_pass_is_a_permutation():
    ids = [f"q{i}" for i in range(20)]
    orders = stats.pass_orders(ids, 3, 4)
    assert all(sorted(o) == sorted(ids) for o in orders)
    assert len({tuple(o) for o in orders}) > 1


def test_pass_count_fills_the_seconds_with_a_floor():
    assert stats.pass_count(24, 3.0, 3) == 8
    assert stats.pass_count(24, 2.0, 3) == 12
    assert stats.pass_count(5, 3.0, 3) == 3


def test_every_workload_has_a_pass_time():
    assert set(run.PASS_S) == set(run.load_workloads())


def test_family_keys_on_the_query_id_prefix():
    assert stats.family("q21_suppliers_kept_waiting") == "q"
    assert stats.family("llm_lsh_neardup") == "llm"
    assert stats.family("udtf_python") == "udtf"


# -- BENCHMARK.json and the workload file -------------------------------

def test_every_name_is_well_formed():
    spec = _spec()
    names = [w["name"] for w in spec["workloads"]]
    names += [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    bad = [n for n in names if not stats.NAME_RE.match(n)]
    assert not bad
    assert len(names) == len(set(names))


def test_spec_matches_what_the_run_emits():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.PER_LAYER_UNITS
    assert [w["name"] for w in spec["workloads"]] == list(run.load_workloads())


def test_workloads_are_frozen_id_lists():
    for name, w in run.load_workloads().items():
        assert w["why"] and "\n" not in w["why"]
        assert len(w["ids"]) == len(set(w["ids"])) > 1, name


def test_per_family_splits_cover_only_the_workloads_families():
    fams = {stats.family(q) for w in run.load_workloads().values() for q in w["ids"]}
    split = {n.rsplit(".", 1)[1] for n in run.PER_LAYER_UNITS if n.startswith("build.s.")}
    assert split == fams


# -- workload selection ---------------------------------------------------

def test_quantile_sample_spreads_over_the_sorted_list():
    assert select_workloads.at_quantiles(list(range(10)), 2) == [2, 7]
    assert select_workloads.at_quantiles(list(range(10)), 10) == list(range(10))


def test_cheapest_first_fills_the_budget():
    probe = {q: {"build_s": c, "exec_s": 0.0} for q, c in
             {"a": 3.0, "b": 1.0, "c": 2.0, "d": 5.0}.items()}
    assert select_workloads.cheapest_within(probe, list(probe), 6.0) == ["b", "c", "a"]
    assert select_workloads.cheapest_within(probe, list(probe), 5.9) == ["b", "c"]
    # One query at least, even over the budget.
    assert select_workloads.cheapest_within(probe, list(probe), 0.5) == ["b"]


def test_allocation_is_proportional_with_one_each_at_least():
    assert select_workloads.allocate({"a": 80.0, "b": 15.0, "c": 5.0}, 10) == {
        "a": 8, "b": 1, "c": 1}
    assert select_workloads.allocate({"a": 50.0, "b": 30.0, "c": 20.0}, 7) == {
        "a": 4, "b": 2, "c": 1}


def test_workload_file_is_what_the_rule_gives_on_the_probe():
    with open(os.path.join(HERE, "probe.json")) as f:
        probe = json.load(f)["queries"]
    want = select_workloads.select(probe)
    got = json.load(open(os.path.join(HERE, "workloads.json")))
    assert got == json.loads(json.dumps(want))


# -- generated inputs ---------------------------------------------------

def test_same_seed_same_tables():
    a, b = datagen.tables(5, sf=0.001), datagen.tables(5, sf=0.001)
    assert all(a[t].equals(b[t]) for t in a)
    c = datagen.tables(6, sf=0.001)
    assert not a["lineitem"].equals(c["lineitem"])


def test_tables_keep_the_fixture_invariants():
    t = datagen.tables(1, sf=0.001)
    assert t["lineitem"].num_rows == 6000 and t["orders"].num_rows == 1500
    cust = set(t["orders"]["o_custkey"].to_pylist())
    assert cust == set(range(t["customer"].num_rows))
    ts = t["events"]["ts"].to_pylist()
    assert all(a < b for a, b in zip(ts, ts[1:]))


def _within(got: float, want: float, span: float, tol: float) -> bool:
    return abs(got - want) <= tol * (span or 1.0)


def test_generated_tables_match_the_fixture_profile(tmp_path):
    """Every column's min, max and mean (as a share of the fixture's range),
    distinct counts, row counts, text shape and vector norms."""
    with open(os.path.join(HERE, "fixture_profile.json")) as f:
        want = json.load(f)
    got = profile_tables.profile(datagen.write(run.DATA_SEED, str(tmp_path)))
    bad = []
    for t, w in want.items():
        g = got[t]
        if g["rows"] != w["rows"]:
            bad.append((t, "rows"))
        for c, wc in w["columns"].items():
            gc = g["columns"][c]
            if "distinct" in wc:
                if abs(gc["distinct"] - wc["distinct"]) > max(2, 0.02 * wc["distinct"]):
                    bad.append((t, c, "distinct"))
                continue
            span = wc["max"] - wc["min"]
            for k, tol in (("min", 0.05), ("max", 0.05), ("mean", 0.03)):
                if not _within(gc[k], wc[k], span, tol):
                    bad.append((t, c, k))
    assert not bad
    gt, wt = got["documents"]["text"], want["documents"]["text"]
    assert gt["vocabulary"] == wt["vocabulary"]
    assert abs(gt["dup_suffixed"] - wt["dup_suffixed"]) <= 0.1 * wt["dup_suffixed"]
    assert gt["exact_duplicates"] <= 3 * wt["exact_duplicates"]
    assert all(abs(a - b) <= 5 for a, b in zip(gt["tokens_q10_q50_q90_max"],
                                               wt["tokens_q10_q50_q90_max"]))
    assert all(abs(gt["lang_share"][k] - v) <= 0.04 for k, v in wt["lang_share"].items())
    gv, wv = got["embeddings"]["vectors"], want["embeddings"]["vectors"]
    assert abs(gv["mean_norm"] - wv["mean_norm"]) <= 0.01
    assert abs(gv["mean_max_abs"] - wv["mean_max_abs"]) <= 0.02


# -- output check --------------------------------------------------------

def test_digest_ignores_row_and_column_order():
    a = pd.DataFrame({"x": [1, 2], "y": ["a", "b"]})
    b = pd.DataFrame({"y": ["b", "a"], "x": [2, 1]})
    assert verify.digest(a) == verify.digest(b)
    c = pd.DataFrame({"x": [1, 3], "y": ["a", "b"]})
    assert verify.digest(a)[2] != verify.digest(c)[2]


def test_compare_names_the_first_difference():
    want = [["x"], 2, "h"]
    assert verify.compare([["x"], 2, "h"], want) is None
    assert "columns" in verify.compare([["y"], 2, "h"], want)
    assert "rows" in verify.compare([["x"], 3, "h"], want)
    assert "hash" in verify.compare([["x"], 2, "g"], want)
    assert verify.compare((1, 0), None) is None
    assert verify.compare((0, 0), None) == "result has no columns"


def test_oracle_digests_run_once_and_are_stored(tmp_path):
    pd.DataFrame({"k": [1, 2, 2]}).to_parquet(tmp_path / "t.parquet")
    oracles = {"a": "SELECT k, count(*) AS n FROM t GROUP BY k"}
    first = verify.oracle_digests(str(tmp_path), ["t"], oracles, ["a", "b"])
    assert set(first) == {"a"} and first["a"][1] == 2
    # A stored digest is read back, not recomputed: a broken oracle is not run.
    again = verify.oracle_digests(str(tmp_path), ["t"], {"a": "SELECT nonsense"}, ["a"])
    assert again == first


# -- event-log fold --------------------------------------------------------

def test_fold_charges_tasks_to_the_job_group(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [3],
         "Properties": {"spark.jobGroup.id": "q1:exec"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [4], "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3,
         "Task Info": {"Launch Time": 1000, "Finish Time": 1500, "Failed": False},
         "Task Metrics": {"Executor Run Time": 400, "Executor CPU Time": 3e8,
                          "Executor Deserialize Time": 50, "JVM GC Time": 10,
                          "Disk Bytes Spilled": 0,
                          "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                                   "Local Bytes Read": 1048576},
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 2097152},
                          "Input Metrics": {"Bytes Read": 0},
                          "Output Metrics": {"Bytes Written": 0}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 4,
         "Task Info": {"Launch Time": 0, "Finish Time": 9}, "Task Metrics": {}},
    ]
    events.append({"Event": layers.SQL_START, "executionId": 7, "rootExecutionId": 7,
                   "jobGroupId": "q1:exec", "time": 1_000_030})
    events.append({"Event": layers.SQL_START, "executionId": 8, "rootExecutionId": 7,
                   "jobGroupId": "q1:exec", "time": 1_000_040})
    (tmp_path / "app-1").write_text("\n".join(json.dumps(e) for e in events) + "\n")
    out, sql_starts = layers.fold_event_log(str(tmp_path))
    assert set(out) == {"q1:exec"}
    got = out["q1:exec"]
    assert got["task_s"] == pytest.approx(0.4)
    assert got["cpu_s"] == pytest.approx(0.3)
    assert got["sched_delay_s"] == pytest.approx(0.05)
    assert got["shuffle_read_mb"] == pytest.approx(1.0)
    assert got["shuffle_write_mb"] == pytest.approx(2.0)
    assert got["failed_tasks"] == 0
    assert sql_starts == {"q1:exec": [1_000_030]}  # nested executions are not starts


def test_plan_time_is_the_write_call_to_its_sql_start():
    starts = [900.0, 1_030.0, 2_010.0]
    assert layers.plan_seconds((1_000.0, 1_500.0), starts) == pytest.approx(0.030)
    assert layers.plan_seconds((2_000.0, 2_400.0), starts) == pytest.approx(0.010)
    assert layers.plan_seconds((3_000.0, 3_100.0), starts) == 0.0
