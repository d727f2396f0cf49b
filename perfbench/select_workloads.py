#!/usr/bin/env python3
"""Derive the frozen query lists of workloads.json from a probe.

    python3 perfbench/select_workloads.py [--probe perfbench/probe.json]

The rule, applied to the per-query timings and build-phase job counts
that probe.py measured on the benchmark's tables:

- ``olap_mix`` draws from the ``q``, ``agg``, ``join`` and ``win``
  families. Each family gets a share of the k slots proportional to its
  share of the four families' probe time (largest remainder, at least
  one), and within a family the queries are taken at evenly spaced
  quantiles of its probe times. The sample keeps each family's weight
  and spread of query costs.
- ``llm_dedup`` draws from the ``llm``, ``emb`` and ``graph`` queries
  that launch at least one Spark job while building their DataFrame.
  It takes them cheapest first while their probe times sum to at most
  LLM_BUDGET_S. The other candidates cost 1.2 to 13 s each by probe,
  and up to three times that in a run; with them, a pass would leave
  room for too few timed passes within a run.
- ``olap_mix`` takes the largest k whose probe times sum to at most
  OLAP_BUDGET_S. A run costs about 12 s of fixed work (JVM, session,
  canary, teardown), a cold verify pass of 10 to 27 s, two warm
  passes and about 24 s of timed passes, and a warm pass runs 0.6 to
  1.8 times its probe time. The two budgets keep a run of either
  workload near a minute, so that 22 runs of each workload and 4 more
  fit in 3420 s with a margin for slow hosts.

The workload file records, per workload, the ids, the candidates and
the sample's share of its candidates' time (and build jobs).
"""

import argparse
import json
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import stats  # noqa: E402

OLAP_BUDGET_S = 4.0
LLM_BUDGET_S = 2.0
OLAP = ("q", "agg", "join", "win")
LLM = ("llm", "emb", "graph")
WHY = {
    "olap_mix": "TPC-H, aggregate, join and window reads, sampled by family time: "
                "plan time and the per-job execution floor, almost no build jobs",
    "llm_dedup": "The cheapest LLM-curation queries that run Spark jobs while building "
                  "their DataFrame: the build layer",
}


def cost(q: dict) -> float:
    return q["build_s"] + q["exec_s"]


def at_quantiles(items: list, k: int) -> list:
    """``k`` items of a sorted list, at evenly spaced quantiles."""
    n = len(items)
    return [items[int((i + 0.5) * n / k)] for i in range(k)]


def allocate(weights: dict[str, float], k: int) -> dict[str, int]:
    """Split ``k`` slots in proportion to ``weights`` by largest
    remainder, each key getting at least one."""
    total = sum(weights.values())
    raw = {f: max(1.0, k * w / total) for f, w in weights.items()}
    out = {f: int(r) for f, r in raw.items()}
    for f in sorted(raw, key=lambda f: (out[f] - raw[f], f))[:max(0, k - sum(out.values()))]:
        out[f] += 1
    return out


def olap_mix(probe: dict, k: int) -> list[str]:
    fams = {f: sorted((q for q in probe if probe[q]["family"] == f),
                      key=lambda q: (cost(probe[q]), q)) for f in OLAP}
    slots = allocate({f: sum(cost(probe[q]) for q in ids) for f, ids in fams.items()}, k)
    return [q for f in OLAP for q in at_quantiles(fams[f], min(slots[f], len(fams[f])))]


def llm_candidates(probe: dict) -> list[str]:
    return sorted((q for q, p in probe.items() if p["family"] in LLM and p["build_jobs"] > 0),
                  key=lambda q: (probe[q]["build_jobs"], cost(probe[q]), q))


def cheapest_within(probe: dict, items: list[str], budget: float) -> list[str]:
    """The cheapest of ``items``, cheapest first, while their probe
    times sum to at most ``budget``; at least one."""
    out, total = [], 0.0
    for q in sorted(items, key=lambda q: (cost(probe[q]), q)):
        if out and total + cost(probe[q]) > budget:
            break
        out.append(q)
        total += cost(probe[q])
    return out


def llm_dedup(probe: dict) -> list[str]:
    return cheapest_within(probe, llm_candidates(probe), LLM_BUDGET_S)


def largest_fit(probe: dict, n: int) -> list[str]:
    best = olap_mix(probe, 1)
    for k in range(1, n + 1):
        ids = olap_mix(probe, k)
        if sum(cost(probe[q]) for q in ids) <= OLAP_BUDGET_S:
            best = ids
    return best


def share(probe: dict, ids: list[str], cands: list[str], key) -> float:
    return round(sum(key(probe[q]) for q in ids) / sum(key(probe[q]) for q in cands), 4)


def select(probe: dict) -> dict:
    olap_cands = [q for q, p in probe.items() if p["family"] in OLAP]
    llm_cands = llm_candidates(probe)
    olap = largest_fit(probe, len(olap_cands))
    llm = llm_dedup(probe)
    by_fam = {f: share(probe, [q for q in olap if probe[q]["family"] == f],
                       [q for q in olap_cands if probe[q]["family"] == f], cost)
              for f in OLAP}
    return {
        "rule": "perfbench/select_workloads.py on perfbench/probe.json",
        "olap_budget_s": OLAP_BUDGET_S,
        "llm_budget_s": LLM_BUDGET_S,
        "workloads": {
            "olap_mix": {
                "why": WHY["olap_mix"],
                "ids": olap,
                "candidates": len(olap_cands),
                "probe_pass_s": round(sum(cost(probe[q]) for q in olap), 3),
                "time_share": share(probe, olap, olap_cands, cost),
                "time_share_by_family": by_fam,
            },
            "llm_dedup": {
                "why": WHY["llm_dedup"],
                "ids": llm,
                "candidates": len(llm_cands),
                "probe_pass_s": round(sum(cost(probe[q]) for q in llm), 3),
                "time_share": share(probe, llm, llm_cands, cost),
                "build_job_share": share(probe, llm, llm_cands, lambda p: p["build_jobs"]),
                "build_jobs": {q: probe[q]["build_jobs"] for q in llm},
            },
        },
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--probe", default=str(HERE / "probe.json"))
    ap.add_argument("--out", default=str(HERE / "workloads.json"))
    args = ap.parse_args(argv)
    with open(args.probe) as f:
        probe = json.load(f)["queries"]
    assert all(p["family"] == stats.family(q) for q, p in probe.items())
    with open(args.out, "w") as f:
        json.dump(select(probe), f, indent=1)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
