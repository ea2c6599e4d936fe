#!/usr/bin/env python3
"""Regenerate analytics-panel.json: the analytics workload's query panel,
drawn from a measured per-query cost table of the whole suite.

Usage, from the repository root:

    SPARK_GRAFT_SF_DIR=perfbench/data/sf0.1 GRAFT_BENCH_REPS=2 \\
        sbt -batch "runMain graft.Bench"
    python3 perfbench/fixtures/make_panel.py bench_detail.json "<host note>"

graft.Bench writes each query's best time at sf0.1 to bench_detail.json.
The script sorts every declared query into a cost class:

- dedup: the shingle/minhash/band family (ROADMAP item 5's consumers);
- job: every other query whose best time is under JOB_BOUND_S, where
  per-query Spark jobs dominate (ROADMAP item 1);
- operator: the rest, where the operators' own work dominates.

From each class it picks a fixed number of queries (PICKS) at evenly
spaced cost ranks, among the queries that have an oracle count in
sf0.1-counts.json. Each panel query's weight is its class's summed cost
over the whole suite divided by the summed cost of the class's panel
queries, so the panel's weighted time equals the suite's total on the
measured table, and each class enters in its measured share. The seed
of a run only orders the panel.
"""
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))

JOB_BOUND_S = 0.3
DEDUP = ["j2_dedup_near_jaccard", "j12_minhash_lsh", "j21_dedup_clusters",
         "j111_minhash_accuracy", "j136_lsh_band_tuning", "j138_dedup_keep_best",
         "j140_cluster_split", "j148_source_overlap", "j158_incremental_dedup",
         "j182_preference_pairs", "j193_jaccard_sweep"]
# panel queries per class, spread evenly over the class's cost ranks
PICKS = {"job": 8, "operator": 3, "dedup": 1}


def spread(names, cost, n):
    """n names at evenly spaced cost ranks (the midpoints of n equal slices)."""
    s = sorted(names, key=lambda q: (cost[q], q))
    return [s[int((i + 0.5) * len(s) / n)] for i in range(n)] if s else []


def main():
    detail, host = sys.argv[1], sys.argv[2]
    cost = json.load(open(detail))["queries"]
    counts = json.load(open(os.path.join(HERE, "sf0.1-counts.json")))

    def cls(q):
        return "dedup" if q in DEDUP else "job" if cost[q] < JOB_BOUND_S else "operator"

    members = {c: [q for q in cost if cls(q) == c] for c in ("job", "operator", "dedup")}
    checked = {c: [q for q in qs if q in counts] for c, qs in members.items()}
    panel = {c: spread(qs, cost, PICKS[c]) for c, qs in checked.items()}
    total = sum(cost.values())
    classes, rows = {}, []
    for c, qs in members.items():
        t = sum(cost[q] for q in qs)
        p = sum(cost[q] for q in panel[c])
        classes[c] = {"queries": len(qs), "cost_s": round(t, 3), "share": round(t / total, 4),
                      "panel_queries": len(panel[c]), "panel_cost_s": round(p, 3),
                      "weight": round(t / p, 4)}
        rows += [{"name": q, "class": c, "cost_s": cost[q],
                  "weight": classes[c]["weight"]} for q in sorted(panel[c])]
    out = os.path.join(HERE, "analytics-panel.json")
    with open(out, "w") as f:
        json.dump({"cost_table": host, "job_bound_below_s": JOB_BOUND_S,
                   "suite_cost_s": round(total, 3),
                   "classes": classes, "panel": rows,
                   "cost_s": dict(sorted(cost.items()))}, f, indent=1)
        f.write("\n")
    for c, v in classes.items():
        print(f"{c:9s} {v['queries']:3d} queries {v['cost_s']:8.3f} s ({100 * v['share']:.1f}%) "
              f"| panel {v['panel_queries']:2d} queries {v['panel_cost_s']:6.3f} s "
              f"weight {v['weight']}")
    print(f"{len(rows)} panel queries written to {out}")


if __name__ == "__main__":
    main()
