#!/usr/bin/env python3
"""Freeze workload membership from a traced whole-catalog run.

    python3 perfbench/run.py --workload all --seed 1 --seconds 30 --trace 1
    python3 perfbench/freeze.py .bench_build/ledger/all-seed1.json

Splits every catalog entry by the rule below and writes the membership
(each entry with its one-line reason) and each workload's gate (the
entries a timed run measures) into perfbench/workloads.json, keeping
every other key of that file as it is. Once workloads.json holds members
for all three workloads their membership is frozen: a later call only
recomputes the gates from the ledger's walls.

  iterative_build  construct is at least half of the entry's wall
  retrieval_scan   otherwise, wall of 1 s or more
  short_queries    otherwise

A gate starts with the workload's named targets (PRIORITY) and is filled
with members spread evenly over the wall-time range until it reaches the
target seconds. Entries whose oracle is slow to compute (SLOW_ORACLE) are
left out of the fill so the output check stays cheap, and so are the
untimed primer entries of run.py.
"""
import json
import os
import sys

from run import PRIMER

HERE = os.path.dirname(os.path.abspath(__file__))
SPEC = os.path.join(HERE, "workloads.json")

# A gate's entries run ~1.4x slower in a fresh JVM than late in a
# whole-catalog pass, so 22 s of reference wall is ~31 s in a timed run.
GATE_TARGET_S = 22.0
PRIORITY = {
    # graph fixpoints, the blocked local KMeans fit and a BM25 index delete
    # (the store layer); cc_components is in run.py's PRIMER
    "iterative_build": ["label_prop", "k_core", "cosine_neardup_blocked",
                        "bm25_delete"],
    # the text family and a repartition-pinned shuffle-heavy entry
    "retrieval_scan": ["bm25_topk", "rrf_fusion", "tfidf_top_terms",
                       "token_pmi", "triangle_count"],
    "short_queries": [],
}
SLOW_ORACLE = {"pit_join", "ewma_smooth", "ivfpq_topk"}


def walls(doc: dict) -> dict:
    """entry -> (wall s, construct s) from a ledger or a harness result."""
    es = doc["entries"]
    if isinstance(es, dict):
        return {n: (e["wall_s"], e["construct.s"]) for n, e in es.items()}
    return {e["name"]: ((e["t2_ms"] - e["t0_ms"]) / 1e3,
                        (e["t1_ms"] - e["t0_ms"]) / 1e3) for e in es}


def split(w: dict) -> dict:
    out = {"iterative_build": {}, "retrieval_scan": {}, "short_queries": {}}
    for n, (wall, cons) in sorted(w.items()):
        why = f"construct {cons:.2f} s of {wall:.2f} s wall"
        if cons >= 0.5 * wall:
            out["iterative_build"][n] = why
        elif wall >= 1.0:
            out["retrieval_scan"][n] = why
        else:
            out["short_queries"][n] = why
    return out


def gate(members: list, w: dict, priority: list, target: float) -> list:
    chosen = [n for n in priority if n in members]
    total = sum(w[n][0] for n in chosen)
    rest = sorted((n for n in members if n not in chosen
                   and n not in SLOW_ORACLE and n not in PRIMER),
                  key=lambda n: -w[n][0])
    picks = []
    for k in range(1, len(rest) + 1):
        picks = [rest[int((i + 0.5) * len(rest) / k)] for i in range(k)]
        if total + sum(w[n][0] for n in picks) >= target:
            break
    return sorted(chosen + picks) if total < target else sorted(chosen)


def main(argv=None) -> int:
    argv = argv or sys.argv[1:]
    with open(argv[0]) as f:
        w = walls(json.load(f))
    spec = {}
    if os.path.exists(SPEC):
        with open(SPEC) as f:
            spec = json.load(f)
    spec.setdefault("workloads", {})
    frozen = all("members" in spec["workloads"].get(n, {}) for n in PRIORITY)
    for name, members in split(w).items():
        ws = spec["workloads"].setdefault(name, {})
        if frozen:  # membership stays; only the gate is recomputed
            members = ws["members"]
        g = gate(list(members), w, PRIORITY[name], GATE_TARGET_S)
        ws["members"] = members
        ws["gate"] = g
        ws["gate_reference_wall_s"] = round(sum(w[n][0] for n in g), 2)
        ws["members_reference_wall_s"] = round(
            sum(w[n][0] for n in members), 2)
    spec.setdefault("settings", {})["catalog_entries"] = len(w)
    with open(SPEC, "w") as f:
        json.dump(spec, f, indent=1)
        f.write("\n")
    for name, ws in spec["workloads"].items():
        print(f"{name}: {len(ws['members'])} members "
              f"({ws['members_reference_wall_s']} s), gate {len(ws['gate'])} "
              f"({ws['gate_reference_wall_s']} s)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
