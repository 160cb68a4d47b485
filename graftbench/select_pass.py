#!/usr/bin/env python3
"""Derive each workload's pass from measured per-query times.

    python3 graftbench/select_pass.py            # print the selection
    python3 graftbench/select_pass.py --write    # store it in workloads.json
    python3 graftbench/select_pass.py --check    # exit 1 if workloads.json differs

A workload's `members` are too many to run in every benchmark run, so
each run measures a fixed stratified sample of them, its `pass`. The
sample is drawn from the per-phase timings of every bench query in
plans/r14/phase_probe_after_memo.csv (registry call = build, Catalyst =
plan, noop write = exec; one query at a time, warm session) by this rule:

  * a member's stratum is (family, dominant phase): the family is the
    name's first `_`-separated word, with TPC-H `qNN_` queries as
    `tpch`; the phase is `build` when the registry call took at least as
    long as the write's execution, else `exec`;
  * the workload's `sample_size` picks are shared out among strata in
    proportion to each stratum's share of the workload's measured time
    (largest remainder, ties broken by stratum name);
  * a stratum with k picks sorts its members by measured time (then name)
    and takes the member in the middle of each of k equal-count bins.

The selection, with the share of the workload's measured time its strata
and picks account for, is stored next to the pass as `coverage`.
"""
import csv
import json
import math
import os
import re
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
TIMINGS = os.path.join("plans", "r14", "phase_probe_after_memo.csv")
SPEC = os.path.join(BENCH, "workloads.json")


def stratum(name, row):
    family = "tpch" if re.match(r"q\d\d_", name) else name.split("_")[0]
    phase = "build" if row["build_s"] >= row["exec_s"] else "exec"
    return f"{family}/{phase}"


def select(members, sample_size, rows):
    strata = {}
    for n in members:
        strata.setdefault(stratum(n, rows[n]), []).append(n)
    time = {s: sum(rows[n]["total_s"] for n in ns) for s, ns in strata.items()}
    total = sum(time.values())
    quota = {s: sample_size * t / total for s, t in time.items()}
    picks = {s: math.floor(q) for s, q in quota.items()}
    by_remainder = sorted(strata, key=lambda s: (-(quota[s] - picks[s]), s))
    for s in by_remainder[:sample_size - sum(picks.values())]:
        picks[s] += 1
    chosen = []
    for s in sorted(strata, key=lambda s: (-time[s], s)):
        ns = sorted(strata[s], key=lambda n: (rows[n]["total_s"], n))
        k = picks[s]
        chosen += [ns[int((i + 0.5) * len(ns) / k)] for i in range(k)]
    covered = [s for s in strata if picks[s]]
    coverage = {
        "timings": TIMINGS.replace(os.sep, "/"),
        "strata": {s: {"members": len(strata[s]), "share": round(time[s] / total, 4),
                       "picks": picks[s]}
                   for s in sorted(strata, key=lambda s: (-time[s], s))},
        "sampled_strata_share": round(sum(time[s] for s in covered) / total, 4),
        "pass_share": round(sum(rows[n]["total_s"] for n in chosen) / total, 4),
    }
    return chosen, coverage


def main():
    mode = sys.argv[1] if len(sys.argv) > 1 else ""
    with open(os.path.join(ROOT, TIMINGS)) as fh:
        rows = {r["name"]: {k: float(v) for k, v in r.items() if k != "name"}
                for r in csv.DictReader(fh)}
    with open(SPEC) as fh:
        spec = json.load(fh)
    changed = False
    for w, d in spec["workloads"].items():
        missing = [n for n in d["members"] if n not in rows]
        if missing:
            sys.exit(f"{w}: no timings for {missing} in {TIMINGS}")
        chosen, coverage = select(d["members"], d["sample_size"], rows)
        print(f"{w}: {len(chosen)} of {len(d['members'])} members; strata with a pick hold "
              f"{coverage['sampled_strata_share']:.0%} of the measured time, the picks "
              f"{coverage['pass_share']:.0%}")
        for s, c in coverage["strata"].items():
            print(f"  {s:16} {c['members']:3} members {c['share']:6.1%}  picks {c['picks']}")
        print("  pass: " + ", ".join(chosen))
        changed |= d.get("pass") != chosen or d.get("coverage") != coverage
        d["pass"], d["coverage"] = chosen, coverage
    if mode == "--check" and changed:
        sys.exit("workloads.json does not hold the pass this rule selects; "
                 "run select_pass.py --write")
    if mode == "--write":
        with open(SPEC, "w") as fh:
            json.dump(spec, fh, indent=1)
            fh.write("\n")


if __name__ == "__main__":
    main()
