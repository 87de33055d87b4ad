#!/usr/bin/env python3
"""Compare two BENCH json files (graft.Bench output / driver BENCH_r{N}),
flagging per-query ratio outliers against the run-pair's median ratio.

This box has 1.5-3x run-to-run variance, so a raw ratio is meaningless:
a query only counts as a regression candidate if its ratio exceeds the
median ratio of ALL shared queries (the machine-noise baseline) by the
given factor.

Two BENCH_PROFILE.json files (graft.Bench's per-query layer profile) are
recognized by their content: the diff then lists, per query, the change in
construction seconds and in construction and action jobs, plus the totals.

Usage: bench_diff.py OLD.json NEW.json [--factor 1.5]
"""
import json, sys


PROFILE_KEYS = ("construct_s", "construct_jobs", "action_jobs")


def is_profile(queries):
    return bool(queries) and all(
        isinstance(v, dict) and all(k in v for k in PROFILE_KEYS)
        for v in queries.values())


def profile_diff(old, new):
    """Per-query and total deltas of construction seconds and jobs."""
    shared = sorted(set(old) & set(new))
    print(f"{len(shared)} shared queries (profile)")
    print(f"{'query':<32} {'construct_s':>20} {'construct_jobs':>16} "
          f"{'action_jobs':>14}")
    tot = {k: [0, 0] for k in PROFILE_KEYS}
    for q in shared:
        o, n = old[q], new[q]
        for k in PROFILE_KEYS:
            tot[k][0] += o[k]
            tot[k][1] += n[k]
        if all(o[k] == n[k] for k in PROFILE_KEYS):
            continue
        print(f"{q:<32} {o['construct_s']:>8.2f} -> {n['construct_s']:>7.2f} "
              f"{o['construct_jobs']:>6} -> {n['construct_jobs']:>5} "
              f"{o['action_jobs']:>5} -> {n['action_jobs']:>4}")
    c, cj, aj = (tot[k] for k in PROFILE_KEYS)
    print(f"{'TOTAL':<32} {c[0]:>8.2f} -> {c[1]:>7.2f} "
          f"{cj[0]:>6} -> {cj[1]:>5} {aj[0]:>5} -> {aj[1]:>4}")


def main():
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    factor = 1.5
    for a in sys.argv[1:]:
        if a.startswith("--factor="):
            factor = float(a[len("--factor="):])
    def load(path):
        d = json.load(open(path))
        if "queries" in d:
            return d["queries"]
        if isinstance(d.get("parsed"), dict) and "queries" in d["parsed"]:
            return d["parsed"]["queries"]
        raise SystemExit(f"{path}: no 'queries' (driver file with parsed=null?)")

    old = load(args[0])
    new = load(args[1])
    if is_profile(old) and is_profile(new):
        profile_diff(old, new)
        return
    shared = sorted(set(old) & set(new))
    if not shared:
        print("no shared queries"); return
    ratios = {q: new[q] / old[q] for q in shared if old[q] > 0}
    med = sorted(ratios.values())[len(ratios) // 2]
    print(f"{len(shared)} shared queries; median ratio {med:.2f} "
          f"(machine-noise baseline)")
    only_new = sorted(set(new) - set(old))
    if only_new:
        tot = sum(new[q] for q in only_new)
        print(f"{len(only_new)} new queries (+{tot:.1f}s): "
              + ", ".join(only_new))
    flagged = [(q, r) for q, r in ratios.items() if r > med * factor]
    for q, r in sorted(flagged, key=lambda x: -x[1]):
        print(f"  REGRESSION? {q}: {old[q]:.2f}s -> {new[q]:.2f}s "
              f"({r:.2f}x vs noise {med:.2f}x)")
    if not flagged:
        print("no per-query regressions beyond machine noise")


if __name__ == "__main__":
    main()
