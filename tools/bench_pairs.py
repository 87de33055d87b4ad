#!/usr/bin/env python3
"""Run the benchmark in two checkouts as alternating pairs and judge the
difference the way a claimed gain is judged (choosing-metrics §8).

The command is read from BENCHMARK.json in the change's checkout; each run
appends `--workload W --seed S --seconds <run_seconds> --trace 0`. One
untimed warm-up run per side comes first. Pair i uses the i-th seed and
runs the parent first when i is even, the change first when i is odd. Every run's JSON line, its `[perfbench] op ms:` line
and its exit status are written to the --out file (JSON lines, one
session per file), so the report can be printed again with --from.

Per end-to-end metric the report prints each side's median and quartiles
(`statistics.quantiles(n=4)`), the pairs the change won (ties count for
neither side) and one verdict:

  GAIN        the change won at least 9/10 of the pairs and its median is
              better by more than the parent's interquartile range;
  WORSE       the change's median is worse than the parent's by more than
              the metric's BENCHMARK.json bound;
  UNRESOLVED  a side's spread, (Q3 - Q1) / median, exceeds the bound,
              unless every change run is better than every parent run;
  SAME        otherwise.

The per-stage `op ms` medians follow, with pairs won, without a verdict.

Usage:
  bench_pairs.py PARENT_DIR CHANGE_DIR --workload curate_batch --pairs 10
      [--seeds 21-24,31-36] [--out runs.jsonl]
  bench_pairs.py --from runs.jsonl     (reads ./BENCHMARK.json)
"""
import argparse
import json
import os
import re
import statistics
import subprocess
import sys

SIDES = ("parent", "change")


def parse_seeds(spec, pairs):
    """'21-24,31' -> [21, 22, 23, 24, 31], cycled or cut to `pairs`."""
    seeds = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return [seeds[i % len(seeds)] for i in range(pairs)]


def quartiles(xs):
    """(Q1, median, Q3); a single run is its own quartiles."""
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def judge(parent, change, bound, lower_better=True):
    """Verdict for one metric over paired runs (parent[i], change[i])."""
    claim_share = 0.9                           # a gain wins 9 of 10 pairs
    sign = 1.0 if lower_better else -1.0
    won = sum(1 for p, c in zip(parent, change) if sign * (p - c) > 0)
    lost = sum(1 for p, c in zip(parent, change) if sign * (c - p) > 0)
    (pq1, pm, pq3), (cq1, cm, cq3) = quartiles(parent), quartiles(change)
    iqr = pq3 - pq1
    gap = sign * (pm - cm)                      # > 0: the change is better
    spread = max((pq3 - pq1) / pm if pm else 0.0, (cq3 - cq1) / cm if cm else 0.0)
    separated = all(sign * (p - c) > 0 for p in parent for c in change)
    if won >= claim_share * len(parent) and gap > iqr:
        verdict = "GAIN"
    elif pm and -gap / pm > bound:
        verdict = "WORSE"
    elif spread > bound and not separated:
        verdict = "UNRESOLVED"
    else:
        verdict = "SAME"
    return {"won": won, "lost": lost, "pairs": len(parent), "parent": (pq1, pm, pq3),
            "change": (cq1, cm, cq3), "iqr": iqr, "gap": gap, "spread": spread,
            "verdict": verdict}


def op_ms(stderr):
    """{op: ms} from the last `[perfbench] op ms:` line of a run."""
    found = re.findall(r"\[perfbench\] op ms: (.*)", stderr)
    return {k: float(v) for k, v in (kv.split("=") for kv in found[-1].split())} if found else {}


def run_one(checkout, command, workload, seed, seconds):
    cmd = command + ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
                     "--trace", "0"]
    p = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [l for l in p.stdout.splitlines() if l.startswith("{")]
    return {"rc": p.returncode, "result": json.loads(lines[-1]) if lines else None,
            "op_ms": op_ms(p.stderr)}


def report(records, bench, out=sys.stdout):
    """Print the per-metric and per-op tables; returns {metric: verdict}."""
    runs = {(r["pair"], r["side"]): r for r in records}
    pairs = sorted({i for i, s in runs if all((i, t) in runs for t in SIDES)})
    ok = {s: [runs[(i, s)] for i in pairs] for s in SIDES}
    for s in SIDES:
        attempted = sum((r["result"] or {}).get("attempted", 0) for r in ok[s])
        failed = sum((r["result"] or {}).get("failed", 0) for r in ok[s])
        missing = sum(1 for r in ok[s] if r["result"] is None)
        print(f"{s}: {len(pairs)} runs, failed ops {failed} of {attempted}, "
              f"runs without a result {missing}", file=out)
    verdicts = {}
    print(f"{'metric':<16} {'parent median [Q1, Q3]':>28} {'change median [Q1, Q3]':>28} "
          f"{'won':>7} {'spread':>7}  verdict", file=out)
    for m in bench["end_to_end"]:
        name = m["name"]
        vals = {s: [r["result"]["metrics"][name]["value"] for r in ok[s]
                    if r["result"] and name in r["result"]["metrics"]] for s in SIDES}
        if not vals["parent"] or len(vals["parent"]) != len(vals["change"]):
            continue
        j = judge(vals["parent"], vals["change"], m["bound"], m["better"] == "lower")
        verdicts[name] = j["verdict"]
        fmt = lambda q: f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]"
        print(f"{name:<16} {fmt(j['parent']):>28} {fmt(j['change']):>28} "
              f"{j['won']:>3}/{j['pairs']:<3} {j['spread']:>7.2f}  {j['verdict']} "
              f"(gap {j['gap']:.4g} vs parent IQR {j['iqr']:.4g}, bound {m['bound']})", file=out)
    ops = sorted({k for s in SIDES for r in ok[s] for k in r["op_ms"]})
    if ops:
        print("op ms (median [Q1, Q3], lower is better):", file=out)
    for op in ops:
        vals = {s: [r["op_ms"].get(op) for r in ok[s]] for s in SIDES}
        if any(v is None for s in SIDES for v in vals[s]):
            continue
        j = judge(vals["parent"], vals["change"], bound=float("inf"))
        print(f"  {op:<14} parent {j['parent'][1]:.0f} [{j['parent'][0]:.0f}, "
              f"{j['parent'][2]:.0f}]  change {j['change'][1]:.0f} [{j['change'][0]:.0f}, "
              f"{j['change'][2]:.0f}]  won {j['won']}/{j['pairs']}", file=out)
    return verdicts


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("parent", nargs="?")
    ap.add_argument("change", nargs="?")
    ap.add_argument("--workload")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seeds", default=None, help="e.g. 21-24,31-36 (default 1..pairs)")
    ap.add_argument("--out", default=None, help="JSON-lines record of every run")
    ap.add_argument("--from", dest="records", default=None, help="report a recorded file")
    a = ap.parse_args()
    with open(os.path.join(a.change or ".", "BENCHMARK.json")) as f:
        bench = json.load(f)
    if a.records:
        with open(a.records) as f:
            records = [json.loads(l) for l in f if l.strip()]
        report(records, bench)
        return
    if not (a.parent and a.change and a.workload):
        ap.error("PARENT_DIR, CHANGE_DIR and --workload are required unless --from is given")
    dirs = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    seeds = parse_seeds(a.seeds or f"1-{a.pairs}", a.pairs)
    out = a.out or f"bench_pairs-{a.workload}.jsonl"
    open(out, "w").close()                      # the file holds this session's runs
    for s in SIDES:
        r = run_one(dirs[s], bench["command"], a.workload, seeds[0], bench["run_seconds"])
        print(f"[bench_pairs] warm-up {s}: rc={r['rc']}", file=sys.stderr, flush=True)
    records = []
    for i, seed in enumerate(seeds):
        order = SIDES if i % 2 == 0 else SIDES[::-1]
        for s in order:
            r = run_one(dirs[s], bench["command"], a.workload, seed, bench["run_seconds"])
            rec = {"pair": i, "side": s, "seed": seed, "first": order[0] == s,
                   "workload": a.workload, **r}
            records.append(rec)
            with open(out, "a") as f:
                f.write(json.dumps(rec) + "\n")
            e2e = {k: round(v["value"], 4) for k, v in
                   ((r["result"] or {}).get("metrics") or {}).items()}
            print(f"[bench_pairs] pair {i} seed {seed} {s}: rc={r['rc']} {e2e}",
                  file=sys.stderr, flush=True)
    verdicts = report(records, bench)
    sys.exit(1 if "WORSE" in verdicts.values() else 0)


if __name__ == "__main__":
    main()
