#!/usr/bin/env python3
"""Compare two graft.PlanPeek outputs query by query.

PlanPeek prints one `===== <name> =====` header per query followed by its
explained plan, which starts at `== Physical Plan ==`; whatever a query
prints before that line (a streaming query's deliberate crash, say) is not
part of its plan. Before comparing, each plan is normalized so that only a
change of plan shape or expressions counts:

  - expression ids (`doc_id#123`, `key#48L`) lose their number;
  - `plan_id=` values are dropped;
  - whole-stage codegen stage ids (`[codegen id : 3]`, `*(3) `) are dropped;
  - RDD ids (`MapPartitionsRDD[123]`) are dropped;
  - the 12-hex key graft appends to its staged tables and work dirs
    (`graft_q157_dedup_2b9e2eafa47c`; `KeyedWorkDir.runScoped` keys differ
    from run to run) and the checkout's `spark-warehouse` path are dropped.

Log lines that sbt or log4j interleave with the plans (`[info] ...`,
`26/10/19 23:46:53 INFO ...`) are ignored. Prints `same` or `changed` per
query present in both files (`only-old`/`only-new` otherwise), then a
unified diff of each changed plan with `--diff`. Exits 1 when any shared
query changed or a query is missing from one side.

Usage: plan_diff.py OLD.txt NEW.txt [--diff]
"""
import difflib
import re
import sys

HEADER = re.compile(r"^===== (.+) =====$")
LOG = re.compile(r"^(\[(info|warn|error|success)\]|\d\d/\d\d/\d\d \d\d:\d\d:\d\d [A-Z]+ )")
NORMALIZE = [
    (re.compile(r"#\d+L?"), "#"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"\[codegen id : \d+\]"), "[codegen id]"),
    (re.compile(r"\*\(\d+\) "), "*"),
    (re.compile(r"RDD\[\d+\]"), "RDD[]"),
    (re.compile(r"(?<=[_-])[0-9a-f]{12}\b"), "<key>"),
    (re.compile(r"file:[^\s\]]*/spark-warehouse/"), "file:<warehouse>/"),
]
PLAN_START = "== Physical Plan =="


def normalize(line):
    for pat, rep in NORMALIZE:
        line = pat.sub(rep, line)
    return line.rstrip()


def plans(text):
    """{query name: [normalized plan lines]} of one PlanPeek output."""
    out, cur, started = {}, None, False
    for line in text.splitlines():
        m = HEADER.match(line)
        if m:
            cur, started = out.setdefault(m.group(1), []), False
        elif cur is not None and not LOG.match(line):
            started = started or line.startswith(PLAN_START)
            norm = normalize(line)
            if started and norm:
                cur.append(norm)
    return out


def compare(old, new, show_diff=False):
    """Print one status line per query; return True when all are same."""
    ok = True
    for name in sorted(set(old) | set(new)):
        if name not in new:
            status = "only-old"
        elif name not in old:
            status = "only-new"
        else:
            status = "same" if old[name] == new[name] else "changed"
        ok = ok and status == "same"
        print(f"{status:<9} {name}")
        if show_diff and status == "changed":
            for line in difflib.unified_diff(old[name], new[name], "old", "new",
                                             lineterm="", n=1):
                print("    " + line)
    return ok


def main(argv):
    args = [a for a in argv if not a.startswith("--")]
    if len(args) != 2:
        raise SystemExit(__doc__)
    with open(args[0]) as f:
        old = plans(f.read())
    with open(args[1]) as f:
        new = plans(f.read())
    return 0 if compare(old, new, "--diff" in argv) else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
