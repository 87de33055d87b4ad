"""Pure helpers of the benchmark: statistics, span trees and the per-layer
metrics computed from a traced run's spans. No Spark, no I/O beyond reading
BENCHMARK.json, so the unit tests run in milliseconds."""
import json
import math
import os
import statistics
from collections import defaultdict

# The SparkEntry groups query_mix's queries come from.
QUERY_GROUPS = ["relational", "text", "dedup", "similarity", "enrich",
                "nlp", "search", "curation"]

# Kinds of span that bound the measured work: a batch pass, a stream episode.
WORK_KINDS = ("pass", "episode")

# Per-layer metrics run.py adds to layer_metrics' and stream_metrics' own.
RUN_LAYER_METRICS = (
    "bench.failed_frac", "bench.trace_overhead.pass_s",
    "bench.trace_overhead.op_geomean_ms", "bench.trace_overhead.op_p50_ms")


def load_spec(root):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def metric_names(spec):
    return ([m["name"] for m in spec["end_to_end"]],
            [m["name"] for m in spec["per_layer"]])


def tail_percentile(values, q, min_beyond=10):
    """Nearest-rank q-th percentile, refused (ValueError) unless at least
    `min_beyond` samples lie beyond it."""
    xs = sorted(values)
    n = len(xs)
    if n == 0:
        raise ValueError("no samples")
    k = max(1, math.ceil(q / 100.0 * n))
    if n - k < min_beyond:
        raise ValueError(f"p{q:g} of {n} samples has {n - k} beyond it; "
                         f"need {min_beyond}")
    return xs[k - 1]


def geomean(values):
    return math.exp(sum(math.log(v) for v in values) / len(values))


def union_length(intervals, lo=-math.inf, hi=math.inf):
    """Total length covered by intervals, each clipped to [lo, hi]."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class SpanTree:
    """Spans as dicts with id, parent, kind, name, start, end, attrs, tags."""

    def __init__(self, spans):
        self.spans = list(spans)
        self.by_id = {s["id"]: s for s in self.spans}
        self.children = defaultdict(list)
        for s in self.spans:
            self.children[s["parent"]].append(s)

    @staticmethod
    def duration(s):
        return s["end"] - s["start"]

    def self_time(self, s):
        """Duration minus the part of it that child spans cover."""
        kids = [(c["start"], c["end"]) for c in self.children[s["id"]]]
        return self.duration(s) - union_length(kids, s["start"], s["end"])

    def ancestors(self, s):
        seen = set()
        p = self.by_id.get(s["parent"])
        while p is not None and p["id"] not in seen:
            seen.add(p["id"])
            yield p
            p = self.by_id.get(p["parent"])

    def under(self, s, pred):
        return any(pred(a) for a in self.ancestors(s))

    def of_kind(self, kind, within=WORK_KINDS):
        return [s for s in self.spans if s["kind"] == kind
                and self.under(s, lambda a: a["kind"] in within)]


def layer_metrics(spans, cores, info, work_kinds=WORK_KINDS):
    """Per-layer metrics of one traced phase, over the spans under the work
    spans of `work_kinds`. `info` is the phase's own measurements (keep
    ratio, pair yield, generator lateness)."""
    t = SpanTree(spans)
    work = [s for s in t.spans if s["kind"] in work_kinds]
    wall_ms = sum(t.duration(s) for s in work) or float("nan")
    calls = t.of_kind("call", work_kinds)
    jobs = t.of_kind("job", work_kinds)
    exec_stages = t.of_kind("stage", work_kinds)
    plans = t.of_kind("plan", work_kinds)
    triggers = t.of_kind("trigger", work_kinds)
    steps = t.of_kind("step", work_kinds)

    def attr_sum(ss, key):
        return sum(s["attrs"].get(key, 0.0) for s in ss)

    def phase_calls(phase):
        return [s for s in calls if s["tags"].get("phase") == phase]

    def stage_s(name):
        return sum(t.duration(s) for s in steps if s["name"] == name) / 1e3

    job_cover = sum(union_length([(j["start"], j["end"]) for j in jobs],
                                 w["start"], w["end"]) for w in work)
    construct = phase_calls("construct")
    construct_ids = {s["id"] for s in construct}
    mb = 1024.0 * 1024.0
    n_trig = len(triggers) or 1
    m = {
        "queries.construct_s": sum(map(t.duration, construct)) / 1e3,
        "queries.construct_jobs": float(sum(
            1 for j in jobs if t.under(j, lambda a: a["id"] in construct_ids))),
        "queries.action_s": sum(map(t.duration, phase_calls("action"))) / 1e3,
    }
    for g in QUERY_GROUPS:
        m[f"queries.{g}_s"] = sum(t.duration(s) for s in t.of_kind("query", work_kinds)
                                  if s["tags"].get("group") == g) / 1e3
    m.update({
        "plans.analysis_ms": attr_sum(plans, "analysis_ms"),
        "plans.optimization_ms": attr_sum(plans, "optimization_ms"),
        "plans.planning_ms": attr_sum(plans, "planning_ms"),
        "calls.self_s": sum(t.self_time(s) for s in calls) / 1e3,
        "exec.jobs": float(len(jobs)),
        "exec.stages": float(len(exec_stages)),
        "exec.tasks": attr_sum(exec_stages, "tasks"),
        "exec.nojob_s": (wall_ms - job_cover) / 1e3,
        "exec.busy_frac": attr_sum(exec_stages, "run_ms") / (wall_ms * cores),
        "exec.task_cpu_s": attr_sum(exec_stages, "cpu_ms") / 1e3,
        "exec.gc_s": attr_sum(exec_stages, "gc_ms") / 1e3,
        "exec.shuffle_write_mb": attr_sum(exec_stages, "shuffle_write_bytes") / mb,
        "exec.shuffle_read_mb": attr_sum(exec_stages, "shuffle_read_bytes") / mb,
        "exec.spill_mb": attr_sum(exec_stages, "spill_bytes") / mb,
        "exec.peak_task_mem_mb": max([s["attrs"].get("peak_task_mem_bytes", 0.0)
                                      for s in exec_stages] or [0.0]) / mb,
        "exec.failed_tasks": attr_sum(exec_stages, "failed_tasks"),
        "pipeline.ingest_s": stage_s("ingest"),
        "pipeline.keep_ratio": float(info.get("keep_ratio", 0.0)),
        "enrich.sector_s": stage_s("sector"),
        "dedup.neardup_s": stage_s("neardup"),
        "dedup.decontam_s": stage_s("decontam"),
        "dedup.pair_yield": float(info.get("pair_yield", 0.0)),
        "sinks.write_s": sum(t.duration(s) for s in calls
                             if s["tags"].get("layer") == "sinks") / 1e3,
        "sinks.files_written": attr_sum(calls, "files_written"),
        "sinks.mb_written": attr_sum(calls, "bytes_written") / mb,
        "streaming.triggers": float(len(triggers)),
        "streaming.add_batch_ms": attr_sum(triggers, "addBatch_ms") / n_trig,
        "streaming.query_planning_ms": attr_sum(triggers, "queryPlanning_ms") / n_trig,
        "streaming.commit_ms": (attr_sum(triggers, "walCommit_ms")
                                + attr_sum(triggers, "commitOffsets_ms")) / n_trig,
        "streaming.latest_offset_ms": attr_sum(triggers, "latestOffset_ms") / n_trig,
        "streaming.state_rows": max([s["attrs"].get("state_rows", 0.0)
                                     for s in triggers] or [0.0]),
        "streaming.state_mem_mb": max([s["attrs"].get("state_mem_bytes", 0.0)
                                       for s in triggers] or [0.0]) / mb,
    })
    late = info.get("gen_late_ms") or []
    m["bench.gen_late_ms_p90"] = tail_percentile(late, 90) if late else 0.0
    return m


def stream_metrics(phase=None):
    """The stream phase's own figures: latency from a file's scheduled drop
    to the commit of its micro-batch (p50, and p90 with 10 files beyond it),
    and backlog docs per second of drain. All 0 without a stream phase."""
    if phase is None:
        return {"streaming.latency_p50_ms": 0.0, "streaming.latency_p90_ms": 0.0,
                "streaming.drain_docs_per_s": 0.0}
    lat = [ms for name, ms, ok in phase["ops"] if ok and not name.startswith("backlog/")]
    return {"streaming.latency_p50_ms": statistics.median(lat),
            "streaming.latency_p90_ms": tail_percentile(lat, 90),
            "streaming.drain_docs_per_s": float(phase["info"]["stream_drain_docs_per_s"])}


def query_split(spans):
    """query_mix's time split in the terms of the ROADMAP re-anchor probe:
    construction, final-plan Catalyst phases, execution, jobs per query."""
    t = SpanTree(spans)
    queries = t.of_kind("query")
    calls = t.of_kind("call")
    construct = [s for s in calls if s["tags"].get("phase") == "construct"]
    action = [s for s in calls if s["tags"].get("phase") == "action"]
    action_ids = {s["id"] for s in action}
    final_plans = [p for p in t.of_kind("plan")
                   if t.under(p, lambda a: a["id"] in action_ids)]
    catalyst_ms = sum(p["attrs"].get(k, 0.0) for p in final_plans
                      for k in ("analysis_ms", "optimization_ms", "planning_ms"))
    jobs = t.of_kind("job")
    wall = sum(map(t.duration, queries)) / 1e3
    construct_s = sum(map(t.duration, construct)) / 1e3
    action_s = sum(map(t.duration, action)) / 1e3
    return {
        "queries": len(queries),
        "wall_s": wall,
        "construct_s": construct_s,
        "construct_share": construct_s / wall if wall else 0.0,
        "final_catalyst_s": catalyst_ms / 1e3,
        "execution_s": action_s - catalyst_ms / 1e3,
        "jobs": len(jobs),
        "jobs_per_query": len(jobs) / len(queries) if queries else 0.0,
    }


def e2e_metrics(phase, setup_s, peak_rss_mb):
    """End-to-end metrics of one phase. An op repeated over passes (a stage,
    a query) counts once, at its median latency. An op's latency counts only
    if it succeeded; backlog files of the stream are queued by design and
    count only towards the drain time (pass_s)."""
    by_op = defaultdict(list)
    for name, ms, ok in phase["ops"]:
        if ok and not name.startswith("backlog/"):
            by_op[name].append(ms)
    lat = [statistics.median(xs) for xs in by_op.values()]
    return {
        "setup_s": setup_s,
        "peak_rss_mb": peak_rss_mb,
        "pass_s": statistics.median(phase["passes_s"]),
        "op_geomean_ms": geomean(lat),
        "op_p50_ms": statistics.median(lat),
    }
