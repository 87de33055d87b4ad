#!/usr/bin/env python3
"""Seeded benchmark of graft: one workload, one seed, one run.

    python3 perfbench/run.py --driver-heap 2g --curate-posts 15000 \
        --workload curate_batch --seed 1 --seconds 5 --trace 0

Run from the repository root. The first run builds the harness with sbt
(graft's main sources plus perfbench/src) into perfbench/target and records
the classpath under .bench_build/; later runs reuse it until a source file
changes. Each run generates its inputs from --seed inside .bench_work/,
measures for --seconds, checks the outputs, keeps a record under
.bench_results/ and prints one JSON line last:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics of BENCHMARK.json; --trace 1 adds a
warm untraced and a traced phase after the untraced one and reports the
per-layer metrics, including the tracing overhead. A traced curate_batch run
also runs the open-loop stream ingest (Ingest.ingestStream) as one more traced
phase, which gives the streaming layer's metrics. Exit status is 0 only if every operation
succeeded and every output check passed. See perfbench/NOTES.md.
"""
import argparse
import glob
import hashlib
import importlib.util
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import zipfile

import benchlib
import gen

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
WORK = os.path.join(ROOT, ".bench_work")
RESULTS = os.path.join(ROOT, ".bench_results")
ARCHIVE = os.path.join(BUILD, "classes.jsa")
DEADLINE_S = 170.0
STREAM_INTERVAL_MS = 100
STREAM_BACKLOG_FILES = 50
POSTS_PER_FILE = 20
WORKLOADS = ("curate_batch", "query_mix")
# what the class-data training run executes: both workloads and the stream
# phase of a traced curate_batch run
TRAIN_PARTS = ("curate_batch", "query_mix", "stream_ingest")
# the class-data training run: a fixed seed and small inputs
TRAIN_SEED = 0
TRAIN_POSTS = 1000
TRAIN_STREAM_FILES = 10

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def spark_jars():
    """The Spark jar directory: $SPARK_HOME/jars, else the one the root
    build.sbt names as its unmanagedBase."""
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return os.path.join(home, "jars")
    try:
        with open(os.path.join(ROOT, "build.sbt")) as f:
            for line in f:
                if line.strip().startswith("unmanagedBase"):
                    return line.split('"')[1]
    except (OSError, IndexError):
        pass
    fail("cannot find the Spark jars: set SPARK_HOME")


def source_stamp():
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
            os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(heap):
    """Compile once per source state and record the class-data archive;
    returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        fail("graft's sources (src/main/scala) are not in this checkout; nothing to build")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env["COURSIER_MODE"] = "offline"
    repos = os.path.expanduser("~/.sbt/repositories")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    env["PERFBENCH_SPARK_JARS"] = spark_jars()
    log("building the harness with sbt (first run in this checkout)")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Compile / fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True,
        timeout=850)
    lines = p.stdout.splitlines()
    cp = [l for l in lines if ".jar" in l and not l.startswith("[")]
    if p.returncode != 0 or not cp:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail("sbt build failed")
    log(f"built in {time.time() - t0:.0f} s")
    cp = pack_classes(cp[-1].strip())
    train(cp, heap)
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def pack_classes(cp):
    """Put each class directory of the classpath into a jar under .bench_build:
    the JVM archives only classes loaded from jars."""
    entries = []
    for i, e in enumerate(cp.split(os.pathsep)):
        if os.path.isdir(e):
            jar = os.path.join(BUILD, f"classes-{i}.jar")
            with zipfile.ZipFile(jar, "w", zipfile.ZIP_STORED) as z:
                for d, _, fs in sorted(os.walk(e)):
                    for f in sorted(fs):
                        full = os.path.join(d, f)
                        z.write(full, os.path.relpath(full, e))
            e = jar
        entries.append(e)
    return os.pathsep.join(entries)


def train(cp, heap):
    """One small untimed run of every workload in one JVM, which records the
    classes they load in a class-data archive (AppCDS) as it exits. Every
    measured run maps that archive instead of loading and verifying Spark's
    classes one by one, so a fresh JVM reaches its first job sooner."""
    t0 = time.time()
    work = os.path.join(WORK, "train")
    shutil.rmtree(work, ignore_errors=True)
    cores = len(os.sched_getaffinity(0))
    for wl in TRAIN_PARTS:
        gen.generate(wl, os.path.join(work, wl, "in"), TRAIN_SEED, os.path.join(BENCH, "data"),
                     TRAIN_POSTS, 2 * TRAIN_STREAM_FILES, POSTS_PER_FILE)
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    try:
        run_jvm(cp, {
            "workload": "train", "seed": TRAIN_SEED, "seconds": 0, "trace": 0,
            "work": work, "cores": cores,
            "stream-interval-ms": STREAM_INTERVAL_MS, "stream-backlog": TRAIN_STREAM_FILES,
        }, work, heap, cores, time.time() + DEADLINE_S, [f"-XX:ArchiveClassesAtExit={ARCHIVE}"])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if not os.path.exists(ARCHIVE):
        fail("the training run left no class-data archive")
    log(f"class-data archive recorded in {time.time() - t0:.0f} s")


def run_jvm(cp, args, work, heap, cores, deadline, jvm_opts=None):
    # a fixed ceiling only: the heap grows as the run touches it, so peak
    # RSS follows what the program uses
    if jvm_opts is None:
        jvm_opts = [f"-XX:SharedArchiveFile={ARCHIVE}"]
    cmd = ["java", f"-Xmx{heap}", "-XX:-UsePerfData", *jvm_opts,
           f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for o in JDK_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Harness"]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(cores)  # CorpusB sizes its session from it
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    logpath = os.path.join(work, "jvm.log")
    with open(logpath, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, env=env,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=max(5.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(logpath) as f:
            tail = f.readlines()[-60:]
        sys.stderr.write("".join(tail))
        fail(f"harness exited with {rc}", 1)


def oracle_check(res):
    """Compare each first-pass query result with its SparkEntry.oracleSql
    answer in DuckDB, canonicalized as tools/check.py does. Returns
    (seconds spent, names that mismatched)."""
    import duckdb
    spec = importlib.util.spec_from_file_location(
        "graft_check", os.path.join(ROOT, "tools", "check.py"))
    check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check)
    o = res["oracle"]
    t0 = time.time()
    con = duckdb.connect()
    con.execute("SET memory_limit='2GB'")
    con.execute("SET threads=4")
    con.execute("SET preserve_insertion_order=false")
    for t in check.TABLES:
        p = f"{o['corpus']}/{t}.parquet"
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    bad = []
    for name, sql in sorted(o["queries"].items()):
        path = f"{o['outputs']}/{name}"
        try:
            if not sql or not os.path.isdir(path):
                raise ValueError("no oracle SQL" if not sql else "no output")
            got = check.canon(con.execute(f"SELECT * FROM '{path}/*.parquet'").fetchdf())
            want = check.canon(con.execute(sql).fetchdf())
            if got != want:
                raise ValueError(f"{len(got[1])} rows vs oracle {len(want[1])}"
                                 if got[0] == want[0] else f"columns {got[0]} vs {want[0]}")
        except Exception as e:  # noqa: BLE001 - every mismatch is reported
            log(f"oracle mismatch {name}: {e}")
            bad.append(name)
    con.close()
    return time.time() - t0, bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    # stated in BENCHMARK.json's command, so they have no default here
    ap.add_argument("--driver-heap", required=True)
    ap.add_argument("--curate-posts", type=int, required=True)
    a = ap.parse_args()
    deadline = time.time() + DEADLINE_S

    spec = benchlib.load_spec(ROOT)
    e2e_names, layer_names = benchlib.metric_names(spec)
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    cp = build(a.driver_heap)
    deadline = max(deadline, time.time() + DEADLINE_S)  # a build is not run time
    cores = len(os.sched_getaffinity(0))

    # runs are sequential: clear what a killed run may have left behind
    shutil.rmtree(WORK, ignore_errors=True)
    work = os.path.join(WORK, f"{a.workload}-{a.seed}-{os.getpid()}")
    data = os.path.join(BENCH, "data")
    # a traced curate_batch run also measures the streaming layer: at least
    # 100 scheduled stream files, so the p90 has 10 beyond it
    stream = a.trace and a.workload == "curate_batch"
    scheduled = max(100, round(a.seconds * 1000 / STREAM_INTERVAL_MS))
    try:
        t0 = time.time()
        props = gen.generate(a.workload, os.path.join(work, "in"), a.seed, data,
                             a.curate_posts, 0, POSTS_PER_FILE)
        if stream:
            props["stream"] = gen.generate("stream_ingest", os.path.join(work, "in"), a.seed, data,
                                           0, scheduled + STREAM_BACKLOG_FILES, POSTS_PER_FILE)
        gen_s = time.time() - t0
        run_jvm(cp, {
            "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
            "work": work, "cores": cores,
            "stream-interval-ms": STREAM_INTERVAL_MS, "stream-backlog": STREAM_BACKLOG_FILES,
        }, work, a.driver_heap, cores, deadline)
        with open(os.path.join(work, "result.json")) as f:
            res = json.load(f)

        spans = []
        if a.trace:
            with open(os.path.join(work, "spans.jsonl")) as f:
                spans = [json.loads(l) for l in f if l.strip()]
        setup = {**res["setup"], "gen_s": gen_s}
        bad_oracle = []
        if "oracle" in res:
            setup["oracle_s"], bad_oracle = oracle_check(res)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    base = res["phases"][0]
    # a first-pass result that differs from the oracle fails that query op
    first_pass = {}
    for i, (name, _, ok) in enumerate(base["ops"]):
        first_pass.setdefault(name, i)
    for name in bad_oracle:
        base["ops"][first_pass[name]][2] = False
    ops = base["ops"]
    checks = base["checks"]
    for ph in res["phases"][1:]:
        ops = ops + ph["ops"]
        checks = checks + ph["checks"]
    # the same seed and size must give the same output in every run of this
    # checkout
    digest = res["output_digest"]
    for rec in sorted(glob.glob(os.path.join(RESULTS, f"{a.workload}-seed{a.seed}-*.json"))):
        with open(rec) as f:
            r = json.load(f)
        before = r.get("output_digest") if r.get("curate_posts") == a.curate_posts else None
        if digest and before:
            checks = checks + [["same_output_as_earlier_runs", before == digest,
                                f"{digest} vs {before} in {os.path.basename(rec)}"]]
            break
    attempted = len(ops) + len(checks)
    failed = sum(1 for _, _, ok in ops if not ok) + sum(1 for _, ok, _ in checks if not ok)
    setup_s = sum(setup.values())
    e2e = benchlib.e2e_metrics(base, setup_s, res["peak_rss_mb"])

    info = base["info"]
    log(f"{a.workload} seed={a.seed} cores={cores} setup "
        + " ".join(f"{k}={v:.2f}" for k, v in setup.items()))
    if props:
        log("inputs " + json.dumps(props, sort_keys=True))
    for k, v in info.items():
        if isinstance(v, (int, float)):
            log(f"{k} = {v:.6g}")
    if len(base["ops"]) <= 50:
        log("op ms: " + " ".join(f"{n}={ms:.0f}" for n, ms, _ in base["ops"]))
    log(f"failed_frac = {failed / attempted:.6g} ({failed} of {attempted})")
    for name, ok, detail in checks:
        log(f"check {name}: {'ok' if ok else 'FAILED'} ({detail})")

    if a.trace:
        untraced, traced = res["phases"][1:3]
        # the batch layers over the passes; the streaming layer over the
        # stream phase's episode, if the run had one
        layers = benchlib.layer_metrics(spans, cores, traced["info"], ("pass",))
        layers.update(benchlib.stream_metrics())
        if len(res["phases"]) > 3:
            st = res["phases"][3]
            sl = benchlib.layer_metrics(spans, cores, st["info"], ("episode",))
            layers.update({k: v for k, v in sl.items() if k.startswith("streaming.")})
            layers["bench.gen_late_ms_p90"] = sl["bench.gen_late_ms_p90"]
            layers.update(benchlib.stream_metrics(st))
            log(f"stream phase: drain_s={st['passes_s'][0]:.4g} "
                f"triggers={layers['streaming.triggers']:.0f} "
                f"p50_ms={layers['streaming.latency_p50_ms']:.4g} "
                f"busy_frac={sl['exec.busy_frac']:.3f}")
        layers["bench.failed_frac"] = failed / attempted
        e2e_untraced = benchlib.e2e_metrics(untraced, setup_s, res["peak_rss_mb"])
        e2e_traced = benchlib.e2e_metrics(traced, setup_s, res["peak_rss_mb"])
        for name, m in (("untraced", e2e_untraced), ("traced", e2e_traced)):
            log(f"warm {name} phase: pass_s={m['pass_s']:.4g} op_geomean_ms={m['op_geomean_ms']:.4g}")
        for k in ("pass_s", "op_geomean_ms", "op_p50_ms"):
            layers[f"bench.trace_overhead.{k}"] = e2e_traced[k] / e2e_untraced[k] - 1.0
        if a.workload == "query_mix":
            split = benchlib.query_split(spans)
            log("query_mix split (traced pass): " + " ".join(
                f"{k}={v:.4g}" for k, v in split.items())
                + f" busy_frac={layers['exec.busy_frac']:.3f}")
        metrics = {n: layers[n] for n in layer_names}
    else:
        metrics = {n: e2e[n] for n in e2e_names}
    for n, v in metrics.items():
        log(f"metric {n} = {v:.6g} {units[n]}")

    os.makedirs(RESULTS, exist_ok=True)
    with open(os.path.join(RESULTS, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump({"workload": a.workload, "seed": a.seed, "curate_posts": a.curate_posts,
                   "cores": cores,
                   "inputs": props, "output_digest": digest, "setup": setup, "info": info,
                   "metrics": metrics, "attempted": attempted, "failed": failed},
                  f, indent=1, sort_keys=True)

    correct = failed == 0
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {n: {"value": v, "unit": units[n]} for n, v in metrics.items()},
    }))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
