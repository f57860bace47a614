#!/usr/bin/env python3
"""Layered benchmark of the graft engine.

Usage (from the repository root):
  python3 perfbench/run.py --workload tpch --seed 1 --seconds 10 --trace 0

Builds the program and this harness with sbt on first use, generates the
seeded corpus, runs perfbench.Main in its own JVM, checks every query's
output, and prints the metrics. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}; --trace 0 reports the
end-to-end metrics, --trace 1 the per-layer metrics of a traced run.
See perfbench/README.md for the workloads and metric definitions.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import check  # noqa: E402
import gen  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
HEAP = "3g"
SF = 0.01          # scale factor of the corpus
CORPUS_SEED = 0    # the corpus is the same in every run; the seed sets the order
MIN_PASSES = 1     # timed passes at least; a traced run runs plain, traced, plain
TRACED_PASSES = 3
JVM_LIMIT_S = 150  # the JVM is killed after this long
COVERAGE = (0.95, 1.05)  # build + plan + execute over each query's wall time

WORKLOADS = {
    "tpch": [f"tpch_q{i}" for i in range(1, 23)],
    "llm_eager": ["llm_pagerank", "llm_hits", "llm_trustrank",
                  "llm_dedup_survivors_best", "llm_pipeline_curate_v2",
                  "llm_tfidf_pairs_auto", "llm_ccnet_buckets",
                  "llm_multimodal_dedup", "llm_semantic_dedup_ivf",
                  "llm_embed_pq_recall"],
}

END_TO_END = [("setup_s", "s"), ("pass_s", "s"), ("throughput_qpm", "1/min"),
              ("query_p50_s", "s"), ("query_p90_s", "s"), ("cpu_s", "s"),
              ("heap_alloc_mb", "MB")]

FAMILIES = ["Dedup", "Similarity", "Curation", "Graph", "Scale", "Multimodal",
            "TextAnalysis", "Temporal", "other"]
# (name, unit, better) of every per-layer metric, in report order
PER_LAYER = (
    [("setup.session_s", "s", "lower"), ("setup.warmup_s", "s", "lower"),
     ("setup.corpus_s", "s", "lower"),
     ("tables.jobs", "count", "lower"), ("tables.s", "s", "lower"),
     ("build_s", "s", "lower"), ("build.jobs", "count", "lower"),
     ("build.tasks", "count", "lower"), ("build.task_cpu_s", "s", "lower")] +
    [(f"build.jobs.{f}", "count", "lower") for f in FAMILIES] +
    [("plan_s", "s", "lower"), ("plan.analysis_s", "s", "lower"),
     ("plan.optimization_s", "s", "lower"), ("plan.planning_s", "s", "lower"),
     ("plan.graft_rules_s", "s", "lower")] +
    [(f"plan.{k}", "count", "lower") for k in
     ["exchanges", "smj", "bhj", "bnlj", "grouped_topk", "cached_scans"]] +
    [("execute_s", "s", "lower"), ("exec.jobs", "count", "lower"),
     ("exec.stages", "count", "lower"), ("exec.tasks", "count", "lower"),
     ("exec.task_run_s", "s", "lower"), ("exec.task_cpu_s", "s", "lower"),
     ("exec.gc_s", "s", "lower"), ("exec.task_overhead_s", "s", "lower"),
     ("exec.stage_wait_s", "s", "lower"), ("exec.core_util", "ratio", "higher"),
     ("exec.empty_task_ratio", "ratio", "lower"), ("exec.input_mb", "MB", "lower"),
     ("exec.shuffle_read_mb", "MB", "lower"), ("exec.shuffle_write_mb", "MB", "lower"),
     ("exec.spill_mb", "MB", "lower"),
     ("cache.rdds", "count", "lower"), ("cache.stored_mb", "MB", "lower"),
     ("cache.live_after_mb", "MB", "lower"),
     ("jvm.gc_s", "s", "lower"), ("jvm.heap_peak_mb", "MB", "lower"),
     ("trace.overhead", "ratio", "lower"), ("trace.coverage_min", "ratio", "higher"),
     ("trace.coverage_max", "ratio", "lower")])


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Digest of every file the build reads, to tell when to rebuild."""
    h = hashlib.sha1()
    for top in ["build.sbt", "project", "src/main", "perfbench/build.sbt",
                "perfbench/project", "perfbench/src"]:
        base = os.path.join(ROOT, top)
        paths = [base] if os.path.isfile(base) else []
        for d, dirs, files in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x != "target")
            paths += [os.path.join(d, f) for f in sorted(files)]
        for p in paths:
            st = os.stat(p)
            h.update(f"{os.path.relpath(p, ROOT)}:{st.st_size}:{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def run_group(cmd, cwd, log_path, timeout, env=None):
    """Runs cmd in its own process group with output to log_path; on a
    timeout or an interrupt the whole group is killed and waited for."""
    with open(log_path, "w") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except BaseException:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise


def build():
    """Compiles the program and the harness; returns (classpath, jvm options)."""
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        sys.exit("perfbench: the program's build.sbt is missing; nothing to measure")
    os.makedirs(BUILD, exist_ok=True)
    launcher = os.path.join(BUILD, "launcher.txt")
    stamp_file = os.path.join(BUILD, "launcher.stamp")
    stamp = source_stamp()
    if not (os.path.exists(launcher) and os.path.exists(stamp_file)
            and open(stamp_file).read() == stamp):
        log("building with sbt")
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                       "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories")
                       + " -Dsbt.offline=true -Xmx2g")
        rc = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "launcher"],
                       HERE, os.path.join(BUILD, "sbt.log"), 850, env)
        if rc != 0:
            sys.exit(f"perfbench: sbt build failed (see {BUILD}/sbt.log)")
        shutil.copyfile(os.path.join(HERE, "target", "launcher.txt"), launcher)
        with open(stamp_file, "w") as f:
            f.write(stamp)
    lines = open(launcher).read().splitlines()
    return lines[0], [o for o in lines[1:] if o and not o.startswith("-Xmx")]


def write_plan(path, queries, args, corpus, work):
    rng = random.Random(args.seed)
    lines = [("cores", os.cpu_count()), ("seconds", args.seconds),
             ("min_passes", TRACED_PASSES if args.trace else MIN_PASSES),
             ("trace", args.trace), ("corpus", corpus),
             ("check_dir", os.path.join(work, "check")),
             ("out", os.path.join(work, "report.json"))]
    for _ in range(64):
        order = list(queries)
        rng.shuffle(order)
        lines.append(("order", ",".join(order)))
    with open(path, "w") as f:
        for rec in lines:
            f.write("\t".join(map(str, rec)) + "\n")


def run_jvm(work, plan, classpath, jvm_opts):
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work}/tmp",
            f"-Dspark.local.dir={work}/spark-local"] + jvm_opts +
           ["-cp", classpath, "perfbench.Main", plan])
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    rc = run_group(cmd, work, os.path.join(work, "jvm.log"), JVM_LIMIT_S)
    if rc != 0:
        tail = open(os.path.join(work, "jvm.log")).read()[-3000:]
        sys.exit(f"perfbench: benchmark JVM exited with {rc}\n{tail}")


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def quantile(xs, q):
    xs = sorted(xs)
    i = q * (len(xs) - 1)
    lo = int(i)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (i - lo)


def loadavg():
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def _terminate(signum, frame):
    raise SystemExit(128 + signum)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    signal.signal(signal.SIGTERM, _terminate)
    load_start = loadavg()

    classpath, jvm_opts = build()
    work = os.path.join(BUILD, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        corpus = os.path.join(work, "corpus")
        t = time.perf_counter()
        gen.base(corpus, SF, CORPUS_SEED)
        corpus_s = time.perf_counter() - t
        plan = os.path.join(work, "plan.tsv")
        write_plan(plan, WORKLOADS[args.workload], args, corpus, work)
        run_jvm(work, plan, classpath, jvm_opts)
        with open(os.path.join(work, "report.json")) as f:
            report = json.load(f)
        bad = check_outputs(report, corpus)
        result, record = summarize(args, report, bad, corpus_s, load_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(BUILD, "results", name), "w") as f:
        json.dump(dict(record, result=result, spans=report["spans"]), f)
    print(json.dumps(result))


def check_outputs(report, corpus):
    """Returns {query: error} for every output that failed its check."""
    expected = check.load_expected()
    bad = {}
    for e in report["checks"]:
        q = e["query"]
        err = check.check(e, report["oracle_sql"].get(q), corpus, expected.get(q))
        if err:
            bad[q] = err
    return bad


def summarize(args, report, bad, corpus_s, load_start):
    passes = report["passes"]
    plain = [p for p in passes if not p["traced"]]
    traced = [p for p in passes if p["traced"]]
    samples = [s for p in plain for s in p["samples"]]
    failed = sum(1 for s in samples if s["error"] or s["query"] in bad)
    setup = report["setup"]
    e2e = {
        "setup_s": setup["ready_s"],
        "pass_s": median([p["wall_s"] for p in plain]),
        "throughput_qpm": median([60 * sum(1 for s in p["samples"] if not s["error"])
                                  / p["wall_s"] for p in plain]),
        "query_p50_s": quantile([s["wall_s"] for s in samples], 0.5),
        "query_p90_s": quantile([s["wall_s"] for s in samples], 0.9),
        "cpu_s": median([p["cpu_s"] for p in plain]),
        "heap_alloc_mb": median([p["heap_alloc_mb"] for p in plain]),
    }
    env = dict(report["env"], workload=args.workload, seed=args.seed,
               commit=commit(), source=source_stamp()[:12],
               peak_rss_mb=report["peak_rss_mb"],
               loadavg_start=load_start, loadavg_end=loadavg(),
               pass_walls=[round(p["wall_s"], 3) for p in passes],
               traced=[p["traced"] for p in passes],
               jvm_boot_s=setup["jvm_boot_s"], session_s=setup["session_s"],
               ready_s=setup["ready_s"], warmup_s=setup["warmup_s"], corpus_s=corpus_s)
    print("env " + json.dumps(env))
    if args.trace:
        layers = layer_metrics(report, traced, plain, corpus_s)
        lo, hi = layers["trace.coverage_min"], layers["trace.coverage_max"]
        if not COVERAGE[0] <= lo <= hi <= COVERAGE[1]:
            bad["trace.coverage"] = (f"build + plan + execute covers {lo:.3f}–{hi:.3f} "
                                     f"of a query's wall time, outside {COVERAGE}")
    for q, err in sorted(bad.items()):
        print(f"check FAILED {q}: {err}")
    print(f"checked {len(report['checks'])} outputs"
          f"{' and the trace coverage' if args.trace else ''}, {len(bad)} failed; "
          f"fail_ratio {failed / len(samples):.4f} ({failed}/{len(samples)})")
    by_query = {}
    for s in samples:
        by_query.setdefault(s["query"], []).append(s["wall_s"])
    for q, xs in sorted(by_query.items()):
        print(f"query {q} median {median(xs):.3f} s over {len(xs)}")
    for name, unit in END_TO_END:
        print(f"{name} {e2e[name]:.4f} {unit}")

    if args.trace:
        metrics = {k: (layers[k], unit) for k, unit, _ in PER_LAYER}
        for k, (v, unit) in metrics.items():
            print(f"{k} {v:.4f} {unit}")
    else:
        metrics = {k: (e2e[k], unit) for k, unit in END_TO_END}
    result = {"correct": not bad and failed == 0, "attempted": len(samples),
              "failed": failed,
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    return result, {"env": env, "end_to_end": e2e, "check_failures": bad}


def layer_metrics(report, traced, plain, corpus_s):
    setup = report["setup"]
    out = {k: median([p["layers"][k] for p in traced]) for k in traced[0]["layers"]}
    out.update({
        "setup.session_s": setup["session_s"],
        "setup.warmup_s": setup["warmup_s"],
        "setup.corpus_s": corpus_s,
        "jvm.gc_s": median([p["gc_s"] for p in traced]),
        "jvm.heap_peak_mb": median([p["heap_peak_mb"] for p in traced]),
        "trace.overhead": (median([p["wall_s"] for p in traced]) /
                           median([p["wall_s"] for p in plain])),
    })
    return out


if __name__ == "__main__":
    main()
