#!/usr/bin/env python3
"""Active-sampling benchmark runner.

    python3 perfbench/run.py --workload as_large_pool --seed 1 --seconds 30 --trace 0

Run from the root of a checkout. Builds the program and the harness with sbt
(once per source state), runs one fresh JVM per measurement, checks the
pipeline's outputs, and prints one JSON result as the last line of stdout:
end-to-end metrics with --trace 0, per-layer metrics with --trace 1. Raw
output (host load, spans, per-iteration values) goes to
.bench_build/perfbench/runs/. See perfbench/README.md.
"""

import argparse
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import analysis

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
HARNESS_DIR = os.path.join(BENCH_DIR, "harness")
WORKLOADS = ("as_paper", "as_large_pool", "sde_forecast")
HELD_OUT_SEED = 1009  # never used while tuning the benchmark (README)
SETUPS = 3          # set-ups per run; setup_s is their median
# every JVM of one invocation, traced runs' two included, must end this long
# after the build so that the invocation ends within 180 s
RUN_BUDGET_S = 170
ADD_OPENS = ["java.base/" + p + "=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
# build inputs, relative to the checkout root
SOURCES = ["build.sbt", "project", "src/main",
           os.path.relpath(HARNESS_DIR, os.getcwd())]


def fail(msg, code=2):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(code)


def source_digest(root):
    h = hashlib.sha256()
    for rel in SOURCES:
        path = os.path.join(root, rel)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(path)
            for f in fs if "/target" not in d and "/project/project" not in d)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root, work):
    """Compile program + harness unless the sources are unchanged since the
    last build in this checkout; return the runtime classpath and the
    sources' digest."""
    stamp_file = os.path.join(work, "build.json")
    digest = source_digest(root)
    if os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            stamp = json.load(fh)
        if stamp.get("digest") == digest:
            return stamp["classpath"], digest
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    env["SBT_OPTS"] = " ".join(
        ["-Dsbt.offline=true", "-Xmx2g"] +
        (["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
         if os.path.exists(repos) else []))
    log_path = os.path.join(work, "build.log")
    with open(log_path, "w") as log:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=HARNESS_DIR, env=env, stdout=subprocess.PIPE, stderr=log, text=True, timeout=840)
        log.write(proc.stdout)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or lines[-1].startswith("["):
        fail("build failed, see " + log_path, 3)
    classpath = lines[-1].strip()
    with open(stamp_file, "w") as fh:
        json.dump({"digest": digest, "classpath": classpath}, fh)
    return classpath, digest


def loadavg():
    with open("/proc/loadavg") as fh:
        return [float(x) for x in fh.read().split()[:3]]


def steal_s():
    """CPU time the hypervisor gave to others, summed over all CPUs
    (the `steal` column of /proc/stat, in USER_HZ ticks)."""
    with open("/proc/stat") as fh:
        return int(fh.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def run_jvm(classpath, work, args, extra_props=(), deadline=None):
    """Run the harness in a fresh JVM; return its parsed raw line."""
    local = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    for d in (local, tmp):
        os.makedirs(d, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(os.cpu_count()), SPARK_LOCAL_DIRS=local)
    cmd = (["java"] + [x for p in ADD_OPENS for x in ("--add-opens", p)] +
           ["-Xmx3g", "-Djava.io.tmpdir=" + tmp, "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC"] + list(extra_props) +
           ["-cp", classpath, "perfbench.Harness"] + [str(a) for a in args])
    err_path = os.path.join(work, "harness.err")
    with open(err_path, "w") as err:
        proc = subprocess.Popen(cmd, env=env, stdout=subprocess.PIPE, stderr=err, text=True)
        try:
            out, _ = proc.communicate(
                timeout=None if deadline is None else max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail("harness did not finish within the %d s run budget" % RUN_BUDGET_S, 4)
    raw = [l for l in out.splitlines() if l.startswith("PERFBENCH_RAW ")]
    if proc.returncode != 0 or not raw:
        fail("harness exited with %d, see %s" % (proc.returncode, err_path), 4)
    return json.loads(raw[-1][len("PERFBENCH_RAW "):])


def run_once(classpath, work, workload, seed, deadline, extra_props=()):
    spawn_ms = time.time() * 1e3
    return run_jvm(classpath, work, [workload, seed, SETUPS, "%.3f" % spawn_ms],
                   extra_props, deadline)


def quality(raw):
    """The pipeline's quality outputs, averaged over iterations. They are
    deterministic for a seed: a change that moves one changed which rows
    were selected."""
    its = raw["iterations"]
    if raw["workload"] == "sde_forecast":
        mae = sum(i["mae"] for i in its) / len(its)
        return {"mean_mae": mae, "naive_mae": raw["naive_mae"], "mase": mae / raw["naive_mae"]}
    return {"mean_log_pdf_err": sum(i["log_pdf_err"] for i in its) / len(its),
            "mean_mse": sum(i["mse"] for i in its) / len(its)}


def end_to_end(raw):
    t = (raw["run_end_ms"] - raw["run_start_ms"]) / 1e3
    iters = analysis.iteration_times(raw["fits"], raw["fits_per_iter"], raw["run_end_ms"])
    m = {
        "setup_s": (analysis.median(raw["setups_ms"]) / 1e3, "s"),
        "time_to_subset_s": (t, "s"),
        "iter_p50_s": (analysis.median(iters) / 1e3, "s"),
        "scored_rows_per_s": (raw["scored_rows"] / t, "rows/s"),
        "pinned_mb_peak": (max(raw["pinned_bytes"]) / 1e6, "MB"),
    }
    q = quality(raw)
    # one name for both pipelines' seed-stable quality error (README): the
    # log-pdf error for ActiveSampling, the scaled forecast error for SdeForecast
    m["mean_quality_err"] = (q.get("mean_log_pdf_err", q.get("mase")), "1")
    return m, [x / 1e3 for x in iters]


def check_repeatable(work, raw, digests):
    """Failures from comparing this run with earlier runs of the same seed
    in this checkout (quality metrics) and with the recorded input digests."""
    problems = []
    key = "%s/%s" % (raw["workload"], raw["seed"])
    expected = digests.get(raw["workload"], {}).get(str(raw["seed"]))
    if expected is not None and raw.get("input_digest") != expected:
        problems.append("input digest %s != recorded %s" % (raw.get("input_digest"), expected))
    path = os.path.join(work, "quality.json")
    seen = {}
    if os.path.exists(path):
        with open(path) as fh:
            seen = json.load(fh)
    q = quality(raw)
    if key in seen and seen[key] != q:
        problems.append("quality metrics differ from an earlier run of this seed: %s vs %s" % (q, seen[key]))
    seen.setdefault(key, q)
    with open(path, "w") as fh:
        json.dump(seen, fh, indent=1, sort_keys=True)
    return problems


def traced_metrics(raw, base_raw, events):
    log = analysis.parse_event_log(events)
    attribution = analysis.attribute_jobs(log)
    run_span = (raw["run_start_ms"], raw["run_end_ms"])
    stats = analysis.layer_stats(log, attribution, (0, raw["run_end_ms"]))
    m = {}
    for layer in analysis.LAYERS:
        st = stats.get(layer, {})
        for s in analysis.LAYER_STATS:
            unit = "s" if s.endswith("_s") else "bytes" if s.endswith("_bytes") else "count"
            m["%s.%s" % (layer, s)] = (st.get(s, 0), unit)
    run_jobs = analysis.jobs_in(log, run_span)
    job_iv = [(log["jobs"][j]["start"], log["jobs"][j]["end"] or raw["run_end_ms"]) for j in run_jobs]
    driver_s = ((run_span[1] - run_span[0]) -
                analysis.measure(analysis.clip(job_iv, *run_span))) / 1e3
    pipeline = "sde_forecast" if raw["workload"] == "sde_forecast" else "active_sampling"
    for p in ("active_sampling", "sde_forecast"):
        m[p + ".driver_s"] = (driver_s if p == pipeline else 0.0, "s")
    fit_tasks = []
    for a, b in raw["fits"]:
        jobs = [j for j in analysis.jobs_in(log, (a, b)) if attribution[j][0] == "scorer"]
        stages = {s for j in jobs for s in log["jobs"][j]["stage_ids"]}
        fit_tasks.append(sum(1 for t in log["tasks"] if t["stage"] in stages))
    attributed = [j for j in run_jobs if attribution[j][0] not in ("other", "bench")]
    m.update({
        "graft_session.start_s": (analysis.median(raw["session_start_ms"]) / 1e3, "s"),
        "scorer.fit_calls": (len(raw["fits"]), "count"),
        "scorer.fit_s": (sum(b - a for a, b in raw["fits"]) / 1e3, "s"),
        "scorer.score_calls": (len(raw["scores_ms"]), "count"),
        "scorer.fit_tasks_max": (max(fit_tasks), "count"),
        "spark.jobs_per_iter": (len(run_jobs) / raw["n_iterations"], "count"),
        "spark.persisted_rdds_peak": (max(raw["persisted_rdds"]), "count"),
        "spark.gc_s": (raw["gc_ms"] / 1e3, "s"),
        "spark.attributed_share": (len(attributed) / max(1, len(run_jobs)), "ratio"),
        "trace.overhead": ((run_span[1] - run_span[0]) /
                           (base_raw["run_end_ms"] - base_raw["run_start_ms"]), "ratio"),
    })
    spans = [{"name": pipeline, "start": run_span[0], "end": run_span[1], "parent": None}]
    spans += [{"name": "scorer", "start": a, "end": b, "parent": 0} for a, b in raw["fits"]]
    other = sorted({log["jobs"][j]["callsite"].split("\n")[0] for j in run_jobs
                    if attribution[j][0] == "other"})
    detail = {
        "layers": stats, "self_s": {k: v / 1e3 for k, v in analysis.self_times(spans).items()},
        "paths": {p: sum(1 for j in run_jobs if attribution[j][1] == p) for p in ("stack", "sql", "none")},
        "other_callsites": other, "run_jobs": len(run_jobs)}
    return m, detail


def earlier_untraced(work, workload, seed, build_id):
    prefix = os.path.join(work, "runs", "%s-seed%d-trace0-" % (workload, seed))
    for path in sorted(glob.glob(prefix + "*.json"), reverse=True):
        with open(path) as fh:
            rec = json.load(fh)
        if rec.get("build") == build_id and rec["result"]["correct"]:
            return rec["raw"]
    return None


def record_digests(classpath, work, n):
    out = {}
    for w in WORKLOADS:
        if w.startswith("as_"):
            out[w] = run_jvm(classpath, work, ["digest", w, 0, n - 1])
            out[w].update(run_jvm(classpath, work, ["digest", w, HELD_OUT_SEED, HELD_OUT_SEED]))
    with open(os.path.join(BENCH_DIR, "input_digests.json"), "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=int, default=30,
                    help="nominal measured time; each workload's work is fixed (README)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-digests", type=int, metavar="N",
                    help="write the input digests of seeds 0..N-1 and %d to input_digests.json" % HELD_OUT_SEED)
    args = ap.parse_args()
    if args.record_digests is None and (args.workload is None or args.seed is None):
        ap.error("--workload and --seed are required")

    root = os.getcwd()
    for need in ("build.sbt", "src/main/scala/graft/pipelines/ActiveSampling.scala"):
        if not os.path.exists(os.path.join(root, need)):
            fail("run from the root of a checkout of the program: %s is missing" % need)
    work = os.path.join(root, ".bench_build", "perfbench")
    os.makedirs(os.path.join(work, "runs"), exist_ok=True)
    with open(os.path.join(BENCH_DIR, "input_digests.json")) as fh:
        digests = json.load(fh)

    classpath, build_id = build(root, work)
    if args.record_digests is not None:
        record_digests(classpath, work, args.record_digests)
        return
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace, "build": build_id,
              "nproc": os.cpu_count(), "loadavg_before": loadavg()}
    steal0 = steal_s()
    deadline = time.time() + RUN_BUDGET_S
    # a traced run reuses this build's last untraced run of the seed as the
    # base of trace.overhead, so that it usually needs one JVM, not two
    raw = earlier_untraced(work, args.workload, args.seed, build_id) if args.trace else None
    runs = []
    if raw is None:
        raw = run_once(classpath, work, args.workload, args.seed, deadline)
        runs.append(raw)
    metrics, iters = end_to_end(raw)
    record.update(raw=raw, quality=quality(raw), iteration_s=analysis.timing_summary(iters))
    if args.trace:
        logdir = os.path.join(work, "eventlog-%d" % os.getpid())
        os.makedirs(logdir)
        traced = run_once(classpath, work, args.workload, args.seed, deadline, [
            "-Dspark.eventLog.enabled=true", "-Dspark.eventLog.dir=" + logdir,
            "-Dspark.eventLog.compress=false", "-Dspark.eventLog.rolling.enabled=false",
            "-Dspark.callstack.depth=1000"])
        runs.append(traced)
        # one event log per set-up; the pipeline ran in the last session
        log_file = max(glob.glob(os.path.join(logdir, "*")), key=os.path.getmtime)
        with open(log_file) as fh:
            metrics, detail = traced_metrics(traced, raw, fh)
        shutil.rmtree(logdir)
        record.update(traced_raw=traced, trace=detail)
    record["loadavg_after"] = loadavg()
    record["steal_s"] = steal_s() - steal0

    problems = []
    for r in runs:
        problems += r["failures"] + check_repeatable(work, r, digests)
    attempted = sum(r["n_iterations"] for r in runs)
    failed = attempted if problems else 0
    record["problems"] = problems
    result = {"correct": not problems, "attempted": attempted, "failed": failed,
              "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}
    record["result"] = result
    name = "%s-seed%d-trace%d-%d.json" % (args.workload, args.seed, args.trace, int(time.time()))
    with open(os.path.join(work, "runs", name), "w") as fh:
        json.dump(record, fh, indent=1)
    for p in problems:
        print("perfbench: check failed: " + p, file=sys.stderr)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
