"""Pure functions behind perfbench/run.py: order statistics, iteration
boundaries, span self time, and the attribution of Spark jobs (read from
Spark's JSON event log) to the program's modules. No I/O here, so
test_analysis.py can feed recorded values straight in."""

import json
import math
import re

# Layers reported by the traced run, in report order: the program's modules
# that launch Spark jobs. A job whose call site names no graft frame is
# `other`; one whose only non-Spark frames are the benchmark's own (the
# input generator) is `bench`, and neither counts as attributed.
LAYERS = ["active_sampling", "sde_forecast", "scorer", "kde", "selection",
          "integrate", "sliding_windows", "graft_session"]
LAYER_STATS = ["jobs", "stages", "tasks", "job_wall_s", "task_s", "wait_s",
               "shuffle_write_bytes", "spill_bytes"]

# a stack-trace line: `graft.ml.TreeEnsembleScorer.fit(Scorer.scala:63)`
_FRAME = re.compile(r"^\s*(?:at\s+)?([\w$.]+)\.[\w$<>]+\(([\w$]+)\.(?:scala|java):\d+\)")


# --- order statistics -------------------------------------------------------

def percentile(values, q):
    """The q-th percentile (0..100) by linear interpolation between closest
    ranks (numpy's default)."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * q / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def median(values):
    return percentile(values, 50)


def timing_summary(values):
    """Median, sample count, and the highest of p90/p99 that has at least
    ten samples beyond it (None when there are too few samples)."""
    n = len(values)
    out = {"p50": median(values), "n": n}
    for q in (99, 90):
        if n * (100 - q) / 100.0 >= 10:
            out["p%d" % q] = percentile(values, q)
            break
    return out


# --- iteration boundaries ---------------------------------------------------

def iteration_times(fits, fits_per_iter, run_end):
    """Durations of the pipeline's iterations from the scorer's fit spans
    (start, end).

    With one fit per iteration (ActiveSampling), fit 0 is the init fit and
    each iteration ends with its refit, so the boundaries are the fit
    returns: n+1 fits bound n iterations. With k > 1 fits per iteration
    (SdeForecast fits one model per horizon at the START of each
    iteration), an iteration runs from the start of its first fit to the
    start of the next iteration's first fit, and the last one to the return
    of run()."""
    if fits_per_iter == 1:
        bounds = [end for _, end in fits]
    else:
        if len(fits) % fits_per_iter:
            raise ValueError("%d fits is not a multiple of %d" % (len(fits), fits_per_iter))
        bounds = [fits[i][0] for i in range(0, len(fits), fits_per_iter)] + [run_end]
    return [b - a for a, b in zip(bounds, bounds[1:])]


# --- intervals and spans ----------------------------------------------------

def union(intervals):
    """Merge (start, end) intervals into sorted disjoint ones."""
    out = []
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [tuple(i) for i in out]


def measure(intervals):
    return sum(e - s for s, e in union(intervals))


def clip(intervals, lo, hi):
    return [(max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi]


def self_times(spans):
    """Self time per span name: each span's duration minus the part of it
    covered by its child spans. `spans` are dicts with name, start, end and
    parent (an index into `spans`, or None)."""
    children = {}
    for s in spans:
        if s["parent"] is not None:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for i, s in enumerate(spans):
        covered = measure(clip(children.get(i, []), s["start"], s["end"]))
        out[s["name"]] = out.get(s["name"], 0.0) + (s["end"] - s["start"]) - covered
    return out


# --- job attribution --------------------------------------------------------

def _snake(name):
    return re.sub(r"(?<=[a-z0-9])(?=[A-Z])", "_", name).lower()


def callsite_layer(callsite):
    """Layer of a long-form call site (one stack frame per line, innermost
    first): the module, i.e. the snake-cased source file, of the innermost
    `graft.*` frame. `bench` if only the benchmark's own frames appear,
    None if neither does."""
    bench = False
    for line in (callsite or "").splitlines():
        m = _FRAME.match(line)
        if not m:
            continue
        cls, src = m.groups()
        if cls.startswith("graft."):
            return _snake(src)
        if cls.startswith("perfbench."):
            bench = True
    return "bench" if bench else None


def parse_event_log(lines):
    """Collect what attribution needs from Spark event-log JSON lines."""
    jobs, stages, tasks, sql = {}, set(), [], {}
    for line in lines:
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            infos = ev.get("Stage Infos", [])
            result = max(infos, key=lambda s: s["Stage ID"]) if infos else {}
            props = ev.get("Properties") or {}
            jobs[ev["Job ID"]] = {
                "start": ev["Submission Time"], "end": None,
                "stage_ids": ev.get("Stage IDs", []),
                "callsite": result.get("Details", ""),
                "execution_id": props.get("spark.sql.execution.id"),
                "root_execution_id": props.get("spark.sql.execution.root.id")}
        elif kind == "SparkListenerJobEnd":
            jobs[ev["Job ID"]]["end"] = ev["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            stages.add((info["Stage ID"], info.get("Stage Attempt ID", 0)))
        elif kind == "SparkListenerTaskEnd":
            ti, tm = ev["Task Info"], ev.get("Task Metrics") or {}
            tasks.append({
                "stage": ev["Stage ID"], "start": ti["Launch Time"], "end": ti["Finish Time"],
                "run_ms": tm.get("Executor Run Time", 0),
                "shuffle_write_bytes": (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                "spill_bytes": tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)})
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            sql[str(ev["executionId"])] = ev.get("details", "")
    return {"jobs": jobs, "stages": stages, "tasks": tasks, "sql": sql}


def attribute_jobs(log):
    """job id -> (layer, path). The stack-frame path reads the job's own
    call site; jobs that AQE or a broadcast submits from its own threads
    carry only Spark frames there, so the SQL-execution path reads the call
    site recorded when their SQL execution (or its root) started."""
    out = {}
    for jid, job in log["jobs"].items():
        layer = callsite_layer(job["callsite"])
        path = "stack"
        if layer is None:
            path = "sql"
            for key in (job["execution_id"], job["root_execution_id"]):
                if key is not None and key in log["sql"]:
                    layer = callsite_layer(log["sql"][key])
                    if layer is not None:
                        break
        out[jid] = (layer or "other", path if layer else "none")
    return out


def layer_stats(log, attribution, window):
    """Per-layer counts and times over the jobs submitted inside `window`
    (epoch ms). Times are in seconds."""
    lo, hi = window
    jobs = {j: v for j, v in log["jobs"].items() if lo <= v["start"] <= hi and v["end"]}
    stage_job = {}
    for jid in sorted(jobs):  # a stage runs in the first job that lists it
        for sid in jobs[jid]["stage_ids"]:
            stage_job.setdefault(sid, jid)
    stats = {}
    for jid, job in jobs.items():
        st = stats.setdefault(attribution[jid][0], {
            "jobs": 0, "stages": 0, "tasks": 0, "task_ms": 0, "shuffle_write_bytes": 0,
            "spill_bytes": 0, "job_iv": [], "task_iv": []})
        st["jobs"] += 1
        st["job_iv"].append((job["start"], job["end"]))
    for (sid, _attempt) in log["stages"]:
        if sid in stage_job:
            stats[attribution[stage_job[sid]][0]]["stages"] += 1
    for t in log["tasks"]:
        if t["stage"] not in stage_job:
            continue
        st = stats[attribution[stage_job[t["stage"]]][0]]
        st["tasks"] += 1
        st["task_ms"] += t["run_ms"]
        st["shuffle_write_bytes"] += t["shuffle_write_bytes"]
        st["spill_bytes"] += t["spill_bytes"]
        st["task_iv"].append((t["start"], t["end"]))
    out = {}
    for layer, st in stats.items():
        job_iv = union(st["job_iv"])
        busy = sum(measure(clip(st["task_iv"], s, e)) for s, e in job_iv)
        out[layer] = {
            "jobs": st["jobs"], "stages": st["stages"], "tasks": st["tasks"],
            "job_wall_s": measure(job_iv) / 1e3, "task_s": st["task_ms"] / 1e3,
            "wait_s": (measure(job_iv) - busy) / 1e3,
            "shuffle_write_bytes": st["shuffle_write_bytes"], "spill_bytes": st["spill_bytes"]}
    return out


def jobs_in(log, window):
    lo, hi = window
    return [j for j, v in log["jobs"].items() if lo <= v["start"] <= hi]
