"""Metric arithmetic over the output of one run (see Main.scala `Output`).

Everything here is pure: it takes the decoded JSON the JVM wrote and returns
numbers, so it is unit-tested without a Spark session (test_metrics.py).
Times in that output are epoch milliseconds.
"""

import math
import re
import statistics

TAG = re.compile(r"^pb\.(\d+)\.(build|exec|release)$")


def tail_percentile(n):
    """The percentile reported as the tail: the highest one that leaves at
    least ten samples beyond it, capped at the 90th and never below the
    median (with fewer than 20 samples no tail is resolvable, so the
    median stands in and the sample count says so)."""
    if n < 1:
        raise ValueError("no samples")
    return min(0.9, max(0.5, (n - 10) / n))


def percentile(values, p):
    """Nearest-rank percentile: the smallest sample with at least a share
    `p` of the samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    k = max(1, math.ceil(p * len(xs) - 1e-9))
    return xs[k - 1]


def union_length(intervals):
    """Total length covered by (start, end) intervals; overlaps count once."""
    total, cur_start, cur_end = 0.0, None, None
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if cur_end is None or s > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = s, e
        else:
            cur_end = max(cur_end, e)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_time(span, children):
    """A span's duration minus the part of it its children cover. Children
    are clipped to the span, so a child that overruns it (Spark event times
    are whole milliseconds) cannot push self time below zero."""
    s, e = span
    clipped = [(max(s, cs), min(e, ce)) for cs, ce in children]
    return (e - s) - union_length(clipped)


def job_phase(tags):
    """(request id, phase) of a Spark job from its tags, or None when the
    job carries no request tag. A job fired inside nested tagged calls
    carries several; the innermost (the phase that started last) is the
    one that ran it, and phases run in build, exec, release order."""
    found = [(int(m.group(1)), m.group(2)) for m in map(TAG.match, tags) if m]
    if not found:
        return None
    order = {"build": 0, "exec": 1, "release": 2}
    return max(found, key=lambda rp: order[rp[1]])


def idle_frac(task_wall_s, cores, wall_s):
    """Share of the cores' time in the wall interval that ran no task."""
    return 1.0 - task_wall_s / (cores * wall_s)


def heaviest_stage(stages):
    """(task count, largest task's share of the stage CPU) of the stage with
    the most CPU among `stages`, or None when no stage used CPU."""
    busy = [s for s in stages if s["cpuNs"] > 0]
    if not busy:
        return None
    top = max(busy, key=lambda s: s["cpuNs"])
    return top["attempts"], top["maxTaskCpuNs"] / top["cpuNs"]


def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(n=4) gives them."""
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


# -- one run ---------------------------------------------------------------

def check_rows(requests, expected):
    """Failed jobs: those that threw or returned the wrong row count."""
    failures = []
    for r in requests:
        want = expected[r["query"]]
        if r.get("error"):
            failures.append({"id": r["id"], "kind": r["kind"], "query": r["query"],
                             "error": r["error"], "message": r.get("message")})
        elif r["rows"] != want:
            failures.append({"id": r["id"], "kind": r["kind"], "query": r["query"],
                             "error": "WrongRowCount",
                             "message": f"{r['rows']} rows, expected {want}"})
    return failures


def window_requests(out):
    return [r for r in out["requests"] if r["kind"] == "window"]


def run_detail(out):
    return {"window_jobs": len(window_requests(out)),
            "window_s": (out["windowEndMs"] - out["windowStartMs"]) / 1e3,
            "setup_cycles_s": out["setupS"], "warmup_s": out["warmupS"],
            "jvm_s": out["jvmS"]}


def end_to_end(out):
    """The user-visible metrics of one untraced run, plus the details a
    reader needs to trust them (sample count, percentile used)."""
    reqs = window_requests(out)
    lat = [(r["endMs"] - r["startMs"]) / 1e3 for r in reqs]
    wall_s = (out["windowEndMs"] - out["windowStartMs"]) / 1e3
    p = tail_percentile(len(lat))
    metrics = {
        "jobs_per_s": (len(reqs), "1/s", len(reqs) / wall_s),
        "job_p50_s": (len(reqs), "s", percentile(lat, 0.5)),
        "job_p90_s": (len(reqs), "s", percentile(lat, p)),
        "setup_s": (len(out["setupS"]), "s", statistics.median(out["setupS"])),
        "peak_rss_mb": (1, "MB", out["peakRssKb"] / 1024.0),
    }
    detail = dict(run_detail(out), tail_percentile=p)
    return {k: {"value": v, "unit": u} for k, (_, u, v) in metrics.items()}, detail


def spans(out):
    """The trace of the timed window: one `request` span per job with its
    `build`, `exec` and `release` children, the tagged Spark jobs under
    those, and the planning phases of each tagged query execution."""
    rec = out["recorder"]
    result = []
    for r in window_requests(out):
        rid = r["id"]
        result.append({"id": f"{rid}", "name": "request", "parent": None,
                       "request": rid, "start": r["startMs"], "end": r["endMs"]})
        for name, s, e in (("build", r["startMs"], r["buildEndMs"]),
                           ("exec", r["buildEndMs"], r["execEndMs"]),
                           ("release", r["execEndMs"], r["endMs"])):
            result.append({"id": f"{rid}.{name}", "name": name, "parent": f"{rid}",
                           "request": rid, "start": s, "end": e})
    known = {s["id"] for s in result}
    for j in rec["jobs"]:
        rp = job_phase(j["tags"])
        if rp and f"{rp[0]}.{rp[1]}" in known and j.get("endMs") is not None:
            result.append({"id": f"job{j['id']}", "name": "job",
                           "parent": f"{rp[0]}.{rp[1]}", "request": rp[0],
                           "start": float(j["submitMs"]), "end": float(j["endMs"])})
    for pl in rec["plans"]:
        rp = job_phase(pl["tags"])
        if rp and f"{rp[0]}.{rp[1]}" in known:
            for phase, (s, e) in sorted(pl["phases"].items()):
                result.append({"id": f"plan{pl['executionId']}.{phase}",
                               "name": f"plan.{phase}", "parent": f"{rp[0]}.{rp[1]}",
                               "request": rp[0], "start": float(s), "end": float(e)})
    return result


def self_times(span_list):
    """Self time of every span, in ms, keyed by span id."""
    kids = {}
    for s in span_list:
        kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    return {s["id"]: self_time((s["start"], s["end"]), kids.get(s["id"], []))
            for s in span_list}


def span_check(span_list, selfs):
    """Largest gap, in ms, between a request span's wall time and the sum
    of its self time and the time its children cover."""
    kids = {}
    for s in span_list:
        kids.setdefault(s["parent"], []).append(s)
    worst = 0.0
    for s in span_list:
        if s["name"] != "request":
            continue
        covered = union_length([(max(s["start"], c["start"]), min(s["end"], c["end"]))
                                for c in kids.get(s["id"], [])])
        worst = max(worst, abs(selfs[s["id"]] + covered - (s["end"] - s["start"])))
    return worst


def per_layer(out, cores):
    """Per-layer metrics of one traced run: means per job of the timed
    window unless the name says otherwise."""
    reqs = window_requests(out)
    n = len(reqs)
    ids = {r["id"] for r in reqs}
    rec = out["recorder"]
    wall_s = (out["windowEndMs"] - out["windowStartMs"]) / 1e3

    job_of = {}
    untagged = 0
    for j in rec["jobs"]:
        rp = job_phase(j["tags"])
        if rp is None:
            untagged += 1
        elif rp[0] in ids:
            job_of[j["id"]] = rp
    stages = [s for s in rec["stages"] if s["job"] in job_of]
    by_req = {}
    for s in stages:
        by_req.setdefault(job_of[s["job"]][0], []).append(s)

    def per_job(total):
        return total / n

    def stage_sum(key, phase=None):
        return sum(s[key] for s in stages if phase is None or job_of[s["job"]][1] == phase)

    first_launch = {}
    for s in stages:
        if s["firstLaunchMs"] is not None:
            first_launch[s["job"]] = min(first_launch.get(s["job"], math.inf), s["firstLaunchMs"])
    waits = [(first_launch[j["id"]] - j["submitMs"]) / 1e3
             for j in rec["jobs"] if j["id"] in first_launch]

    heavy = [h for h in (heaviest_stage(by_req.get(r["id"], [])) for r in reqs) if h]
    attempts = stage_sum("attempts")

    plan_s = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    for pl in rec["plans"]:
        rp = job_phase(pl["tags"])
        if rp and rp[0] in ids:
            for phase, (s, e) in pl["phases"].items():
                if phase in plan_s:
                    plan_s[phase] += (e - s) / 1e3

    sp = spans(out)
    selfs = self_times(sp)
    self_by_name = {}
    for s in sp:
        self_by_name[s["name"]] = self_by_name.get(s["name"], 0.0) + selfs[s["id"]] / 1e3

    c0, c1 = out["codegenAtStart"], out["codegenAtEnd"]
    values = {
        "sched.wait_s": ("s", statistics.fmean(waits) if waits else 0.0),
        "sched.idle_frac": ("frac", idle_frac(stage_sum("wallMs") / 1e3, cores, wall_s)),
        "build.s": ("s", per_job(sum(r["buildEndMs"] - r["startMs"] for r in reqs) / 1e3)),
        "build.jobs": ("count", per_job(sum(1 for rp in job_of.values() if rp[1] == "build"))),
        "plan.analysis_s": ("s", per_job(plan_s["analysis"])),
        "plan.optimization_s": ("s", per_job(plan_s["optimization"])),
        "plan.planning_s": ("s", per_job(plan_s["planning"])),
        "codegen.compiles": ("count", per_job(c1["compiles"] - c0["compiles"])),
        "codegen.compile_s": ("s", per_job((c1["compileNs"] - c0["compileNs"]) / 1e9)),
        "exec.s": ("s", per_job(sum(r["execEndMs"] - r["buildEndMs"] for r in reqs) / 1e3)),
        "exec.jobs": ("count", per_job(sum(1 for rp in job_of.values() if rp[1] == "exec"))),
        "exec.stages": ("count", per_job(sum(1 for s in stages
                                             if job_of[s["job"]][1] == "exec" and s["attempts"]))),
        "exec.tasks": ("count", per_job(stage_sum("attempts", "exec"))),
        "task.cpu_s": ("s", per_job(stage_sum("cpuNs") / 1e9)),
        "task.wall_s": ("s", per_job(stage_sum("wallMs") / 1e3)),
        "task.gc_s": ("s", per_job(stage_sum("gcMs") / 1e3)),
        "task.failed_frac": ("frac", stage_sum("failed") / attempts if attempts else 0.0),
        "stage.heaviest_tasks": ("count", statistics.fmean(h[0] for h in heavy) if heavy else 0.0),
        "stage.max_task_share": ("frac", statistics.fmean(h[1] for h in heavy) if heavy else 0.0),
        "shuffle.write_bytes": ("bytes", per_job(stage_sum("shuffleWriteBytes"))),
        "shuffle.read_bytes": ("bytes", per_job(stage_sum("shuffleReadBytes"))),
        "shuffle.fetch_wait_s": ("s", per_job(stage_sum("fetchWaitMs") / 1e3)),
        "spill.disk_bytes": ("bytes", per_job(stage_sum("spillDiskBytes"))),
        "spill.mem_bytes": ("bytes", per_job(stage_sum("spillMemBytes"))),
        "scan.bytes": ("bytes", per_job(stage_sum("scanBytes"))),
        "scan.rows": ("count", per_job(stage_sum("scanRows"))),
        "release.s": ("s", per_job(sum(r["endMs"] - r["execEndMs"] for r in reqs) / 1e3)),
        "release.hooks": ("count", per_job(sum(r["hooks"] for r in reqs))),
        "storage.peak_mb": ("MB", rec["storagePeakBytes"] / 2**20),
        "jvm.gc_s": ("s", per_job(sum(r["gcMs"] for r in reqs) / 1e3)),
        "self.build_s": ("s", per_job(self_by_name.get("build", 0.0))),
        "self.exec_s": ("s", per_job(self_by_name.get("exec", 0.0))),
        "trace.untagged_jobs": ("count", float(untagged)),
    }
    detail = dict(run_detail(out), spans=len(sp), span_check_ms=span_check(sp, selfs),
                  traced_jobs_per_s=n / wall_s,
                  untagged_plans=sum(1 for pl in rec["plans"] if job_phase(pl["tags"]) is None))
    return {k: {"value": v, "unit": u} for k, (u, v) in values.items()}, detail, sp
