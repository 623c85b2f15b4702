#!/usr/bin/env python3
"""Benchmark of the graft engine as its users run it.

    python3 perfbench/run.py --workload eclipse_jobs --seed 1 --seconds 16 --trace 0

Run from the repository root. Builds the engine and the benchmark program
from source (sbt, first run only), writes a copy of the sf0.1 tables with
rows in a seeded order, runs one workload for `--seconds`, checks every
job's row count and prints one JSON line last. `--trace 0` reports the end-to-end
metrics, `--trace 1` the per-layer ones. See README.md.
"""

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

import metrics

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = HERE / ".work"
DATA = HERE / "data" / "sf0.1"

ECLIPSE_APPS = ["word_count", "inverted_index", "col_agg"]

# name -> closed-loop clients, the queries each client cycles through and
# the seconds of untimed warm-up before the window. Concurrent clients get
# half the cores: with one client per core the JIT's compiler threads
# compete with the load, and job times still fall a minute into the run.
WORKLOADS = {
    "eclipse_jobs": {
        "clients": "nproc/2",
        "queries": ECLIPSE_APPS + ["q1_pricing", "q3_topk", "q5_region", "join_semi",
                                   "window_topn", "events_hourly", "sessionize"],
        "warmup_s": 36,
    },
    "loops_and_pairs": {
        "clients": 1,
        "queries": ["katz", "cos_near_pairs"],
        "warmup_s": 24,
    },
}

# Row counts of each query's result on the sf0.1 tables in data/ (the
# `rows` of tools/bench_full.json). Row order does not change them.
EXPECTED_ROWS = {
    "word_count": 31, "inverted_index": 116231, "col_agg": 1, "q1_pricing": 6,
    "q3_topk": 10, "q5_region": 5, "join_semi": 5, "window_topn": 44953,
    "events_hourly": 3600, "sessionize": 1500, "katz": 15999, "cos_near_pairs": 14,
}

# each set-up starts a session and runs this job through it
SETUP_QUERY = "word_count"
SETUPS = 3
# fixed heap (initial = max), so GC and peak RSS do not depend on how far
# the heap happened to grow in a run
HEAP = "4g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def nproc():
    return len(os.sched_getaffinity(0))


def run_bounded(cmd, cwd, log, timeout):
    """Runs `cmd` in its own process group with output to `log`; kills the
    whole group if it outlives `timeout`. Returns the exit code."""
    with open(log, "wb") as f:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=f, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None


def source_digest():
    """Digest of everything the build reads from the repository."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties",
             HERE / "build.sbt", HERE / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", HERE / "src"):
        files += sorted(p for p in base.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def classpath(deadline):
    """Compiles the engine and the benchmark program once per source digest and
    returns the runtime classpath."""
    digest = source_digest()
    stamp, cp_file = WORK / "build.digest", WORK / "classpath.txt"
    if stamp.exists() and cp_file.exists() and stamp.read_text() == digest:
        return cp_file.read_text().strip(), digest
    log = WORK / "build.log"
    rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                      "export Runtime/fullClasspath"], HERE, log,
                     max(1, deadline - time.monotonic()))
    lines = [l for l in log.read_text(errors="replace").splitlines()
             if l and not l.startswith("[")]
    if rc != 0 or not lines:
        fail(f"build failed (exit {rc}); see {log}")
    cp_file.write_text(lines[-1])
    stamp.write_text(digest)
    return lines[-1], digest


def relayout(seed):
    """Copies every table with its rows in a seeded order. Schema, row
    groups and codec stay those of the source file, so the engine reads
    the same logical table; only the physical row order differs."""
    out = WORK / "data" / f"seed-{seed}"
    if (out / "DONE").exists():
        return out
    if (WORK / "data").exists():
        shutil.rmtree(WORK / "data")
    out.mkdir(parents=True)
    rng = np.random.default_rng(seed)
    for src in sorted(DATA.glob("*.parquet")):
        f = pq.ParquetFile(src)
        group = f.metadata.row_group(0)
        table = f.read()
        pq.write_table(table.take(rng.permutation(table.num_rows)), out / src.name,
                       compression=group.column(0).compression,
                       row_group_size=group.num_rows)
    (out / "DONE").write_text("")
    return out


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    start = time.monotonic()
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail(f"no engine sources next to {HERE.name}/ (expected build.sbt and src/main/scala/graft)")
    if not all((DATA / f"{t}.parquet").is_file() for t in ("lineitem", "documents", "events")):
        fail(f"missing tables under {DATA}")
    WORK.mkdir(exist_ok=True)
    cp, digest = classpath(start + BUILD_TIMEOUT_S)

    run_start = time.monotonic()
    t0 = time.perf_counter()
    data = relayout(args.seed)
    relayout_s = time.perf_counter() - t0

    w = WORKLOADS[args.workload]
    cores = nproc()
    clients = max(1, cores // 2) if w["clients"] == "nproc/2" else w["clients"]
    tmp = WORK / "tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    out_file = WORK / f"out-{args.workload}-{args.seed}-{args.trace}.json"
    out_file.unlink(missing_ok=True)
    java = str(Path(os.environ["JAVA_HOME"]) / "bin" / "java") if "JAVA_HOME" in os.environ else "java"
    cmd = [java, f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
           "-Dspark.ui.enabled=false"]
    cmd += [f"--add-opens={m}=ALL-UNNAMED" for m in JDK17_OPENS]
    cmd += ["-cp", cp, "perfbench.Main",
            "--queries", ",".join(w["queries"]), "--clients", str(clients),
            "--cores", str(cores), "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--warmup-seconds", str(w["warmup_s"]),
            "--trace", str(args.trace), "--data", str(data), "--out", str(out_file),
            "--setup-query", SETUP_QUERY, "--setups", str(SETUPS)]
    rc = run_bounded(cmd, ROOT, WORK / "jvm.log", RUN_TIMEOUT_S - (time.monotonic() - run_start))
    shutil.rmtree(tmp, ignore_errors=True)
    if rc != 0 or not out_file.exists():
        fail(f"benchmark program failed (exit {rc}); see {WORK / 'jvm.log'}")
    out = json.loads(out_file.read_text())

    failures = metrics.check_rows(out["requests"], EXPECTED_ROWS)
    stamp = dict(out["stamp"], nproc=cores, workload=args.workload, seed=args.seed,
                 seconds=args.seconds, trace=args.trace, commit=git_commit(),
                 source_digest=digest[:16])
    if args.trace:
        values, detail, span_list = metrics.per_layer(out, cores)
        (WORK / f"trace-{args.workload}-{args.seed}.json").write_text(json.dumps(span_list))
    else:
        values, detail = metrics.end_to_end(out)
    detail.update(relayout_s=relayout_s, failed_jobs=failures)
    print(json.dumps({"stamp": stamp, "detail": detail}))
    print(json.dumps({"correct": not failures, "attempted": len(out["requests"]),
                      "failed": len(failures), "metrics": values}))


if __name__ == "__main__":
    main()
