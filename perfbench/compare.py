#!/usr/bin/env python3
"""Repeat the benchmark and compare sets of runs by its own bounds.

    python3 perfbench/compare.py run --workload loops_and_pairs --seeds 1-10 --out a.json
    python3 perfbench/compare.py summary a.json
    python3 perfbench/compare.py compare a.json b.json
    python3 perfbench/compare.py overhead untraced.json traced.json

`run` calls run.py once per workload and seed (with `run_seconds` from
BENCHMARK.json) and saves every result with its stamp. `summary` prints each
metric's median, quartiles and spread, the quartile distance as a share of
the median. `compare` checks the second set against the first: a metric
regresses when its median is worse by more than its bound, and is unresolved
when either set spreads wider than the bound. Sets taken at different core
counts are refused. `overhead` prints traced against untraced jobs_per_s.
"""

import argparse
import json
import subprocess
import sys
from pathlib import Path

from metrics import quartiles

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
SPEC = json.loads((ROOT / "BENCHMARK.json").read_text())


def seeds(text):
    out = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def cmd_run(args):
    results = []
    for workload in args.workload:
        for seed in seeds(args.seeds):
            cmd = SPEC["command"] + ["--workload", workload, "--seed", str(seed),
                                     "--seconds", str(SPEC["run_seconds"]),
                                     "--trace", str(args.trace)]
            p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or len(lines) < 2:
                sys.exit(f"{workload} seed {seed} failed ({p.returncode}): {p.stderr[-2000:]}")
            info, result = json.loads(lines[-2]), json.loads(lines[-1])
            results.append({"workload": workload, "seed": seed, "trace": args.trace,
                            "stamp": info["stamp"], "detail": info["detail"], "result": result})
            print(f"{workload} seed {seed}: correct={result['correct']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()),
                  flush=True)
            Path(args.out).write_text(json.dumps(results, indent=1))
    summary(results)


def load(path):
    results = json.loads(Path(path).read_text())
    cores = {r["stamp"]["nproc"] for r in results}
    if len(cores) != 1:
        sys.exit(f"{path} mixes runs taken at {sorted(cores)} cores")
    return results, cores.pop()


def by_metric(results):
    """{(workload, metric): [values]} in run order."""
    table = {}
    for r in results:
        for name, m in r["result"]["metrics"].items():
            table.setdefault((r["workload"], name), []).append(m["value"])
    return table


def spread(values):
    q1, med, q3 = quartiles(values)
    return (q3 - q1) / med if med else float("inf")


def summary(results):
    fails = sum(r["result"]["failed"] for r in results)
    print(f"{len(results)} runs, {fails} failed jobs")
    for (workload, name), values in sorted(by_metric(results).items()):
        q1, med, q3 = quartiles(values)
        print(f"  {workload:15s} {name:22s} median {med:12.5g}  q1 {q1:12.5g}  "
              f"q3 {q3:12.5g}  spread {spread(values):6.3f}  n={len(values)}")


def cmd_summary(args):
    summary(load(args.set)[0])


def cmd_compare(args):
    (a, cores_a), (b, cores_b) = load(args.base), load(args.new)
    if cores_a != cores_b:
        sys.exit(f"refusing to compare runs taken at {cores_a} and {cores_b} cores")
    ta, tb = by_metric(a), by_metric(b)
    bad = 0
    for m in SPEC["end_to_end"]:
        for workload in sorted({w for w, _ in ta}):
            key = (workload, m["name"])
            if key not in ta or key not in tb:
                continue
            ma, mb = quartiles(ta[key])[1], quartiles(tb[key])[1]
            worse = (mb - ma) / ma if m["better"] == "lower" else (ma - mb) / ma
            wide = max(spread(ta[key]), spread(tb[key])) > m["bound"]
            if m["name"] == "setup_s":
                wide = False  # set-up is judged on its medians only
            verdict = ("regression" if worse > m["bound"] else
                       "unresolved" if wide else "ok")
            bad += verdict != "ok"
            print(f"{workload:15s} {m['name']:12s} {ma:10.5g} -> {mb:10.5g}  "
                  f"worse by {worse:+.3f} (bound {m['bound']})  "
                  f"spread {spread(ta[key]):.3f}/{spread(tb[key]):.3f}  {verdict}")
    sys.exit(1 if bad else 0)


def cmd_overhead(args):
    (plain, cores_a), (traced, cores_b) = load(args.untraced), load(args.traced)
    if cores_a != cores_b:
        sys.exit(f"refusing to compare runs taken at {cores_a} and {cores_b} cores")
    for workload in sorted({r["workload"] for r in plain}):
        u = [r["result"]["metrics"]["jobs_per_s"]["value"] for r in plain
             if r["workload"] == workload]
        t = [r["detail"]["traced_jobs_per_s"] for r in traced if r["workload"] == workload]
        if u and t:
            mu, mt = quartiles(u)[1], quartiles(t)[1]
            print(f"{workload:15s} jobs_per_s untraced {mu:.4g}  traced {mt:.4g}  "
                  f"overhead {1 - mt / mu:+.3f}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    p = sub.add_parser("run")
    p.add_argument("--workload", action="append", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--out", required=True)
    p.set_defaults(fn=cmd_run)
    p = sub.add_parser("summary")
    p.add_argument("set")
    p.set_defaults(fn=cmd_summary)
    p = sub.add_parser("compare")
    p.add_argument("base")
    p.add_argument("new")
    p.set_defaults(fn=cmd_compare)
    p = sub.add_parser("overhead")
    p.add_argument("untraced")
    p.add_argument("traced")
    p.set_defaults(fn=cmd_overhead)
    args = ap.parse_args()
    args.fn(args)


if __name__ == "__main__":
    main()
