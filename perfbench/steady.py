#!/usr/bin/env python3
"""Steadiness and agreement checks for the benchmark.

Run from the repository root:

    # run a workload once per seed; print each metric's median, quartiles
    # and spread (quartile distance over median) against its bound
    python3 perfbench/steady.py run --workload etl_sf1 --seeds 1-10 --out a.jsonl

    # compare two sets of runs (files written by `run`): for every workload
    # and metric, is the second median worse than the first by more than the
    # bound? Traced runs in the files also give the tracing overhead.
    python3 perfbench/steady.py compare a.jsonl b.jsonl

A spread above a third of its bound is flagged `WIDE`; a spread above the
bound (or a second median worse by more than the bound) is flagged `FAIL`.
`setup_s` spreads are reported but not judged. The end-to-end metrics come
from `--trace 0` runs; `--trace 1` runs record the per-layer metrics.
"""
import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BOUNDS = {m["name"]: m for m in json.loads((ROOT / "BENCHMARK.json").read_text())["end_to_end"]}


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_set(args):
    seconds = args.seconds or json.loads((ROOT / "BENCHMARK.json").read_text())["run_seconds"]
    with open(args.out, "a") as out:
        for seed in seeds(args.seeds):
            t0 = time.monotonic()
            p = subprocess.run([sys.executable, str(BENCH / "run.py"), "--workload", args.workload,
                                "--seed", str(seed), "--seconds", str(seconds),
                                "--trace", str(args.trace)],
                               cwd=ROOT, capture_output=True, text=True)
            wall = time.monotonic() - t0
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or not lines:
                print(f"seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
                sys.exit(1)
            result = json.loads(lines[-1])
            rec = {"workload": args.workload, "seed": seed, "trace": args.trace,
                   "wall_s": wall, "result": result}
            out.write(json.dumps(rec) + "\n")
            out.flush()
            vals = " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()
                            if k in BOUNDS or args.trace)
            print(f"seed {seed}: wall {wall:.1f} s correct={result['correct']} "
                  f"failed={result['failed']}/{result['attempted']} {vals}", flush=True)
    print_spread(load(args.out))


def load(path):
    return [json.loads(l) for l in Path(path).read_text().splitlines() if l.strip()]


def group(records, trace):
    by = {}
    for r in records:
        if r["trace"] == trace:
            for k, v in r["result"]["metrics"].items():
                by.setdefault(r["workload"], {}).setdefault(k, []).append(v["value"])
    return by


def spread(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3, (q3 - q1) / med if med else float("inf")


def print_spread(records):
    for wl, metrics in sorted(group(records, 0).items()):
        walls = [r["wall_s"] for r in records if r["workload"] == wl and r["trace"] == 0]
        print(f"{wl}: {len(walls)} runs, run wall median {statistics.median(walls):.1f} s, "
              f"max {max(walls):.1f} s")
        for k, vs in metrics.items():
            if len(vs) < 2:
                continue
            q1, med, q3, s = spread(vs)
            bound = BOUNDS[k]["bound"]
            flag = "" if k == "setup_s" else \
                "FAIL" if s > bound else "WIDE" if s > bound / 3 else "ok"
            print(f"  {k:<14} median {med:10.4f}  q1 {q1:10.4f}  q3 {q3:10.4f}  "
                  f"spread {s:6.3f} (bound {bound}) {flag}")


def compare(args):
    a, b = load(args.first), load(args.second)
    ga, gb = group(a, 0), group(b, 0)
    for wl in sorted(set(ga) & set(gb)):
        print(wl)
        for k in ga[wl]:
            ma, mb = statistics.median(ga[wl][k]), statistics.median(gb[wl][k])
            bound = BOUNDS[k]["bound"]
            worse = (mb - ma) / ma if BOUNDS[k]["better"] == "lower" else (ma - mb) / ma
            flag = "FAIL" if worse > bound else "ok"
            print(f"  {k:<14} first {ma:10.4f}  second {mb:10.4f}  worse by {worse:+7.3f} "
                  f"(bound {bound}) {flag}")
    for name, recs in (("first", a), ("second", b)):
        for wl, m in sorted(group(recs, 1).items()):
            over = m.get("trace.overhead_s")
            traced = m.get("pass.traced_s")
            if over and traced:
                o = statistics.median(over)
                t = statistics.median(traced)
                print(f"tracing overhead ({name}, {wl}): {o:+.3f} s per pass "
                      f"({100 * o / (t - o):+.1f}% of the untraced pass), {len(over)} runs")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--workload", required=True)
    r.add_argument("--seeds", default="1-10")
    r.add_argument("--seconds", type=int)
    r.add_argument("--trace", type=int, choices=(0, 1), default=0)
    r.add_argument("--out", required=True)
    c = sub.add_parser("compare")
    c.add_argument("first")
    c.add_argument("second")
    args = ap.parse_args()
    run_set(args) if args.cmd == "run" else compare(args)


if __name__ == "__main__":
    main()
