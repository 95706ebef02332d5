#!/usr/bin/env python3
"""Closed-loop benchmark of the graft Spark engine.

Run from the repository root:

    python3 perfbench/run.py --workload etl_sf1 --seed 1 --seconds 10 --trace 0

One client runs one face (a `Q` of `SparkEntry.packs`) at a time in a single
JVM on `local[nproc]`: a cold pass, then the workload's number of steady
passes (`steady_passes` in `perfbench/workloads.json`), continued until
`--seconds` have passed. The seed only shuffles the face order within
each pass; the data are the fixed sf0.1 fixture under `perfbench/fixtures`
(etl_sf1 uses its x10 scale-up, generated once into `.bench_build/fixtures`). Each face's output is
checked against its committed digest (`perfbench/expected.json`) on its first
two runs in the JVM, outside the face timings. `perfbench/NOTES.md` explains
the workloads and metrics.

The last stdout line is one JSON object: `correct`, `attempted`, `failed` and
`metrics` (the end-to-end metrics with `--trace 0`, the per-layer metrics of
the traced passes with `--trace 1`). The lines before it print every metric
with its unit and sample count, cores, scale and seed, and the failures.
The program is built from source (sbt, offline) into ignored build
directories on first use and rebuilt when a source file changes.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
BUILD = ROOT / ".bench_build"
HARNESS = BENCH / "harness"
FIXTURE = BENCH / "fixtures" / "sf0.1"
XMX = "4g"
DEADLINE_S = 170     # a run must end within 180 s once the program is built

ADD_OPENS = [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


class BenchError(Exception):
    pass


def cores():
    return len(os.sched_getaffinity(0))


def load_json(path):
    return json.loads(path.read_text())


def sha256(path):
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for block in iter(lambda: f.read(1 << 20), b""):
            h.update(block)
    return h.hexdigest()


# ---------------------------------------------------------------- build

def _build_inputs():
    files = [ROOT / "build.sbt", ROOT / "project" / "build.properties"]
    files += sorted((ROOT / "project").glob("*.sbt")) + sorted((ROOT / "project").glob("*.scala"))
    files += sorted((ROOT / "src" / "main").rglob("*"))
    files += sorted(p for p in HARNESS.rglob("*") if "target" not in p.parts)
    return [p for p in files if p.is_file()]


def build(log):
    """Compile the program and the harness; return the runtime classpath.

    Reuses the previous build while no source file has changed."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main").is_dir():
        raise BenchError("program sources (build.sbt, src/main) not found beside perfbench/")
    h = hashlib.sha256()
    for p in _build_inputs():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    key = h.hexdigest()
    stamp, cp_file = BUILD / "build.stamp", HARNESS / "target" / "classpath.txt"
    if stamp.is_file() and stamp.read_text() == key and cp_file.is_file():
        return cp_file.read_text().strip()
    repos = Path.home() / ".sbt" / "repositories"
    opts = os.environ.get("SBT_OPTS") or " ".join(
        ["-Dsbt.offline=true", "-Xmx2g"] +
        ([f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"]
         if repos.is_file() else []))
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=opts)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                        "harness/compile", "harness/writeClasspath"],
                       cwd=HARNESS, env=env, stdout=log, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL, timeout=850)
    if r.returncode != 0 or not cp_file.is_file():
        raise BenchError(f"build failed (exit {r.returncode}); see {log.name}")
    stamp.write_text(key)
    return cp_file.read_text().strip()


# ------------------------------------------------------------- fixtures

def _check_sums(d, sums):
    return all((d / n).is_file() and sha256(d / n) == s for n, s in sums.items())


def fixture(scale):
    """The fixture directory of a scale and its generation time in seconds
    (0 when an earlier run's copy was reused)."""
    sums = dict(reversed(l.split()) for l in (FIXTURE / "SHA256SUMS").read_text().splitlines())
    if not _check_sums(FIXTURE, sums):
        raise BenchError(f"{FIXTURE} does not match its SHA256SUMS")
    if scale == "sf0.1":
        return FIXTURE, 0.0
    assert scale == "sf1", scale
    out = BUILD / "fixtures" / "sf1"
    manifest = out / "MANIFEST.json"
    gen_key = hashlib.sha256((BENCH / "scale.py").read_bytes() +
                             (FIXTURE / "SHA256SUMS").read_bytes()).hexdigest()
    if manifest.is_file():
        m = json.loads(manifest.read_text())
        if m.get("generator") == gen_key and _check_sums(out, m["files"]):
            return out, 0.0
    sys.path.insert(0, str(BENCH))
    import scale as scaler
    t0 = time.monotonic()
    shutil.rmtree(out, ignore_errors=True)
    scaler.generate(FIXTURE, out, 10)
    files = {p.name: sha256(p) for p in sorted(out.glob("*.parquet"))}
    manifest.write_text(json.dumps({"generator": gen_key, "files": files}, indent=1))
    return out, time.monotonic() - t0


# ------------------------------------------------------------------ JVM

def jvm(cp, work, data, mode, out, log, timeout, **extra):
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    # A fixed heap and young generation: the peak resident set then follows
    # what the program holds rather than when the collector grew the heap.
    # No perf-data file, which the JVM would write outside the checkout.
    cmd = ["java", f"-Xms{XMX}", f"-Xmx{XMX}", "-Xmn1g", "-XX:-UsePerfData", *ADD_OPENS, "-Dspark.ui.enabled=false",
           "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={work}",
           "-cp", cp, "perfbench.Harness", "--mode", mode, "--cores", str(cores()),
           "--work", str(work), "--data", str(data), "--out", str(out)]
    for k, v in extra.items():
        cmd += [f"--{k}", str(v)]
    try:
        r = subprocess.run(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=timeout)
    except subprocess.TimeoutExpired:
        raise BenchError(f"{mode} JVM timed out after {timeout:.0f} s; see {log.name}")
    if r.returncode != 0 or not out.is_file():
        raise BenchError(f"{mode} JVM failed (exit {r.returncode}); see {log.name}")
    return json.loads(out.read_text())


# -------------------------------------------------------------- metrics

def summarize(res, trace, n_faces):
    passes = res["passes"]
    runs = [f for p in passes for f in p["faces"]]
    failed = [f for f in runs if f["failure"]]
    steady = [p for p in passes[1:] if not p["traced"]]
    by_face = {}
    for p in steady:
        for f in p["faces"]:
            if not f["failure"]:
                by_face.setdefault(f["face"], []).append(f["s"])
    lat = [s for v in by_face.values() for s in v]
    e2e = {
        "setup_s": (res["setup_s"], "s", "1 set-up"),
        "cold_pass_s": (passes[0]["seconds"], "s", "1 pass"),
        "pass_s": (statistics.median(p["seconds"] for p in steady), "s",
                   f"{len(steady)} steady passes"),
        # The median over faces of each face's median: with 4-6 faces the
        # median of all runs falls between two faces' clusters, where a
        # single run of either moves it.
        "face_p50_s": (statistics.median(statistics.median(v) for v in by_face.values()), "s",
                       f"{len(by_face)} face medians of {len(lat)} face runs"),
        "face_p90_s": (statistics.quantiles(lat, n=10, method="inclusive")[8], "s",
                       f"{len(lat)} face runs"),
        "fail_frac": (len(failed) / len(runs), "share", f"{len(runs)} face runs"),
        "rss_peak_mb": (res["rss_peak_mb"], "MB", "1 JVM"),
        "scratch_left": (res["scratch_left"], "count", "1 JVM"),
    }
    layers = {}
    if trace:
        tsteady = [l for l in res["layers"] if l["pass"] > 1]
        for k in tsteady[0]:
            if k != "pass":
                layers[k] = statistics.median(l[k] for l in tsteady)
        layers["shuffle.write_mb_per_face"] = layers["shuffle.write_mb"] / n_faces
        layers["codegen.cold_compiles"] = res["layers"][0]["codegen.compiles"]
        traced = [p["seconds"] for p in passes[1:] if p["traced"]]
        layers["pass.traced_s"] = statistics.median(traced)
        layers["trace.overhead_s"] = layers["pass.traced_s"] - e2e["pass_s"][0]
    return e2e, layers, runs, failed


def report(args, faces, scale, res, e2e, layers, failed, gen_s, shape_only, spans):
    n_steady = sum(1 for p in res["passes"][1:])
    print(f"perfbench workload={args.workload} scale={scale} seed={args.seed} "
          f"cores={res['cores']} xmx={XMX} ({res['xmx_mb']} MB max heap) "
          f"passes=1 cold + {n_steady} steady trace={args.trace}")
    print(f"faces ({len(faces)}): {' '.join(faces)}")
    print(f"fixture: {scale}" + (f", generated in {gen_s:.1f} s (not in setup_s)"
                                 if gen_s else ", reused"))
    for name, (v, unit, n) in e2e.items():
        print(f"  {name:<14} {v:>12.4f} {unit:<6} n={n}")
    print("output check: row count, schema and order-insensitive typed hash on each face's "
          "first run, row count and schema on its second; faces without oracle SQL "
          f"(row count and schema only): {' '.join(shape_only) or 'none'}")
    for f in failed:
        print(f"  FAILED pass {f.get('pass', '?')} {f['face']}: {f['failure']}")
    if layers:
        build, plan, ex = (layers["queries.build_s"], layers["plan.sink_s"], layers["exec.s"])
        total = build + plan + ex
        print("layer self time per traced steady pass (median):")
        for name, v in (("queries.build", build), ("plan (sink)", plan), ("exec", ex)):
            print(f"  {name:<16} {v:9.3f} s  {100 * v / total:5.1f}%")
        print("  job wall by call-site module: " + ", ".join(
            f"{k[6:]}={v:.2f}s" for k, v in layers.items() if k.startswith("job_s.") and v))
        print(f"tracing overhead: traced pass {layers['pass.traced_s']:.3f} s vs untraced "
              f"{e2e['pass_s'][0]:.3f} s ({layers['trace.overhead_s']:+.3f} s)")
        print(f"spans: {spans.relative_to(ROOT)}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    workloads = load_json(BENCH / "workloads.json")
    if args.workload not in workloads:
        raise BenchError(f"unknown workload {args.workload}; have {sorted(workloads)}")
    wl = workloads[args.workload]
    faces = wl["faces"]
    scale = wl["scale"]
    BUILD.mkdir(exist_ok=True)
    work = BUILD / "run"
    shutil.rmtree(work, ignore_errors=True)   # every run starts from the same disk state
    work.mkdir(parents=True)
    spans = BUILD / "traces" / f"{args.workload}-seed{args.seed}.jsonl"
    spans.parent.mkdir(exist_ok=True)
    with open(BUILD / f"{args.workload}.log", "w") as log:
        cp = build(log)
        data, gen_s = fixture(scale)
        res = jvm(cp, work, data, "run", work / "result.json", log, DEADLINE_S,
                  faces=",".join(faces), steady=wl["steady_passes"], seed=args.seed,
                  seconds=args.seconds,
                  trace=args.trace, expected=BENCH / "expected.json", scale=scale,
                  src=ROOT / "src" / "main" / "scala" / "graft", spans=spans)
    for p in res["passes"]:
        for f in p["faces"]:
            f["pass"] = p["pass"]
    e2e, layers, runs, failed = summarize(res, args.trace, len(faces))
    expected = load_json(BENCH / "expected.json")[scale]
    shape_only = [f for f in faces if expected.get(f, {}).get("check") == "rows_schema"]
    report(args, faces, scale, res, e2e, layers, failed, gen_s, shape_only, spans)
    bench = load_json(ROOT / "BENCHMARK.json")
    if args.trace:
        wanted = [(m["name"], m["unit"]) for m in bench["per_layer"]]
        metrics = {n: {"value": layers[n], "unit": u} for n, u in wanted}
    else:
        wanted = [(m["name"], m["unit"]) for m in bench["end_to_end"]]
        metrics = {n: {"value": e2e[n][0], "unit": u} for n, u in wanted}
    print(json.dumps({"correct": not failed, "attempted": len(runs), "failed": len(failed),
                      "metrics": metrics}))


if __name__ == "__main__":
    try:
        main()
    except (BenchError, subprocess.SubprocessError, OSError, KeyError, ValueError) as e:
        print(f"perfbench: error: {e}", file=sys.stderr)
        sys.exit(2)
