#!/usr/bin/env python3
"""Session benchmark for the graft engine.

Runs one workload and prints, as the last line of standard output, one JSON
object with the keys correct, attempted, failed and metrics:

    python3 sessionbench/run.py --workload cleaning_session --seed 1 \
        --seconds 1 --trace 0

--trace 0 prints the end-to-end metrics, --trace 1 the per-layer metrics of
a traced run. The first run in a checkout builds the engine and the
benchmark from source with sbt; later runs reuse the build while the sources
are unchanged. Everything the benchmark writes stays under
sessionbench/target/.

    python3 sessionbench/run.py --steadiness [--runs 5] [--sets 1]

runs every workload --runs times on distinct seeds (--sets times over) and
prints each end-to-end metric's spread against its bound in BENCHMARK.json.
"""

import argparse
import hashlib
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TARGET = os.path.join(HERE, "target")
OUT = os.path.join(TARGET, "run")
STAMP = os.path.join(TARGET, "build.stamp")
CLASSPATH = os.path.join(TARGET, "classpath.txt")
WORKLOADS = ["cleaning_session", "curation_funnel"]
RUN_TIMEOUT_S = 175
BUILD_TIMEOUT_S = 850

# Spark 4 on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"sessionbench: {msg}", file=sys.stderr)
    sys.exit(2)


def build_inputs():
    """Files whose content decides the build: both builds' sources."""
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in sorted(os.walk(top)):
            for f in sorted(files):
                yield os.path.join(d, f)
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        yield os.path.join(ROOT, f)
        yield os.path.join(HERE, f)


def build():
    """Compiles engine and benchmark; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"engine sources not found under {ROOT}/src; run from a "
             "checkout of the repository")
    h = hashlib.sha256()
    for p in build_inputs():
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    stamp = h.hexdigest()
    if os.path.isfile(STAMP) and os.path.isfile(CLASSPATH):
        with open(STAMP) as f:
            if f.read().strip() == stamp:
                with open(CLASSPATH) as c:
                    return c.read().strip()
    os.makedirs(TARGET, exist_ok=True)
    print("sessionbench: building engine and benchmark with sbt",
          file=sys.stderr)
    try:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export Runtime/fullClasspath"],
            cwd=HERE, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
            timeout=BUILD_TIMEOUT_S)
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "[" in lines[-1][:1]:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        fail(f"build failed (sbt exit {p.returncode})")
    cp = lines[-1].strip()
    with open(CLASSPATH, "w") as f:
        f.write(cp + "\n")
    with open(STAMP, "w") as f:
        f.write(stamp + "\n")
    return cp


def heap():
    """Half the memory, clamped to 2-4 GB."""
    try:
        with open("/proc/meminfo") as f:
            kb = int(next(l for l in f if l.startswith("MemTotal:")).split()[1])
        return max(2, min(4, kb // (2 * 1024 * 1024)))
    except (OSError, StopIteration, ValueError):
        return 4


def run(workload, seed, seconds, trace, scale="full"):
    """Runs one workload in its own JVM; returns (exit code, result)."""
    cp = build()
    tmp = os.path.join(OUT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{heap()}g"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}",
            "-Dlog4j2.configurationFile=" +
            os.path.join(HERE, "log4j2.properties"),
            "-cp", cp, "graftbench.Main",
            "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace),
            "--out", OUT, "--scale", scale]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        print(f"sessionbench: {workload} exceeded {RUN_TIMEOUT_S}s",
              file=sys.stderr)
        return 1, None
    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l)
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        return proc.returncode or 1, None
    return proc.returncode, result


def quartile_spread(values):
    """(Q3 - Q1) / median, with quartiles as statistics.quantiles gives."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / med if med else float("inf")


def steadiness(runs, sets, first_seed, seconds, workloads):
    """Runs each workload on `runs` seeds per set and prints each metric's
    quartile spread and the shift of its median between sets, against the
    bounds of BENCHMARK.json."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    seconds = seconds or spec["run_seconds"]
    bounds = {m["name"]: m for m in spec["end_to_end"]}
    report = {}
    ok = True
    for w in workloads:
        per_set = []
        digests = {}
        for s in range(sets):
            values = {}
            for i in range(runs):
                seed = first_seed + i
                code, res = run(w, seed, seconds, 0)
                if code != 0 or not res or not res["correct"]:
                    print(f"{w} seed {seed}: failed run {res}")
                    ok = False
                    continue
                for name, m in res["metrics"].items():
                    values.setdefault(name, []).append(m["value"])
                rec = os.path.join(OUT, f"{w}-seed{seed}-trace0.json")
                with open(rec) as f:
                    d = json.load(f)["input_digest"]
                if digests.setdefault(seed, d) != d:
                    print(f"{w} seed {seed}: input digest changed")
                    ok = False
            per_set.append(values)
        if len(set(digests.values())) != len(digests):
            print(f"{w}: two seeds gave the same inputs")
            ok = False
        report[w] = {}
        print(f"\n{w}: {runs} seeds x {sets} set(s)")
        print(f"  {'metric':16} {'median':>12} {'spread':>8} {'bound':>6}"
              f" {'shift':>8}")
        for name, b in bounds.items():
            meds, spreads = [], []
            for values in per_set:
                v = values.get(name, [])
                if len(v) < 2:
                    continue
                meds.append(statistics.median(v))
                spreads.append(quartile_spread(v))
            if not meds:
                continue
            sign = 1 if b["better"] == "lower" else -1
            shift = (sign * (meds[-1] - meds[0]) / meds[0]) if meds[0] else 0
            spread = max(spreads)
            verdict = "ok"
            if name != "setup_s" and spread > b["bound"]:
                verdict = "SPREAD"
            if shift > b["bound"]:
                verdict = "SHIFT"
            ok = ok and verdict == "ok"
            report[w][name] = {"medians": meds, "spreads": spreads,
                               "bound": b["bound"], "shift": shift}
            print(f"  {name:16} {meds[0]:12.5g} {spread:8.4f} {b['bound']:6.3f}"
                  f" {shift:8.4f}  {verdict}")
    os.makedirs(OUT, exist_ok=True)
    with open(os.path.join(OUT, "steadiness.json"), "w") as f:
        json.dump(report, f, indent=1)
    return 0 if ok else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "small"], default="full")
    ap.add_argument("--steadiness", action="store_true")
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--workloads", default=",".join(WORKLOADS))
    a = ap.parse_args()
    if a.steadiness:
        sys.exit(steadiness(a.runs, a.sets, a.seed, a.seconds,
                            a.workloads.split(",")))
    if not a.workload:
        ap.error("--workload is required")
    code, result = run(a.workload, a.seed, a.seconds or 1, a.trace, a.scale)
    if result is None:
        sys.exit(code or 1)
    print(json.dumps(result))
    sys.exit(code)


if __name__ == "__main__":
    main()
