#!/usr/bin/env python3
"""Validate-path and job-heavy-suite benchmark of the graft engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --smoke
    python3 perfbench/run.py --pin

The first form builds the engine and the harness from source (once per
source state, into $CARGO_TARGET_DIR or .bench_build), runs one workload
in one JVM and prints one JSON result line as the last line of stdout.
Everything else the run says goes to stderr; its full record (and, for a
traced run, its spans) is written under <build dir>/records.

--smoke runs every workload once on tiny inputs, traced and untraced,
and checks that every metric named in BENCHMARK.json is printed with its
unit and that the output gate passed.

--pin recomputes the suite's pinned outputs (row count and digest per
query and input variant) into perfbench/suite_pins.json.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
PINS = os.path.join(HERE, "suite_pins.json")
WORKLOADS = ["batch-coarse", "batch-fine-resume", "suite-jobheavy"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
# the engine's own build passes these to every JVM that creates a
# SparkSession outside spark-submit (JDK 17 module access)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file whose content decides the build."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for d in (os.path.join(ROOT, "project"), os.path.join(HERE, "project")):
        if os.path.isdir(d):
            files += [os.path.join(d, f) for f in sorted(os.listdir(d))
                      if f.endswith((".sbt", ".properties", ".scala"))]
    for r in roots:
        for dirpath, dirnames, filenames in os.walk(r):
            dirnames.sort()
            files += [os.path.join(dirpath, f) for f in sorted(filenames)]
    return files


def source_stamp():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles engine and harness; returns the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log("engine sources not found: run from the root of a checkout")
        sys.exit(2)
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true",
            f"-Djava.io.tmpdir={tmp}"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
    log("building engine and harness with sbt")
    t0 = time.time()
    try:
        p = subprocess.run(["sbt", "--batch", *opts, "export perfbench/Runtime/fullClasspath"],
                           cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                           stderr=sys.stderr, text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        log("build timed out")
        sys.exit(1)
    lines = [l.strip() for l in p.stdout.splitlines()]
    cps = [l for l in lines if "scala-library" in l and not l.startswith("[")]
    if p.returncode != 0 or not cps:
        sys.stderr.write(p.stdout)
        log(f"build failed (exit {p.returncode})")
        sys.exit(1)
    log(f"build took {time.time() - t0:.1f} s")
    with open(cp_file, "w") as f:
        f.write(cps[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cps[-1]


def nproc():
    return len(os.sched_getaffinity(0)) if hasattr(os, "sched_getaffinity") else os.cpu_count()


def run_jvm(cp, workload, seed, seconds, trace, scale="full", pin_out=None):
    """Runs one workload; returns the parsed result line, or None."""
    tag = f"{workload}-{scale}-seed{seed}-trace{trace}"
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # C1 only: a run is one short-lived JVM on few cores, and with C2 the
    # JIT keeps recompiling through the whole run on the cores the tasks
    # use, so op times drift down for as long as the run lasts
    cmd = ["java", "-Xmx3g", "-XX:TieredStopAtLevel=1", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Run",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--scale", scale, "--cpus", str(nproc()),
            "--work", os.path.join(BUILD, "work", workload),
            "--record", os.path.join(BUILD, "records", f"{tag}.json"),
            "--pins", PINS]
    if pin_out:
        cmd += ["--pin-out", pin_out]
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        log(f"{tag}: timed out after {RUN_TIMEOUT_S} s")
        return None
    lines = out.splitlines()
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    if proc.returncode != 0 or not lines:
        log(f"{tag}: exit {proc.returncode}")
        return None
    try:
        res = json.loads(lines[-1])
    except ValueError:
        log(f"{tag}: last line is not a result: {lines[-1]!r}")
        return None
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        log(f"{tag}: malformed result")
        return None
    return res


def benchmark_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def smoke(cp):
    spec = benchmark_spec()
    problems = []
    for w in [w["name"] for w in spec["workloads"]]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res = run_jvm(cp, w, seed=1, seconds=1, trace=trace, scale="smoke")
            if res is None:
                problems.append(f"{w} trace={trace}: no result")
                continue
            if not res["correct"] or res["failed"]:
                problems.append(f"{w} trace={trace}: output gate failed")
            for m in spec[key]:
                got = res["metrics"].get(m["name"])
                if got is None or got.get("unit") != m["unit"] \
                        or not isinstance(got.get("value"), (int, float)):
                    problems.append(f"{w} trace={trace}: metric {m['name']} missing or wrong unit")
            log(f"smoke {w} trace={trace}: {len(res['metrics'])} metrics, "
                f"correct={res['correct']} attempted={res['attempted']}")
    for p in problems:
        log(p)
    print(json.dumps({"smoke": "ok" if not problems else "failed", "problems": problems}))
    return 0 if not problems else 1


def pin(cp):
    pins = {}
    for scale, variants in (("full", range(4)), ("smoke", [1])):
        for v in variants:
            out = os.path.join(BUILD, f"pins-{scale}-{v}.json")
            res = run_jvm(cp, "suite-jobheavy", seed=v, seconds=1, trace=0, scale=scale, pin_out=out)
            if res is None:
                return 1
            with open(out) as f:
                pins.update(json.load(f))
    with open(PINS, "w") as f:
        json.dump(dict(sorted(pins.items())), f, indent=1)
        f.write("\n")
    log(f"wrote {len(pins)} pins to {PINS}")
    return 0


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--pin", action="store_true")
    a = ap.parse_args()
    if not (a.smoke or a.pin or a.workload):
        ap.error("give --workload, --smoke or --pin")
    cp = build()
    if a.smoke:
        return smoke(cp)
    if a.pin:
        return pin(cp)
    res = run_jvm(cp, a.workload, a.seed, a.seconds, a.trace)
    if res is None:
        return 1
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
