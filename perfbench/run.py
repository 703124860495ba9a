#!/usr/bin/env python3
"""Seeded benchmark of the ingest -> ask -> index churn lifecycle.

Run from the repository root:

    python3 perfbench/run.py --workload ask_serve --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1

The first run builds the program and the benchmark from source into
.bench_build/ (sbt, offline); later runs reuse the build while the sources
are unchanged. Each run writes its data, Spark log and record under
.bench_build/ and removes its data when it ends. The last line of standard
output is the result object; the exit code is non-zero if any output check
failed or the program could not be built or run.
"""
import argparse
import hashlib
import json
import os
import pathlib
import shutil
import signal
import subprocess
import sys

ROOT = pathlib.Path.cwd()
BENCH = pathlib.Path(__file__).resolve().parent
BUILD = ROOT / ".bench_build"
WORKLOADS = ["ask_serve", "index_churn"]
# One JVM runs the driver and all local executors. 3 GiB holds every
# workload's data with room to spare on a 4-core, 16 GiB host.
XMX = "3g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
# What spark-submit would pass to a JDK 17 driver.
ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED"
    for p in ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
              "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
              "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    h = hashlib.sha256()
    for base in [ROOT / "src" / "main", BENCH / "src" / "main", BENCH / "build.sbt",
                 BENCH / "project" / "build.properties", BENCH / "log4j2.properties"]:
        files = sorted(p for p in base.rglob("*") if p.is_file()) if base.is_dir() else [base]
        for p in files:
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def git_commit():
    if not (ROOT / ".git").exists():
        return "none"
    r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True)
    return r.stdout.strip() if r.returncode == 0 else "none"


def build(digest):
    """Compiles the program and the benchmark unless the last build matches."""
    classes = BUILD / "sbt-target" / "scala-2.13" / "classes"
    stamp = BUILD / "build.stamp"
    if stamp.exists() and stamp.read_text() == digest and classes.is_dir():
        return classes
    (BUILD / "logs").mkdir(parents=True, exist_ok=True)
    log = BUILD / "logs" / "build.log"
    # offline: every dependency comes from the local caches
    env = dict(os.environ, COURSIER_MODE="offline")
    with open(log, "w") as out:
        try:
            r = subprocess.run(["sbt", "--batch", "-Dsbt.offline=true", "-Dsbt.log.noformat=true",
                                "compile"], cwd=BENCH, env=env, stdout=out,
                               stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S)
        except (OSError, subprocess.TimeoutExpired) as e:
            die(f"build failed ({e}); see {log}")
    if r.returncode != 0:
        sys.stderr.write(log.read_text()[-4000:])
        die(f"build failed; see {log}")
    stamp.write_text(digest)
    return classes


def run_one(classes, workload, args, digest, commit):
    """Runs one workload in its own JVM; returns (exit code, stdout lines)."""
    tag = f"{workload}-seed{args.seed}-trace{args.trace}"
    for d in ["logs", "records", "run"]:
        (BUILD / d).mkdir(parents=True, exist_ok=True)
    work = BUILD / "run" / f"{tag}-{os.getpid()}"
    spark_jars = pathlib.Path(os.environ["SPARK_HOME"]) / "jars"
    cmd = ["java", f"-Xmx{XMX}", *ADD_OPENS,
           f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
           f"-Dperfbench.log={BUILD / 'logs' / (tag + '.log')}",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           "-cp", f"{classes}{os.pathsep}{spark_jars}/*", "perfbench.Main",
           "--workload", workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--work", str(work),
           "--record", str(BUILD / "records" / (tag + ".json")),
           "--commit", commit, "--source", digest]
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        code = proc.returncode
    except subprocess.TimeoutExpired:
        code, out = 124, ""
        print(f"perfbench: {workload} timed out after {RUN_TIMEOUT_S} s", file=sys.stderr)
    finally:
        # also on interruption: never leave the JVM behind
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    return code, out.splitlines()


def main():
    # a terminated run unwinds through run_one's cleanup
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not (ROOT / "src" / "main" / "scala").is_dir():
        die(f"no program sources under {ROOT}/src/main/scala; run from the repository root")
    if "SPARK_HOME" not in os.environ:
        die("SPARK_HOME must name a Spark 4.1 installation")
    digest = source_digest()
    classes = build(digest)
    commit = git_commit()

    if args.workload != "all":
        code, lines = run_one(classes, args.workload, args, digest, commit)
        print("\n".join(lines))
        sys.exit(code)

    # all workloads in sequence: every metric line by name, then one result
    # object over the workloads' own end-to-end metrics
    codes, attempted, failed, correct, metrics, setup = [], 0, 0, True, {}, 0.0
    for w in WORKLOADS:
        code, lines = run_one(classes, w, args, digest, commit)
        print("\n".join(lines[:-1]))
        codes.append(code)
        try:
            res = json.loads(lines[-1])
        except (IndexError, ValueError):
            correct = False
            continue
        correct &= res["correct"]
        attempted += res["attempted"]
        failed += res["failed"]
        for ln in lines:
            if ln.startswith("metric "):
                _, name, value, unit, _n = ln.split()
                if name == "setup_s":
                    setup += float(value)
                elif name != "failed_frac":
                    metrics[name] = {"value": float(value), "unit": unit}
    metrics["setup_s"] = {"value": setup, "unit": "s"}
    metrics["failed_frac"] = {"value": failed / max(1, attempted), "unit": "frac"}
    print(json.dumps({"correct": correct and not any(codes), "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    sys.exit(0 if correct and not any(codes) else 1)


if __name__ == "__main__":
    main()
