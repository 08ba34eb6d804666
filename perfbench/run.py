#!/usr/bin/env python3
"""Run one benchmark workload against the engine in this checkout.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the harness and the engine from source with sbt on first use (the
build is cached under perfbench/target, keyed by a hash of every source and
build file), runs one JVM, and prints the run's metrics as
`<name> <value> <unit>` lines. The last line of standard output is one JSON
object with `correct`, `attempted`, `failed` and `metrics`: the end-to-end
metrics named in BENCHMARK.json, or with `--trace 1` its per-layer metrics.
Scratch files, spans and the JVM log of the last run of each workload stay
in perfbench/work/<workload>/.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
WORKLOADS = ("ingest_saturate", "serve_mixed", "crawl_cycle")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
JVM_HEAP = "2g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_digest():
    h = hashlib.sha256()
    files = [os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties"),
             os.path.join(ROOT, "build.sbt")]
    for top in (ENGINE_SRC, os.path.join(HERE, "src", "main", "scala")):
        for dirpath, dirnames, filenames in os.walk(top):
            dirnames.sort()
            files += [os.path.join(dirpath, f) for f in sorted(filenames)
                      if f.endswith((".scala", ".java"))]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt when sources changed; return the runtime classpath."""
    stamp = os.path.join(HERE, "target", "perfbench-classpath.txt")
    digest = source_digest()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            lines = fh.read().splitlines()
        if len(lines) == 2 and lines[0] == digest:
            return lines[1]
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx3g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    try:
        p = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
             "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT, text=True, timeout=BUILD_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    except FileNotFoundError:
        fail("sbt is not on PATH")
    cps = [l.strip() for l in p.stdout.splitlines()
           if l.strip().startswith("/") and ".jar" in l]
    if p.returncode != 0 or not cps:
        sys.stderr.write(p.stdout[-8000:])
        fail("build failed")
    os.makedirs(os.path.dirname(stamp), exist_ok=True)
    with open(stamp, "w") as fh:
        fh.write(digest + "\n" + cps[-1] + "\n")
    return cps[-1]


def run_jvm(cp, args, work):
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
    cmd = [java, *opens, f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}",
           f"-Djava.io.tmpdir={tmp}", "-cp", cp, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--launched-ms", "%.3f" % (time.time() * 1000.0)]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                                stdout=subprocess.PIPE, stderr=log, text=True,
                                start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"run exceeded {RUN_TIMEOUT_S} s; see {work}/jvm.log")
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    result = None
    for line in out.splitlines():
        if line.startswith("PERFBENCH_RESULT "):
            result = json.loads(line[len("PERFBENCH_RESULT "):])
        else:
            print(line)
    if proc.returncode != 0 or result is None:
        fail(f"JVM exited with {proc.returncode}; see {work}/jvm.log")
    with open(os.path.join(work, "result.json"), "w") as fh:
        json.dump(result, fh, indent=1)
    return result


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        fail(f"engine sources not found under {ENGINE_SRC}")
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("BENCHMARK.json not found at the checkout root")
    with open(spec_path) as fh:
        spec = json.load(fh)

    cp = build()
    work = os.path.join(HERE, "work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result = run_jvm(cp, args, work)
    finally:
        for name in os.listdir(work):
            path = os.path.join(work, name)
            if os.path.isdir(path):
                shutil.rmtree(path, ignore_errors=True)

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    got = result["metrics"]
    correct = bool(result["correct"])
    metrics = {}
    for m in wanted:
        v = got.get(m["name"])
        if v is None or not math.isfinite(v):
            if not args.trace:
                print(f"missing end-to-end metric {m['name']}", file=sys.stderr)
                correct = False
            v = 0.0
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    for name, m in metrics.items():
        print(f"{name} {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": correct, "attempted": int(result["attempted"]),
                      "failed": int(result["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
